"""Write-path and skew-handling coverage: the crash-safe parquet
upsert, format round trips and layouts through the package session's
own readers and writers (partition pruning, sort-on-write row-group
skipping under the session's timestamp encoding), and salted
aggregation/join equivalence."""

import pytest
from pyspark.sql import functions as F

from jobx_spark import plans as P
from jobx_spark.operators.skew import salted_aggregate, salted_join
from jobx_spark.sources import load_table
from jobx_spark.sources.sinks import upsert_parquet


def test_upsert_parquet_merges_by_key(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_upsert")
    cust.write.parquet(path)
    n0 = cust.count()
    # updates: bump two existing customers' balance (higher version) and
    # add one brand-new key
    updates = spark.createDataFrame(
        [
            (0, "updated-0", 0, 99999.0, "BUILDING"),
            (1, "updated-1", 0, 88888.0, "BUILDING"),
            (10_000_000, "brand-new", 0, 1.0, "MACHINERY"),
        ],
        schema=cust.schema,
    ).withColumn("c_acctbal", F.col("c_acctbal").cast("double"))
    upsert_parquet(
        spark, path, updates, key_cols=["c_custkey"], version_col="c_acctbal"
    )
    back = spark.read.parquet(path)
    assert back.count() == n0 + 1
    got = {
        r["c_custkey"]: r["c_name"]
        for r in back.filter(
            F.col("c_custkey").isin([0, 1, 10_000_000])
        ).collect()
    }
    assert got[0] == "updated-0" and got[1] == "updated-1"
    assert got[10_000_000] == "brand-new"


def test_upsert_parquet_survives_a_crash_mid_swap(spark, tmp_path, monkeypatch):
    """A crash between the swap's two filesystem steps loses no key: the
    next upsert completes the swap first, so every earlier key and both
    batches' updates survive."""
    import shutil

    path = str(tmp_path / "kv")
    schema = "key long, ver long"
    spark.createDataFrame([(i, 0) for i in range(20)], schema).write.parquet(path)
    move = shutil.move

    def crash_moving_into_path(src, dst):
        if dst == path:
            raise OSError("crash between the swap's steps")
        return move(src, dst)

    monkeypatch.setattr(shutil, "move", crash_moving_into_path)
    with pytest.raises(OSError):
        upsert_parquet(
            spark, path, spark.createDataFrame([(3, 1), (20, 1)], schema),
            key_cols=["key"], version_col="ver",
        )
    monkeypatch.setattr(shutil, "move", move)
    upsert_parquet(
        spark, path, spark.createDataFrame([(4, 2), (21, 2)], schema),
        key_cols=["key"], version_col="ver",
    )
    got = {r["key"]: r["ver"] for r in spark.read.parquet(path).collect()}
    want = {i: 0 for i in range(20)} | {3: 1, 20: 1, 4: 2, 21: 2}
    assert got == want


def test_csv_round_trip(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    path = str(tmp_path / "orders_csv")
    orders.write.option("header", "true").csv(path)
    back = spark.read.option("header", "true").schema(orders.schema).csv(path)
    assert back.count() == orders.count()
    assert sorted(back.columns) == sorted(orders.columns)
    a = {tuple(r) for r in orders.select("o_orderkey", "o_totalprice").collect()}
    b = {tuple(r) for r in back.select("o_orderkey", "o_totalprice").collect()}
    assert a == b


def test_json_round_trip(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer").limit(50)
    path = str(tmp_path / "cust_json")
    cust.write.json(path)
    back = spark.read.schema(cust.schema).json(path)
    assert back.count() == cust.count()


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    part = load_table(spark, sf_dir, "part")
    path = str(tmp_path / "part_orc")
    part.write.orc(path)
    back = spark.read.orc(path).filter(F.col("p_size") <= 10).select(
        "p_partkey", "p_size"
    )
    plan = P.plan_str(back)
    # ORC scan must receive the pushed predicate and prune columns
    assert "PushedFilters" in plan and "p_size" in plan
    expected = part.filter(F.col("p_size") <= 10).count()
    assert back.count() == expected
    a = {tuple(r) for r in part.filter(F.col("p_size") <= 10)
         .select("p_partkey", "p_size").collect()}
    b = {tuple(r) for r in back.collect()}
    assert a == b


def test_parquet_schema_evolution_merge(spark, sf_dir, tmp_path):
    """Schema evolution across appended batches: a later batch adds a
    column; mergeSchema reads union the schemas, old rows null-fill.
    This is how a long-lived 100 TB dataset takes new columns without
    rewriting history."""
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "evolving")
    docs.select("doc_id", "lang").write.parquet(path)
    docs.select(
        "doc_id", "lang", F.length("text").alias("text_len")
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"doc_id", "lang", "text_len"}
    n = docs.count()
    assert merged.count() == 2 * n
    # exactly the first batch's rows have the null-filled new column
    assert merged.filter(F.col("text_len").isNull()).count() == n
    # and the evolved column round-trips its values for the second batch
    expect = docs.agg(F.sum(F.length("text"))).collect()[0][0]
    assert merged.agg(F.sum("text_len")).collect()[0][0] == expect


def test_text_source_reads_lines(spark, tmp_path):
    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.txt").write_text("alpha beta\ngamma\n")
    (p / "b.txt").write_text("delta\n")
    df = spark.read.text(str(p))
    assert df.columns == ["value"]
    assert sorted(r.value for r in df.collect()) == [
        "alpha beta", "delta", "gamma",
    ]
    # must be the text() kwarg: an .option() string is ignored by the
    # reader
    whole = spark.read.text(str(p), wholetext=True)
    assert whole.count() == 2  # one row per file


def test_partitioned_parquet_prunes_partitions(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_part")
    ev.write.partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = P.plan_str(back)
    # the filter must prune directories, not scan-and-filter
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]
    expected = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == expected


def test_salted_aggregate_matches_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    salted = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n": F.count("*"),
            "max_qty": F.max("l_quantity"),
            "min_qty": F.min("l_quantity"),
        },
        n_salts=8,
    )
    direct = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_quantity").alias("min_qty"),
    )
    assert {tuple(r) for r in salted.collect()} == {tuple(r) for r in direct.collect()}


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    )
    salted = salted_join(li, orders, "l_orderkey", n_salts=4)
    plain = li.join(orders, "l_orderkey")
    assert salted.count() == plain.count()
    a = {tuple(r) for r in salted.select("l_orderkey", "l_quantity", "o_totalprice").collect()}
    b = {tuple(r) for r in plain.select("l_orderkey", "l_quantity", "o_totalprice").collect()}
    assert a == b


def test_write_sorted_enables_row_group_skipping(spark, sf_dir, tmp_path):
    """Sort-on-write must produce parquet whose row-group min/max stats
    actually prune: for a narrow shipdate range, the sorted layout
    leaves most row groups skippable while the natural (orderkey) order
    leaves nearly all of them overlapping the predicate. The timestamps
    are written in the session's default encoding (micros: INT96
    carries no footer stats)."""
    import glob

    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    unsorted_path = str(tmp_path / "unsorted")
    sorted_path = str(tmp_path / "sorted")
    # small row groups so both layouts have enough groups to measure
    spark.conf.set("spark.hadoop.parquet.block.size", str(64 * 1024))
    li.repartition(4).write.parquet(unsorted_path)
    li.repartitionByRange(4, "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    ).write.parquet(sorted_path)
    spark.conf.unset("spark.hadoop.parquet.block.size")

    lo = li.selectExpr("min(l_shipdate)").first()[0]
    hi = li.selectExpr(
        "min(l_shipdate) + INTERVAL 30 DAYS"
    ).first()[0]

    def prunable_fraction(path: str) -> tuple[int, float]:
        total = kept = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx["l_shipdate"]).statistics
                total += 1
                # footer stats decode tz-aware; Spark rows are naive UTC
                mn = st.min.replace(tzinfo=None)
                mx = st.max.replace(tzinfo=None)
                if mn <= hi and mx >= lo:  # overlaps -> must read
                    kept += 1
        return total, 1 - kept / total

    n_u, frac_u = prunable_fraction(unsorted_path)
    n_s, frac_s = prunable_fraction(sorted_path)
    assert n_u >= 4 and n_s >= 4, "need several row groups to compare"
    # sorted layout: the 30-day slice lives in few groups
    assert frac_s >= 0.5, f"sorted layout prunes too little: {frac_s:.2f}"
    # natural order: shipdates are scattered, almost nothing prunes
    assert frac_u <= 0.25, f"unsorted unexpectedly prunable: {frac_u:.2f}"
    assert frac_s > frac_u


def test_binary_file_source_feeds_asset_pipeline(spark, tmp_path):
    """binaryFile scan → asset convention → metadata pass: real bytes
    round-trip (content intact, digest over the actual file payload),
    and pathGlobFilter prunes non-asset files at listing time."""
    import hashlib

    from pyspark.sql import functions as F

    from jobx_spark.operators.multimodal import payload_metadata

    payloads = {f"a{i}.png": bytes([i, 255 - i]) * 40 for i in range(4)}
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "notes.txt").write_bytes(b"not an asset")

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load(str(tmp_path))
    )
    assert raw.count() == 4  # the .txt file never listed

    assets = raw.select(
        F.regexp_extract(F.col("path"), r"a(\d+)\.png$", 1)
        .cast("bigint")
        .alias("asset_id"),
        F.lit("image/png").alias("kind"),
        F.col("content").alias("data"),
        F.col("length").cast("bigint").alias("src_len"),
    )
    meta = {r["asset_id"]: r for r in payload_metadata(assets).collect()}
    for i in range(4):
        expected = payloads[f"a{i}.png"]
        assert meta[i]["src_len"] == len(expected)
        assert meta[i]["digest"] == hashlib.md5(expected).hexdigest()
