"""DataFrame sinks: parquet/CSV/JSON writers, hive-style partitioning,
and bucketed tables for shuffle-free co-located joins.

The reference's only tabular sink is a space-delimited CSV (or one file
per key) written on the driver (reference: mr/result_writers/file.py:
10-52 — covered for MR-parity by jobx_spark.result_writers). These are
the *distributed* sinks: executors write in parallel, so throughput
scales with the cluster, and layout choices made here (partition
columns, bucket counts) are what later queries' partition pruning and
join planning feed on.

Layout guidance encoded in the API:
  * ``partition_by`` — low-cardinality columns queries filter on;
    every partition becomes a directory, so 10-10k values is the
    useful range (a billion tiny dirs is worse than none).
  * ``write_bucketed`` — pre-shuffle the table ONCE by the join/agg
    key; every later join between tables bucketed on the same key with
    the same count runs with zero exchanges. At 100 TB, bucket counts
    should put one bucket at 100-500 MB.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame, path: str, header: bool = True, mode: str = "overwrite"
) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    path: str | None = None,
    sort_by: str | None = None,
) -> None:
    """Persist as a bucketed (and bucket-sorted) table.

    Both sides of a frequent join written with the same (column, count)
    make the join exchange-free: Spark reads matching buckets
    pair-wise. ``sort_by`` additionally pre-sorts within buckets so a
    sort-merge join skips its sort.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_by:
        w = w.sortBy(sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Sort-on-write layout: range-partition then sort within partitions
    before writing parquet, so each row group's min/max footer stats
    span a narrow slice of ``sort_cols`` — point/range filters on those
    columns then skip most row groups at scan time (Spark's parquet
    reader prunes on footer stats; at 100 TB this is the difference
    between touching ~selectivity of the data and touching all of it).
    The Z-order-lite for a single dominant filter column: pick the
    column your hottest predicates hit.

    ``repartitionByRange`` samples the data to build balanced ranges —
    one extra job, paid once at write time, amortized over every read.
    """
    parts = df.repartitionByRange(*sort_cols) if n_files is None else (
        df.repartitionByRange(n_files, *sort_cols)
    )
    parts.sortWithinPartitions(*sort_cols).write.mode(mode).parquet(path)


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 6
) -> tuple[DataFrame, "F.Column"]:
    """Z-order (Morton) key over `cols`: each column is quantized into
    2^bits rank buckets via approxQuantile boundaries, and the bucket
    bits are interleaved into one BIGINT. Sorting by that key clusters
    rows so that a range predicate on ANY of the columns maps to a
    contiguous-ish set of row groups — the multi-column generalization
    of :func:`write_sorted` (Delta/Iceberg's OPTIMIZE ZORDER, expressed
    in plain Spark).

    Quantile boundaries come from ``approxQuantile`` — a bounded
    driver-side sketch (Greenwald-Khanna), not a collect; at 100 TB the
    sketch pass is one scan and the boundaries are `2^bits − 1` doubles
    per column, shipped as literals. The per-row bucket is a
    boundary-count fold over that small array — 2^bits comparisons per
    row per column, which is why the default is 6 bits (64 buckets):
    clustering quality at row-group granularity saturates well below
    the row count per group, and the expression stays cheap. Returns
    (df with ``_z`` column, the column) — callers sort by ``_z`` and
    drop it.
    """
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    key = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        cuts = df.approxQuantile(c, probs, 0.001)
        arr = F.array(*[F.lit(float(x)) for x in cuts])
        # bucket = number of boundaries ≤ value (monotone, dense ranks)
        bucket = F.aggregate(
            arr,
            F.lit(0).cast("long"),
            lambda acc, v: acc
            + F.when(v <= F.col(c).cast("double"), 1).otherwise(0).cast("long"),
        )
        # interleave: bit b of this column's bucket lands at position
        # b * n_cols + ci of the z key
        for b in range(bits):
            key = key + (
                F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("long")
                * F.lit(1 << (b * len(cols) + ci)).cast("long")
            )
    return df.withColumn("_z", key), F.col("_z")


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 6,
    n_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered by the Z-order key of `cols` — range
    predicates on any of the columns skip row groups via footer stats
    (verified by the layout test). One sketch pass + one range
    exchange + the write; pay it once, every read on either column
    benefits."""
    zdf, zcol = zorder_key(df, cols, bits)
    parts = (
        zdf.repartitionByRange("_z")
        if n_files is None
        else zdf.repartitionByRange(n_files, "_z")
    )
    parts.sortWithinPartitions("_z").drop("_z").write.mode(mode).parquet(path)


def drop_table(spark: SparkSession, table_name: str) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> None:
    """MERGE-by-key for plain parquet: new rows win over existing rows
    with the same key; among duplicates the highest ``version_col``
    survives (ties broken toward the update batch).

    Implementation is union → per-key top-1 (max_by over a precedence
    struct) → crash-safe swap rewrite (see :func:`finish_swap`).
    Without a table format there is no row-level update in parquet, so
    upsert IS a rewrite — at scale, partition the dataset and rewrite
    only partitions the update batch touches (join the update keys
    against partition values first), or adopt a table format; this
    function is the single-partition core of that loop.
    """
    finish_swap(path)
    existing = spark.read.parquet(path)
    cols = existing.columns
    tagged = existing.withColumn("__prio", F.lit(0)).unionByName(
        updates.select(*cols).withColumn("__prio", F.lit(1))
    )
    precedence = F.struct(F.col(version_col), F.col("__prio"))
    merged = (
        tagged.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in cols]), precedence
            ).alias("__row")
        )
        .select("__row.*")
    )
    tmp, old = _swap_paths(path)
    merged.write.mode("overwrite").parquet(tmp)
    shutil.move(path, old)
    shutil.move(tmp, path)
    shutil.rmtree(old)


def _swap_paths(path: str) -> tuple[str, str]:
    """(new dataset being written, old dataset moved aside) of a swap."""
    base = path.rstrip("/")
    return base + ".upserting", base + ".replaced"


def finish_swap(path: str) -> None:
    """Complete a swap of ``path`` that a crash interrupted.

    The swap moves the old dataset aside, moves the fully written new
    one in, then deletes the old one, so ``path`` is missing only
    between the two moves. A crash there leaves both copies beside it:
    the new one is complete (it was written before the first move), so
    it is moved in. A crash after the second move leaves only the old
    copy to delete. A crash before the first move leaves ``path``
    intact (the next write overwrites the partial new copy)."""
    tmp, old = _swap_paths(path)
    if not os.path.exists(old):
        return
    if not os.path.exists(path):
        shutil.move(tmp if os.path.exists(tmp) else old, path)
    if os.path.exists(old):
        shutil.rmtree(old)
