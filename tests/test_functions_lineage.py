"""Direct unit tests for the two foundations everything else leans on:
the cross-engine determinism helpers (`jobx_spark.functions`) and
reliable lineage truncation (`jobx_spark.lineage`). Both are exercised
transitively by every oracle test; these pin their contracts down
explicitly so a regression fails HERE, not as 40 mysterious hash
mismatches."""

import os
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from jobx_spark.functions import (
    MINHASH_P,
    dsum,
    dsum_sql,
    md5_long,
    md5_long_sql_duck,
    minhash_coeffs,
    perm_hash,
)
from jobx_spark.lineage import checkpoint_root, cut_lineage, scratch_dir


# ------------------------------------------------------------ portable hash
def test_md5_long_matches_duckdb_rendering(spark):
    samples = ["", "a", "hello world", "Ünïcodé ✓", "0" * 200, "line\nbreak"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r["s"]: r["h"] for r in df.select("s", md5_long(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for s in samples:
        (want,) = con.execute(
            f"SELECT {md5_long_sql_duck('?')}", [s]
        ).fetchone()
        assert got[s] == want, s
        assert 0 <= got[s] < 2**60


def test_perm_hash_family_stays_in_modulus(spark):
    coeffs = minhash_coeffs(8, seed=7)
    assert len(set(coeffs)) == 8
    df = spark.createDataFrame([(f"tok{i}",) for i in range(100)], "s string")
    base = md5_long(F.col("s"))
    a, b = coeffs[0]
    vals = [r["p"] for r in df.select(perm_hash(base, a, b).alias("p")).collect()]
    assert all(0 <= v < MINHASH_P for v in vals)


# ------------------------------------------------------------ decimal sums
def test_dsum_is_order_independent_and_exact(spark):
    # doubles chosen so naive float summation order matters
    vals = [1e15, 3.14, -1e15, 2.71828, 1e-6, 123456.789012] * 50
    exact = float(sum(Decimal(repr(v)) for v in vals).quantize(Decimal("1e-8")))
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    for parts in (1, 7, 32):
        (got,) = df.repartition(parts).agg(dsum("x").alias("s")).first()
        assert got == pytest.approx(exact, abs=1e-8)
    # and the two partitionings agree BIT-exactly with each other
    (a,) = df.repartition(3).agg(dsum("x").alias("s")).first()
    (b,) = df.repartition(17).agg(dsum("x").alias("s")).first()
    assert a == b


def test_dsum_matches_duckdb_beyond_2_53(spark):
    # scaled-integer total past 2^53: the documented case where
    # DuckDB's direct DECIMAL->DOUBLE cast double-rounds and the
    # string round-trip is required.
    vals = [123456789.12345678] * 1000
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    (got,) = df.agg(dsum("x").alias("s")).first()
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?::DOUBLE[]) AS x", [vals])
    (want,) = con.execute(f"SELECT {dsum_sql('x')} FROM t").fetchone()
    assert got == want  # bit-exact, not approx


# ------------------------------------------------------------ lineage cuts
def test_cut_lineage_preserves_rows_and_truncates_plan(spark):
    df = (
        spark.range(1000)
        .withColumn("g", F.col("id") % 7)
        .groupBy("g")
        .agg(F.sum("id").alias("s"))
    )
    cut = cut_lineage(df, "unit")
    assert sorted(map(tuple, cut.collect())) == sorted(map(tuple, df.collect()))
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan and "HashAggregate" not in plan
    assert cut.schema == df.schema


def test_cut_lineage_runs_no_job_beyond_its_write(spark):
    """The cut reads its files back with the schema it just wrote, so it
    runs the jobs of its write and no footer-inference job."""
    import uuid

    df = spark.range(100).select("id", (F.col("id") * 2).alias("v"))
    sc = spark.sparkContext

    def n_jobs(fn) -> int:
        group = f"cut-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    write_jobs = n_jobs(lambda: df.write.parquet(scratch_dir("write") + "/t"))
    assert write_jobs >= 1
    assert n_jobs(lambda: cut_lineage(df, "jobs")) == write_jobs


def test_checkpoint_root_is_stable_and_scratch_dirs_are_fresh(spark):
    root = checkpoint_root()
    assert root == checkpoint_root()
    d1, d2 = scratch_dir("t"), scratch_dir("t")
    assert d1 != d2
    assert os.path.isdir(d1) and os.path.isdir(d2)
    assert d1.startswith(root) and d2.startswith(root)
