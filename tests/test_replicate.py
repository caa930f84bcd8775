"""The corpus-replication kernel behind the ``*_scaled`` rows:
``sources.replicate`` (Spark) and ``sources.replicate_sql`` (DuckDB)
must produce the same rows, shift each replica's id by ``rep·10⁹`` into
its own disjoint range, and leave a single replica equal to the input."""

import pytest
from pyspark.sql import functions as F

from jobx_spark.oracle import compare, duck_connect
from jobx_spark.sources import (
    REPLICA_ID_STEP,
    REPLICAS,
    load_table,
    replicate,
    replicate_sql,
)

TABLES = [("documents", "doc_id"), ("embeddings", "vec_id"), ("events", "user_id")]


@pytest.mark.parametrize("table, id_col", TABLES)
def test_spark_and_duckdb_replicas_agree(spark, sf_dir, table, id_col):
    df = replicate(load_table(spark, sf_dir, table), id_col, REPLICAS)
    sql = replicate_sql(table, id_col, REPLICAS)
    res = compare(f"replicate:{table}", df, duck_connect(sf_dir), sql)
    assert res.ok, str(res)
    assert res.spark_rows > 0


@pytest.mark.parametrize("table, id_col", TABLES)
def test_replica_ids_shift_into_disjoint_ranges(spark, sf_dir, table, id_col):
    base = load_table(spark, sf_dir, table)
    ids = sorted(r[0] for r in base.select(id_col).collect())
    rows = replicate(base, id_col, REPLICAS).select(id_col, "rep").collect()
    by_rep: dict[int, list[int]] = {}
    for r in rows:
        by_rep.setdefault(r["rep"], []).append(r[id_col])
    assert sorted(by_rep) == list(range(REPLICAS))
    for rep, got in by_rep.items():
        assert sorted(i - rep * REPLICA_ID_STEP for i in got) == ids
    ranges = [set(got) for got in by_rep.values()]
    assert sum(len(s) for s in ranges) == len(set().union(*ranges))


@pytest.mark.parametrize("table, id_col", TABLES)
def test_single_replica_is_the_input(spark, sf_dir, table, id_col):
    base = load_table(spark, sf_dir, table)
    one = replicate(base, id_col, 1)
    assert one.columns == base.columns + ["rep"]
    assert one.filter(F.col("rep") != 0).count() == 0
    one = one.drop("rep")
    assert one.exceptAll(base).count() == 0
    assert base.exceptAll(one).count() == 0
