"""Table loaders, the replication policy of the scale rows, and
driver-built frames.

The reference engine's only data source is the HTTP ``arguments`` dict
(reference: mr/views/job.py:18-31); file formats appear only as output
sinks. Our queries read the testdata tables as parquet scans, so scans
prune columns and push predicates into the parquet footers; any other
format is one ``spark.read`` call away and needs no wrapper here.

Driver-built rows (request arguments, collected centroids, probe and
lookup tables, empty results) enter Spark only through
:func:`local_frame`. ``spark.createDataFrame(<list>)`` plans a
``LogicalRDD``, so every action that scans it first runs a Python-worker
task wave just to unpickle the rows (0.3-0.5 s on 4 cores, even for an
empty list); an Arrow table becomes a JVM ``LocalRelation`` that no
Python task has to read, and whose size statistics let the planner
broadcast it. ``tests/test_local_frame.py`` keeps ``createDataFrame``
out of the rest of the package.
"""

from __future__ import annotations

import os

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan → Catalyst gets pushdown,
    pruning and row-group skipping for free; never cache here (caching
    100 TB is not a plan).

    ``events.ts`` is written as TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects; we read nanos as raw INT64 and truncate to
    microseconds — exactly what DuckDB does when it casts TIMESTAMP_NS
    to its microsecond TIMESTAMP, so both engines see identical values.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)


# Corpus replication for the scale rows: ``n`` copies of a table in
# disjoint id ranges (``id + rep·REPLICA_ID_STEP``), every other column
# verbatim, so replicas of one row tie exactly on content. Spark and
# DuckDB twins, one policy.
REPLICAS = 8
REPLICA_ID_STEP = 10**9


def replicate(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """``df`` copied ``n`` times, ``id_col`` shifted by ``rep·10⁹`` (as
    long); keeps the frame's column order and appends ``rep`` (long)."""
    rep = F.explode(F.array(*[F.lit(i) for i in range(n)]).cast("array<bigint>"))
    shifted = F.col(id_col).cast("long") + F.col("rep") * F.lit(REPLICA_ID_STEP)
    return df.select("*", rep.alias("rep")).select(
        *[shifted.alias(c) if c == id_col else F.col(c) for c in df.columns],
        "rep",
    )


def replicate_sql(table: str, id_col: str, n: int) -> str:
    """DuckDB twin of :func:`replicate` over ``table`` (a name or a
    parenthesized subquery)."""
    return (
        f"SELECT t.* REPLACE ({id_col} + r.rep * {REPLICA_ID_STEP} AS {id_col}),"
        f" r.rep FROM {table} AS t CROSS JOIN range({n}) AS r(rep)"
    )


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: str
) -> DataFrame:
    """Driver-side ``rows`` (tuples or dicts) as a DataFrame of the DDL
    ``schema``, planned as a ``LocalRelation``.

    Rows get the same type check ``createDataFrame(rows, schema)``
    applies (a float in a bigint column raises instead of being
    truncated by the Arrow conversion)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

    struct = _parse_datatype_string(schema)
    verify = _make_type_verifier(struct)
    names = struct.names
    cols: list[list] = [[] for _ in names]
    for row in rows:
        verify(row)
        values = (row.get(n) for n in names) if isinstance(row, dict) else row
        for col, value in zip(cols, values):
            col.append(value)
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
