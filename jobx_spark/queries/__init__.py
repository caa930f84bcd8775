"""Query registry: every implemented operator exposed as a named query.

Each submodule contributes ``QUERIES`` (name → fn(spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → equivalent DuckDB SQL). The driver's
correctness gate runs both sides at sf0.01 and hash-compares values, so
every query here is written for *bit-deterministic* output (see
jobx_spark.functions for the decimal-sum and portable-hash techniques).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _utc_pinned(fn: QueryFn) -> QueryFn:
    """The driver hands us its own SparkSession; date/time functions are
    session-timezone dependent and the DuckDB oracle is UTC-naive, so
    every query pins UTC (and Arrow, AQE) before building its plan."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from jobx_spark.session import tune_for_session

        tune_for_session(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


def all_queries() -> dict[str, QueryFn]:
    from jobx_spark.queries import (
        dedup, mapreduce, multimodal, pipeline, relational, similarity,
        streams, temporal, text,
    )

    out: dict[str, QueryFn] = {}
    for mod in (dedup, similarity, text, multimodal, mapreduce,
                streams, pipeline, temporal, relational):
        out.update(mod.QUERIES)
    return {name: _utc_pinned(fn) for name, fn in out.items()}


def all_oracles() -> dict[str, str]:
    from jobx_spark.queries import (
        dedup, mapreduce, multimodal, pipeline, relational, similarity,
        streams, temporal, text,
    )

    out: dict[str, str] = {}
    for mod in (dedup, similarity, text, multimodal, mapreduce,
                streams, pipeline, temporal, relational):
        out.update(mod.ORACLES)
    return out
