"""Engine-driven queries: the MapReduce execution loop validated through
the relational oracle gate.

Each query feeds a testdata table through the full engine path
(catalog → handler → bucketed map invocations → combine → reduce →
fold-up) and returns the result as a DataFrame whose values a plain SQL
aggregate reproduces — proving the engine's semantics, not just its
plumbing. Integer arithmetic only, so results are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jobx_spark.engine import Engine
from jobx_spark.handlers import MrConfigureToReturn
from jobx_spark.sources import load_table, local_frame


def _mapper_passthrough(scope, arguments):
    yield MrConfigureToReturn()
    for k, v in arguments:
        yield (k, v)


def _reducer_sum(scope, results):
    totals = {}
    for k, value_list in results:
        totals[k] = totals.get(k, 0) + _deep_sum(value_list)
    for k in sorted(totals, key=str):
        yield (k, totals[k])


def _deep_sum(x):
    if isinstance(x, list):
        return sum(_deep_sum(i) for i in x)
    return x


def _build_engine(spark: SparkSession) -> Engine:
    e = Engine(spark)
    e.create_workflow("mr")
    e.register_handler("mr", "passthrough", fn=_mapper_passthrough, handler_type="mapper")
    e.register_handler("mr", "sum", fn=_reducer_sum, handler_type="reducer")
    e.create_step("mr", "step_sum", "passthrough", "sum")
    e.create_job("mr", "job_sum", "step_sum")
    return e


# --------------------------------------------------------------------------
# mr_engine_event_counts: (event_type, 1) pairs → engine sum per key.
# Oracle: GROUP BY count. Exercises map → bucket combine → leaf reduce →
# root fold across 64 invocations.
# --------------------------------------------------------------------------
def mr_engine_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.concat(F.lit('"'), F.col("event_type"), F.lit('"')).alias("k"),
        F.lit("1").alias("v"),
    )
    engine = _build_engine(spark)
    req = engine.submit_dataset("mr", "job_sum", pairs)
    return local_frame(
        spark,
        [(k, int(v)) for k, v in req.result["pairs"]], schema="k string, v long"
    )


ORACLE_EVENT_COUNTS = """
SELECT event_type AS k, count(*) AS v
FROM events
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# mr_engine_user_value: (user_id, json props.k) pairs → engine sum per
# user. Integer sums, exact; oracle is a straight GROUP BY.
#
# Per-key output is table-scale (one row per user — millions at 100 TB),
# so this rides the engine's distributed result path: the folded output
# is written to parquet by the executors and read back as a DataFrame;
# nothing transits the driver.
# --------------------------------------------------------------------------
def mr_engine_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.lineage import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.col("user_id").cast("string").alias("k"),
        F.get_json_object("props", "$.k").alias("v"),
    )
    engine = _build_engine(spark)
    out = scratch_dir("mr_user_value")
    req = engine.submit_dataset(
        "mr", "job_sum", pairs,
        result_writer="parquet", writer_options={"path": out},
    )
    return (
        req.result_df.select(
            F.col("k").cast("long").alias("k"), F.col("v").cast("long").alias("v")
        )
        .orderBy("k")
    )


ORACLE_USER_VALUE = """
SELECT user_id AS k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS v
FROM events
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# mr_engine_fanout_rekey: the DYNAMIC FAN-OUT path (SURVEY §2.1 #5/#8/#9
# — MrConfigureToMap recursion + hierarchical fold) under the oracle
# gate, not just CI: step_top re-emits every (event_type, value) pair
# to a downstream step; the leaf re-keys each pair by value bucket and
# sums; the parent fold merges children by key. The oracle is the
# two-level semantics collapsed to one SQL aggregate — proving the
# recursive engine path computes exactly a GROUP BY.
# --------------------------------------------------------------------------
def _mapper_fanout(scope, arguments):
    from jobx_spark.handlers import MrConfigureToMap

    yield MrConfigureToMap("step_leaf")
    for k, v in arguments:
        yield (k, v)


def _mapper_rekey(scope, arguments):
    yield MrConfigureToReturn()
    for k, v in arguments:
        yield (f"{k}:{v % 4}", v)


def mr_engine_fanout_rekey(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.concat(F.lit('"'), F.col("event_type"), F.lit('"')).alias("k"),
        F.floor(F.col("value")).cast("long").cast("string").alias("v"),
    )
    engine = Engine(spark)
    engine.create_workflow("mrf")
    engine.register_handler(
        "mrf", "fanout", fn=_mapper_fanout, handler_type="mapper"
    )
    engine.register_handler(
        "mrf", "rekey", fn=_mapper_rekey, handler_type="mapper"
    )
    engine.register_handler(
        "mrf", "sum", fn=_reducer_sum, handler_type="reducer"
    )
    engine.create_step("mrf", "step_top", "fanout", "sum")
    engine.create_step("mrf", "step_leaf", "rekey", "sum")
    engine.create_job("mrf", "job_fanout", "step_top")
    req = engine.submit_dataset("mrf", "job_fanout", pairs)
    return local_frame(
        spark,
        [(k, int(v)) for k, v in req.result["pairs"]], schema="k string, v long"
    ).orderBy("k")


ORACLE_FANOUT_REKEY = """
SELECT event_type || ':' ||
       CAST(CAST(floor(value) AS BIGINT) % 4 AS VARCHAR) AS k,
       CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS v
FROM events
GROUP BY 1
ORDER BY k
"""


# --------------------------------------------------------------------------
# mr_engine_combined_stats — the CUSTOM COMBINER (§2.1 #4) under the
# driver gate: the mapper passes (event_type, floor(value·1000)) pairs
# through, the user combiner pre-merges each invocation's stream to a
# single [min, max, count, sum] state per key (map-side combine, the
# 'groups similar or duplicate map output' contract), and the reducer
# merges states. Combiner transparency — states merge to exactly what
# the raw values aggregate to — is what the plain SQL min/max/count/sum
# oracle proves. Integer arithmetic throughout.
# --------------------------------------------------------------------------
def _combiner_stats(scope, results):
    acc = {}
    for k, v in results:
        v = int(v)
        st = acc.get(k)
        if st is None:
            acc[k] = [v, v, 1, v]
        else:
            st[0] = min(st[0], v)
            st[1] = max(st[1], v)
            st[2] += 1
            st[3] += v
    for k in sorted(acc, key=str):
        yield (k, [acc[k]])


def _reducer_stats(scope, results):
    acc = {}
    for k, value_list in results:
        for st in value_list:
            mn, mx, n, s = st
            cur = acc.get(k)
            if cur is None:
                acc[k] = [mn, mx, n, s]
            else:
                cur[0] = min(cur[0], mn)
                cur[1] = max(cur[1], mx)
                cur[2] += n
                cur[3] += s
    for k in sorted(acc, key=str):
        yield (k, acc[k])


def mr_engine_combined_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select(
        F.concat(F.lit('"'), F.col("event_type"), F.lit('"')).alias("k"),
        F.floor(F.col("value") * 1000).cast("long").cast("string").alias("v"),
    )
    engine = _build_engine(spark)
    engine.register_handler(
        "mr", "stats_comb", fn=_combiner_stats, handler_type="combiner"
    )
    engine.register_handler(
        "mr", "stats_red", fn=_reducer_stats, handler_type="reducer"
    )
    engine.create_step("mr", "step_stats", "passthrough", "stats_red", "stats_comb")
    engine.create_job("mr", "job_stats", "step_stats")
    req = engine.submit_dataset("mr", "job_stats", pairs)
    rows = [
        (k, int(st[0]), int(st[1]), int(st[2]), int(st[3]))
        for k, st in req.result["pairs"]
    ]
    return local_frame(
        spark,
        rows, schema="k string, v_min long, v_max long, n long, v_sum long"
    ).orderBy("k")


ORACLE_COMBINED_STATS = """
SELECT event_type AS k,
       CAST(min(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v_min,
       CAST(max(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v_max,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v_sum
FROM events
GROUP BY event_type
ORDER BY k
"""


QUERIES = {
    "mr_engine_combined_stats": mr_engine_combined_stats,
    "mr_engine_fanout_rekey": mr_engine_fanout_rekey,
    "mr_engine_event_counts": mr_engine_event_counts,
    "mr_engine_user_value": mr_engine_user_value,
}

ORACLES = {
    "mr_engine_combined_stats": ORACLE_COMBINED_STATS,
    "mr_engine_fanout_rekey": ORACLE_FANOUT_REKEY,
    "mr_engine_event_counts": ORACLE_EVENT_COUNTS,
    "mr_engine_user_value": ORACLE_USER_VALUE,
}
