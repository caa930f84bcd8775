"""Streaming queries exposed through the driver contract.

Each query opens the events table as a *file-source stream*, runs a
Structured Streaming aggregation to completion with AvailableNow, and
returns the materialized result — so the correctness gate verifies the
streaming operators against the same DuckDB oracles as the batch
surface. The window semantics (UTC-aligned tumbling buckets, two-window
sliding membership, 30-minute-gap sessions) are restated independently
in the oracle SQL rather than echoing Spark's implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jobx_spark import streaming as S
from jobx_spark.functions import dsum_sql
from jobx_spark.queries.pipeline import _pii_oracle
from jobx_spark.sources import REPLICAS, replicate, replicate_sql


def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.tumbling_window_agg(ev), "complete", "tumbling")
    return out.orderBy("window_start", "event_type")


ORACLE_STREAM_TUMBLING = f"""
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type,
       count(*) AS n,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.sliding_window_agg(ev), "complete", "sliding")
    return out.orderBy("window_start", "event_type")


# An event at time t belongs to the two 2-hour windows starting at
# hour(t) and hour(t) - 1h.
ORACLE_STREAM_SLIDING = """
SELECT date_trunc('hour', ts) - off * INTERVAL 1 HOUR AS window_start,
       date_trunc('hour', ts) - off * INTERVAL 1 HOUR + INTERVAL 2 HOUR AS window_end,
       event_type,
       count(*) AS n
FROM events
CROSS JOIN (VALUES (0), (1)) AS offs(off)
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.session_window_agg(ev), "complete", "session")
    return out.orderBy("user_id", "session_start")


# Gap-based sessionization restated with window functions: a new session
# starts when the gap from the previous event reaches 30 minutes
# (session_window merges only while the new event is strictly inside
# previous-end = prev_ts + 30 min); session end = last event + 30 min.
ORACLE_STREAM_SESSION = """
WITH stamped AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessioned AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM stamped
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sessioned
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.stream_events(spark, sf_dir)
    snapshot = S.run_available_now(
        S.stateful_user_stats(ev), "update", "user_stats"
    )
    return S.finalize_update_stream(snapshot).orderBy("user_id")


ORACLE_STREAM_STATEFUL = """
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev1 = S.stream_events(spark, sf_dir)
    ev2 = S.stream_events(spark, sf_dir)
    out = S.run_available_now(
        S.interval_join(ev1, ev2, "inner"), "append", "ivjoin"
    )
    return out.orderBy("purchase_id", "click_id")


ORACLE_STREAM_INTERVAL_JOIN = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
ORDER BY purchase_id, click_id
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.sources import load_table

    ev = S.stream_events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    out = S.run_available_now(S.static_enrich_agg(ev, cust), "complete", "enrich")
    return out.orderBy("c_mktsegment", "event_type")


ORACLE_STREAM_STATIC_ENRICH = f"""
SELECT c_mktsegment, event_type, count(*) AS n,
       {dsum_sql('value')} AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment, event_type
ORDER BY c_mktsegment, event_type
"""


def stream_dedup_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.streaming_dedup(ev), "append", "dedup")
    return out.orderBy("user_id", "event_type", "day")


# Every kept column is in the dedup key, so streaming first-wins dedup
# is exactly batch DISTINCT over the same projection.
ORACLE_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events
ORDER BY user_id, event_type, day
"""


def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev1 = S.stream_events(spark, sf_dir)
    ev2 = S.stream_events(spark, sf_dir)
    out = S.run_available_now(
        S.interval_join(ev1, ev2, "left_outer"), "append", "lojoin"
    )
    return out.orderBy("purchase_id", "click_id")


# Matched rows ≡ the inner interval join. Null rows are watermark-gated:
# matching clicks satisfy c.ts <= p.ts (they *precede* the purchase),
# so a purchase's match window is already closed once the watermark
# passes p.ts — unmatched purchases emit iff p.ts < watermark, and the
# open tail stays withheld. The global watermark is the MIN across both
# sides' watermark operators (each side tracks its own filtered max
# event time), truncated to milliseconds, minus the 2 h delay. The
# oracle restates that eviction rule in SQL.
ORACLE_STREAM_LEFT_OUTER = """
WITH mx AS (
  SELECT make_timestamp(epoch_ms(least(
           max(CASE WHEN event_type = 'purchase' THEN ts END),
           max(CASE WHEN event_type = 'click'    THEN ts END))) * 1000)
         AS m
  FROM events
),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click'),
matched AS (
  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
         c.event_id AS click_id, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
),
evicted AS (
  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
         CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS gap_us
  FROM p, mx
  WHERE p.ts < mx.m - INTERVAL 2 HOUR
    AND NOT EXISTS (
      SELECT 1 FROM c WHERE c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    )
)
SELECT * FROM matched
UNION ALL
SELECT * FROM evicted
ORDER BY purchase_id, click_id
"""


def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev1 = S.stream_events(spark, sf_dir)
    ev2 = S.stream_events(spark, sf_dir)
    out = S.run_available_now(
        S.interval_join(ev1, ev2, "full_outer"), "append", "fojoin"
    )
    return out.orderBy("purchase_id", "click_id")


# Matched rows ≡ the inner interval join; null rows are watermark-gated
# PER SIDE (see interval_join): unmatched purchases emit iff
# p.ts < watermark (their window closes at p.ts), unmatched clicks iff
# c.ts + 1h < watermark (they can match purchases up to c.ts + 1h).
# Watermark = min of both sides' max event time, ms-truncated, minus
# the 2 h delay — same rule the attested left-outer oracle restates.
ORACLE_STREAM_FULL_OUTER = """
WITH mx AS (
  SELECT make_timestamp(epoch_ms(least(
           max(CASE WHEN event_type = 'purchase' THEN ts END),
           max(CASE WHEN event_type = 'click'    THEN ts END))) * 1000)
         AS m
  FROM events
),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
c AS (SELECT * FROM events WHERE event_type = 'click'),
matched AS (
  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
         c.event_id AS click_id, epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
),
evicted_p AS (
  SELECT p.event_id AS purchase_id, p.user_id AS user_id,
         CAST(NULL AS BIGINT) AS click_id, CAST(NULL AS BIGINT) AS gap_us
  FROM p, mx
  WHERE p.ts < mx.m - INTERVAL 2 HOUR
    AND NOT EXISTS (
      SELECT 1 FROM c WHERE c.user_id = p.user_id
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    )
),
evicted_c AS (
  SELECT CAST(NULL AS BIGINT) AS purchase_id, c.user_id AS user_id,
         c.event_id AS click_id, CAST(NULL AS BIGINT) AS gap_us
  FROM c, mx
  WHERE c.ts + INTERVAL 1 HOUR < mx.m - INTERVAL 2 HOUR
    AND NOT EXISTS (
      SELECT 1 FROM p WHERE p.user_id = c.user_id
        AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    )
)
SELECT * FROM matched
UNION ALL
SELECT * FROM evicted_p
UNION ALL
SELECT * FROM evicted_c
ORDER BY purchase_id, click_id
"""


def stream_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev1 = S.stream_events(spark, sf_dir)
    ev2 = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.replay_dedup(ev1, ev2), "append", "replay")
    return out.orderBy("event_id")


# Double delivery collapsed by event_id: the result is exactly the
# original events (ids are unique), proving at-least-once → exactly-once.
ORACLE_STREAM_REPLAY_DEDUP = """
SELECT event_id, user_id, event_type, ts, value
FROM events
ORDER BY event_id
"""


def stream_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.timeout_sessions(ev), "append", "tosess")
    return out.orderBy("user_id", "session_start")


# Same gap-session definition as ORACLE_STREAM_SESSION, restricted to
# sessions the event-time timeout can have fired for: the zero-delay
# watermark at end-of-input is floor-to-ms(max ts), and a session is
# closeable iff its last event + 30 min ≤ that watermark. Sessions still
# inside the gap at stream end stay open (unemitted) — the honest
# semantics of continuous sessionization, restated here in SQL.
ORACLE_STREAM_TIMEOUT_SESSIONS = """
WITH stamped AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessioned AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM stamped
), sess AS (
  SELECT user_id,
         MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(count(*) AS BIGINT) AS n_events,
         MAX(epoch_us(ts)) AS last_us
  FROM sessioned
  GROUP BY user_id, session_id
)
SELECT user_id, session_start, session_end, n_events
FROM sess, (SELECT epoch_ms(max(ts)) * 1000 AS wm_us FROM events)
WHERE last_us + 1800 * 1000000 <= wm_us
ORDER BY user_id, session_start
"""


def stream_sink_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuously-maintained aggregate TABLE: the tumbling
    aggregation streamed in update mode into a keyed parquet state via
    foreachBatch MERGE (``stream_upsert_parquet``) — the production
    pattern where readers query the rollup table directly while the
    stream keeps it current. Update mode emits only changed keys per
    micro-batch; the per-key MERGE keeps the row with the highest
    running count (counts are monotone), so the table converges to the
    complete aggregation — which is exactly what the batch oracle
    computes. This puts the file-sink/MERGE machinery itself, not just
    the in-memory results, under the correctness gate."""
    from jobx_spark.lineage import scratch_dir

    ev = S.stream_events(spark, sf_dir)
    # replay semantics: the watermark must cover the dataset's span so
    # no batch's events count as late (see tumbling_window_agg docs);
    # rollup state is bounded by windows × types regardless.
    agg = S.tumbling_window_agg(ev, watermark="3650 days")
    root = scratch_dir("stream_rollup")
    state, ckpt = f"{root}/state", f"{root}/ckpt"
    S.stream_upsert_parquet(
        agg, state, ckpt,
        key_cols=["window_start", "event_type"],
        version_col="n",
        output_mode="update",
        name="rollup_merge",
    )
    return (
        spark.read.parquet(state)
        .select("window_start", "window_end", "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
    )


# same semantics as the memory-sink tumbling aggregation — the sink
# machinery is what differs
ORACLE_STREAM_SINK_ROLLUP = ORACLE_STREAM_TUMBLING


def stream_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch PII-redaction rollup (`pipe_pii_scrub`) applied to the
    SAME events as a stream — literally the same plan fragment
    (`pii_scrub_rollup`), demonstrating batch/stream unification: a
    stateless expression chain needs no watermark, the complete-mode
    aggregation over AvailableNow input is exactly the batch GROUP BY,
    and the oracle IS the batch oracle."""
    from jobx_spark.queries.pipeline import pii_scrub_rollup

    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(
        pii_scrub_rollup(ev.select("event_type", "props")), "complete", "pii"
    )
    return out.orderBy("event_type")


def stream_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator #3: per-user running 3σ
    anomaly flags (integer-exact moments; events held in state until
    the watermark finalizes their prefix — see
    streaming._zscore_anomaly_fn). The oracle restates the running
    prefix with window functions over (ts, event_id) order; the open
    tail (events at the stream's final max timestamp) is withheld on
    both sides."""
    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.zscore_anomaly(ev), "append", "zscore")
    return out.orderBy("event_id")


ORACLE_STREAM_ZSCORE = """
WITH scaled AS (
  SELECT event_id, user_id, ts,
         CAST(floor(value * 1000) AS BIGINT) AS v_s
  FROM events
), run AS (
  SELECT event_id, user_id, ts, v_s,
         CAST(count(*) OVER wprior AS BIGINT) AS n_prior,
         CAST(coalesce(SUM(v_s) OVER wprior, 0) AS BIGINT) AS sum_s,
         CAST(coalesce(SUM(v_s * v_s) OVER wprior, 0) AS BIGINT) AS ssq_s
  FROM scaled
  WINDOW wprior AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts, v_s AS value_s, n_prior
FROM run
WHERE n_prior >= 5
  AND (n_prior * v_s - sum_s) * (n_prior * v_s - sum_s)
      > 9 * (n_prior * ssq_s - sum_s * sum_s)
  AND epoch_us(ts) < (SELECT max(epoch_us(ts)) FROM events)
ORDER BY event_id
"""


def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending dashboard: the continuously-maintained tumbling rollup
    (the streaming agg) post-ranked to each window's top-3 event types
    — the standard 'streaming rollup feeds a batch rank' serving
    pattern. The rank runs over the materialized rollup (windows ×
    types rows), never the event stream."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ev = S.stream_events(spark, sf_dir)
    counts = S.run_available_now(
        S.tumbling_window_agg(ev), "complete", "trending"
    )
    w = W.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("window_start", "event_type", "n", "rank")
        .orderBy("window_start", "rank")
    )


ORACLE_STREAM_TOPK = """
WITH counts AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT window_start, event_type, n,
         CAST(row_number() OVER (PARTITION BY window_start
              ORDER BY n DESC, event_type ASC) AS INTEGER) AS rank
  FROM counts
)
SELECT window_start, event_type, n, rank
FROM ranked WHERE rank <= 3
ORDER BY window_start, rank
"""


def stream_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregations (two stateful operators in one
    append-mode query): per-window exact distinct-user counts — the
    streaming rewrite of count_distinct. Only watermark-closed windows
    emit; the oracle restates the two-level aggregation and withholds
    the open tail identically."""
    ev = S.stream_events(spark, sf_dir)
    out = S.run_available_now(S.windowed_distinct_users(ev), "append", "wdist")
    return out.orderBy("window_start", "event_type")


ORACLE_STREAM_WINDOW_DISTINCT = """
WITH per_user AS (
  SELECT date_trunc('hour', ts) AS ws, event_type, user_id,
         count(*) AS n
  FROM events GROUP BY 1, 2, 3
)
SELECT ws AS window_start,
       ws + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM per_user
WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
GROUP BY 1, 2, 3
ORDER BY window_start, event_type
"""


# --------------------------------------------------------------------------
# stream_hll_cards — continuously-maintained HLL cardinality sketch:
# per-event-type distinct-user registers, updated each micro-batch via
# the same keyed MERGE sink as stream_sink_rollup (version precedence =
# max_rho — HLL's combine IS max, so the streaming merge is the sketch
# merge). Because HLL state is order/batching-independent, the
# incrementally-maintained table equals the one-shot batch sketch
# exactly — which is what the oracle computes, registers and estimate
# both. The production shape: a 64-row-per-key cardinality dashboard
# that never rescans history.
# --------------------------------------------------------------------------
def stream_hll_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.functions import md5_long
    from jobx_spark.lineage import scratch_dir
    from jobx_spark.operators.sketches import (
        HLL_EST_NUM,
        HLL_M,
        HLL_P,
        HLL_WBITS,
        hll_rho,
    )

    ev = S.stream_events(spark, sf_dir)
    h = md5_long(F.concat(F.lit("hllu:"), F.col("user_id").cast("string")))
    regs = (
        ev.select("event_type", h.alias("h"))
        .select(
            "event_type",
            F.pmod(F.col("h"), F.lit(HLL_M)).cast("int").alias("register"),
            F.shiftright(F.col("h"), HLL_P).alias("w"),
        )
        .select("event_type", "register", hll_rho(F.col("w")).alias("rho"))
        .groupBy("event_type", "register")
        .agg(F.max("rho").alias("max_rho"))
    )
    root = scratch_dir("stream_hll")
    state, ckpt = f"{root}/state", f"{root}/ckpt"
    S.stream_upsert_parquet(
        regs, state, ckpt,
        key_cols=["event_type", "register"],
        version_col="max_rho",
        output_mode="update",
        name="hll_merge",
    )
    snap = spark.read.parquet(state)
    types = snap.select("event_type").distinct()
    dense = types.crossJoin(
        spark.range(HLL_M).select(F.col("id").cast("int").alias("register"))
    )
    full = dense.join(snap, ["event_type", "register"], "left").select(
        "event_type", "register",
        F.coalesce("max_rho", F.lit(0)).cast("int").alias("max_rho"),
    )
    est = full.groupBy("event_type").agg(
        (
            F.lit(HLL_EST_NUM)
            / F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_WBITS + 1} - max_rho)")
            ).cast("double")
        ).alias("hll_est")
    )
    return (
        full.join(est, "event_type")
        .select("event_type", "register", "max_rho", "hll_est")
        .orderBy("event_type", "register")
    )


def _stream_hll_oracle() -> str:
    from jobx_spark.operators.sketches import (
        HLL_EST_NUM,
        HLL_M,
        HLL_P,
        HLL_WBITS,
    )

    md5 = "('0x'||substr(md5({e}),1,15))::BIGINT"
    h = md5.format(e="('hllu:' || CAST(user_id AS VARCHAR))")
    wb1 = HLL_WBITS + 1
    return f"""
WITH hashed AS (SELECT event_type, {h} AS h FROM events),
touched AS (
  SELECT event_type, CAST(h % {HLL_M} AS INTEGER) AS register,
         MAX(CASE WHEN (h >> {HLL_P}) = 0 THEN {wb1}
                  ELSE {wb1} - length(bin(h >> {HLL_P})) END) AS max_rho
  FROM hashed GROUP BY 1, 2
),
regs AS (
  SELECT t.event_type, CAST(r.range AS INTEGER) AS register,
         CAST(COALESCE(x.max_rho, 0) AS INTEGER) AS max_rho
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN range({HLL_M}) r
  LEFT JOIN touched x ON x.event_type = t.event_type AND x.register = r.range
),
est AS (
  SELECT event_type,
         {HLL_EST_NUM!r} / CAST(SUM(1::BIGINT << ({wb1} - max_rho)) AS DOUBLE)
             AS hll_est
  FROM regs GROUP BY event_type
)
SELECT r.event_type, r.register, r.max_rho, e.hll_est
FROM regs r JOIN est e ON e.event_type = r.event_type
ORDER BY r.event_type, r.register
"""


# --------------------------------------------------------------------------
# stream_cms_users — continuously-maintained Count-Min frequency sketch
# over the event stream (companion to stream_hll_cards: HLL answers
# "how many distinct", CMS answers "how often is X"): per-batch counter
# updates fold into the keyed MERGE sink — in an append-only stream the
# per-(row,bucket) running counts are MONOTONE, so max-precedence MERGE
# converges to exactly the batch sketch. Output: the top-20 most-active
# users' true event counts next to their CMS estimates (overcount ≥ 0
# structurally).
# --------------------------------------------------------------------------
CMS_STREAM_TOP = 20


def stream_cms_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.functions import md5_long
    from jobx_spark.lineage import scratch_dir
    from jobx_spark.operators.text import CMS_DEPTH, CMS_WIDTH
    from jobx_spark.sources import load_table

    ev = S.stream_events(spark, sf_dir)
    counters = (
        ev.select(
            F.explode(F.array(*[F.lit(r) for r in range(CMS_DEPTH)])).alias("r"),
            F.col("user_id").cast("string").alias("u"),
        )
        .select(
            "r",
            F.pmod(
                md5_long(F.concat(F.col("r").cast("string"), F.lit(":"), F.col("u"))),
                F.lit(CMS_WIDTH),
            ).alias("bucket"),
        )
        .groupBy("r", "bucket")
        .agg(F.count("*").alias("c"))
    )
    root = scratch_dir("stream_cms")
    state, ckpt = f"{root}/state", f"{root}/ckpt"
    S.stream_upsert_parquet(
        counters, state, ckpt,
        key_cols=["r", "bucket"],
        version_col="c",
        output_mode="update",
        name="cms_merge",
    )
    sketch = spark.read.parquet(state)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(CMS_STREAM_TOP)
    )
    probes = exact.select(
        "user_id", "exact_n",
        F.explode(F.array(*[F.lit(r) for r in range(CMS_DEPTH)])).alias("r"),
    ).withColumn(
        "bucket",
        F.pmod(
            md5_long(
                F.concat(F.col("r").cast("string"), F.lit(":"),
                         F.col("user_id").cast("string"))
            ),
            F.lit(CMS_WIDTH),
        ),
    )
    return (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_n"))
        .select(
            "user_id", "exact_n", "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
    )


# --------------------------------------------------------------------------
# stream_quantile_sketch — the STREAMING twin of pipe_quantile_sketch
# (same fixed-rule histogram: bin = floor(value/8), data-independent):
# per-event-type bin counts maintained incrementally through the keyed
# MERGE sink. A streaming aggregation in update mode emits MONOTONE
# cumulative counts per key, so max-precedence MERGE converges to the
# final histogram exactly (the stream_cms device) — the
# incrementally-maintained sketch EQUALS the one-shot batch histogram,
# which is what the oracle computes. Quantiles read off the snapshot
# (≤ |value domain|/8 bins per type); exact percentiles from the batch
# table ride along so the ≤ bin-width error is inspectable per type —
# the production shape: a continuously-updated latency/size-percentile
# dashboard that never rescans history and merges across shards by
# count addition.
# --------------------------------------------------------------------------
SQSK_BINW = 8.0
SQSK_QS = [(50, 0.5), (90, 0.9), (99, 0.99)]


def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from jobx_spark.lineage import scratch_dir
    from jobx_spark.sources import load_table

    ev = S.stream_events(spark, sf_dir)
    counters = (
        ev.select(
            "event_type",
            F.floor(F.col("value") / F.lit(SQSK_BINW)).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("bc"))
    )
    root = scratch_dir("stream_qsk")
    state, ckpt = f"{root}/state", f"{root}/ckpt"
    S.stream_upsert_parquet(
        counters, state, ckpt,
        key_cols=["event_type", "bin"],
        version_col="bc",
        output_mode="update",
        name="qsk_merge",
    )
    snap = spark.read.parquet(state)
    bcum = snap.select(
        "event_type", "bin", "bc",
        F.sum("bc").over(
            W.partitionBy("event_type").orderBy("bin")
            .rowsBetween(W.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("bc").over(W.partitionBy("event_type")).alias("n"),
    )
    est_aggs = [F.max("n").alias("n_events")]
    for tag, q in SQSK_QS:
        pos = F.ceil(F.lit(q) * F.col("n")).cast("long")
        est_aggs.append(
            (
                (F.min(F.when(F.col("cum") >= pos, F.col("bin"))) + 1)
                * SQSK_BINW
            ).alias(f"p{tag}_est")
        )
    est = bcum.groupBy("event_type").agg(*est_aggs)
    vc = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", "value")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vcum = vc.select(
        "event_type", "value",
        F.sum("c").over(
            W.partitionBy("event_type").orderBy("value")
            .rowsBetween(W.unboundedPreceding, 0)
        ).alias("cum"),
        F.sum("c").over(W.partitionBy("event_type")).alias("n"),
    )
    ex_aggs = []
    for tag, q in SQSK_QS:
        pos = F.ceil(F.lit(q) * F.col("n")).cast("long")
        ex_aggs.append(
            F.min(F.when(F.col("cum") >= pos, F.col("value")))
            .alias(f"p{tag}_exact")
        )
    exact = vcum.groupBy("event_type").agg(*ex_aggs)
    return (
        est.join(exact, "event_type")
        .select(
            "event_type", "n_events",
            "p50_est", "p50_exact", "p90_est", "p90_exact",
            "p99_est", "p99_exact",
        )
        .orderBy("event_type")
    )


def _stream_qsk_oracle() -> str:
    est_cols, ex_cols = [], []
    for tag, q in SQSK_QS:
        pos = f"CAST(ceil({q} * n) AS BIGINT)"
        est_cols.append(
            f"(MIN(CASE WHEN cum >= {pos} THEN bin END) + 1) * {SQSK_BINW}"
            f" AS p{tag}_est"
        )
        ex_cols.append(
            f"MIN(CASE WHEN cum >= {pos} THEN value END) AS p{tag}_exact"
        )
    return f"""
WITH bins AS (
  SELECT event_type, CAST(floor(value / {SQSK_BINW}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS bc
  FROM events GROUP BY 1, 2
),
bcum AS (
  SELECT event_type, bin, bc,
         SUM(bc) OVER (PARTITION BY event_type ORDER BY bin
                       ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(bc) OVER (PARTITION BY event_type) AS n
  FROM bins
),
est AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
         {", ".join(est_cols)}
  FROM bcum GROUP BY event_type
),
vc AS (
  SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
vcum AS (
  SELECT event_type, value,
         SUM(c) OVER (PARTITION BY event_type ORDER BY value
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM vc
),
ex AS (
  SELECT event_type, {", ".join(ex_cols)}
  FROM vcum GROUP BY event_type
)
SELECT est.event_type, n_events,
       p50_est, p50_exact, p90_est, p90_exact, p99_est, p99_exact
FROM est JOIN ex ON ex.event_type = est.event_type
ORDER BY est.event_type
"""


def _stream_cms_oracle() -> str:
    from jobx_spark.operators.text import CMS_DEPTH, CMS_WIDTH

    md5 = "('0x'||substr(md5({e}),1,15))::BIGINT"
    rows = ", ".join(f"({r})" for r in range(CMS_DEPTH))
    h = md5.format(e="(CAST(rr.r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")
    return f"""
WITH counters AS (
  SELECT rr.r, ({h}) % {CMS_WIDTH} AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM events, (VALUES {rows}) AS rr(r)
  GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
  FROM events GROUP BY user_id
  ORDER BY exact_n DESC, user_id ASC LIMIT {CMS_STREAM_TOP}
),
probes AS (
  SELECT e.user_id, e.exact_n, rr.r, ({h}) % {CMS_WIDTH} AS bucket
  FROM exact e, (VALUES {rows}) AS rr(r)
),
est AS (
  SELECT p.user_id, p.exact_n, MIN(c.c) AS cms_n
  FROM probes p JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
  GROUP BY 1, 2
)
SELECT user_id, exact_n, cms_n, cms_n - exact_n AS overcount
FROM est
ORDER BY exact_n DESC, user_id ASC
"""


# --------------------------------------------------------------------------
# stream_scd_enrich — streaming enrichment against a slowly-changing
# dimension: each event picks up the LATEST dimension version at or
# before its event time (as-of semantics), not the equi-join's only
# version. The dimension (every-50th event marks a deterministic tier
# change) broadcasts; each micro-batch runs the inequality join + arg-
# max inside foreachBatch and overwrites its own batch partition
# (idempotent replay). Because the dimension is static, the per-event
# result is independent of batch boundaries — so the streamed table
# equals the batch as-of join the oracle states with a window.
# --------------------------------------------------------------------------
def stream_scd_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from jobx_spark.functions import md5_long
    from jobx_spark.lineage import scratch_dir
    from jobx_spark.sources import load_table

    ev = S.stream_events(spark, sf_dir)
    evb = load_table(spark, sf_dir, "events")
    dim = evb.filter(F.col("event_id") % 50 == 0).select(
        F.col("user_id").alias("d_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
        F.pmod(md5_long(F.col("event_id").cast("string")), F.lit(5)).alias("tier"),
    )
    out = f"{scratch_dir('stream_scd')}/out"

    def _enrich(batch_df: DataFrame, batch_id: int) -> DataFrame:
        joined = batch_df.join(
            F.broadcast(dim),
            (batch_df["user_id"] == dim["d_user"]) & (dim["v_ts"] <= batch_df["ts"]),
            "left",
        )
        w = W.partitionBy("event_id").orderBy(F.desc("v_ts"), F.desc("v_id"))
        return (
            joined.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "event_id", "user_id",
                F.coalesce("tier", F.lit(-1)).alias("tier"),
            )
        )

    # contract label for the STREAM_PLANS audit: stateless per
    # micro-batch — the SCD lookup state lives in the static dim
    S.stream_to_parquet(ev, out, name="scd_stateless", fn=_enrich)
    return (
        spark.read.parquet(out)
        .select("event_id", "user_id", "tier")
        .orderBy("event_id")
    )


ORACLE_STREAM_SCD = """
WITH dim AS (
  SELECT user_id, ts AS v_ts, event_id AS v_id,
         ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT % 5 AS tier
  FROM events WHERE event_id % 50 = 0
),
j AS (
  SELECT e.event_id, e.user_id, d.tier,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY d.v_ts DESC, d.v_id DESC) AS rn
  FROM events e LEFT JOIN dim d
    ON d.user_id = e.user_id AND d.v_ts <= e.ts
)
SELECT event_id, user_id, CAST(COALESCE(tier, -1) AS BIGINT) AS tier
FROM j WHERE rn = 1
ORDER BY event_id
"""


# --------------------------------------------------------------------------
# stream_bloom_decontaminate — dedup_bloom_decontaminate's streaming
# twin (VERDICT r8 #7): the eval set's Bloom set-bit positions are a
# STATIC side computed once (kilobytes — materialized by the lineage
# cut, broadcast into every probe), and each arriving micro-batch of
# train documents probes it SCAN-SIDE inside foreachBatch; only
# bloom-flagged docs reach the exact residual join against the static
# eval gram set. Never-false-negative makes every unflagged doc in the
# batch provably clean without joining it — flagged docs diverted,
# clean docs pass straight through. Zero cross-batch state: a document
# is wholly contained in its micro-batch, so the per-doc censuses are
# batch-local and the sink is the idempotent batch-id-partitioned
# parquet overwrite (the stream_scd_enrich device). This is exactly how
# a continuous ingest pipeline decontaminates against a frozen
# benchmark set at 100 TB: the filter is pinned executor-side, arriving
# shards never shuffle, and the exact join touches only the flagged
# sliver of each batch. The batch operator IS the oracle.
# --------------------------------------------------------------------------
def _sbdecon_oracle() -> str:
    """The batch operator IS the oracle (identical output contract)."""
    from jobx_spark.queries.dedup import _bloom_decon_oracle

    return _bloom_decon_oracle()


def stream_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.lineage import cut_lineage, scratch_dir
    from jobx_spark.operators.sketches import bloom_positions
    from jobx_spark.queries.dedup import (
        DECON_BF_BITS,
        DECON_BF_K,
        _bloom_decon_census,
        _decon_grams,
    )
    from jobx_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    eg = cut_lineage(
        _decon_grams(docs.filter(F.col("doc_id") % 10 == 0), []).distinct(),
        "sbdecon-eg",
    )
    filt = cut_lineage(
        bloom_positions(eg, "s", bits=DECON_BF_BITS, k=DECON_BF_K),
        "sbdecon-filt",
    )
    train = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    st = S.stream_replay(train, ["doc_id"], 3, "bdecon")
    out = f"{scratch_dir('stream_bdecon')}/out"
    # the batch census kernel per micro-batch; its distinct-per-doc
    # grams are materialized once per batch (four consumers: probe,
    # bloom census, exact residual, base census). Contract label for
    # the STREAM_PLANS audit: stateless per micro-batch — the filter
    # state is the static broadcast side
    S.stream_to_parquet(
        st, out, name="bdecon_stateless",
        fn=lambda batch_df, _: _bloom_decon_census(
            cut_lineage(_decon_grams(batch_df, ["doc_id"]), "sbdecon-tg"),
            eg, filt,
        ),
    )
    return (
        spark.read.parquet(out)
        .select(
            "doc_id", "n_grams", "bloom_hits", "exact_hits", "fp_grams", "keep"
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# stream_ivf_append — ann_ivf_append's streaming twin (and the first
# streaming query over the EMBEDDINGS table): the vector-ingest path of
# a production ANN store. The coarse quantizer is trained batch-side on
# the base slice and FROZEN; the base index is already materialized;
# new embeddings arrive as micro-batches and each batch is assigned to
# its cells via the broadcast centroids inside stateless foreachBatch,
# appended to the (cell)-keyed store through the idempotent
# batch-partition parquet sink. Zero cross-batch state — assignment is
# per-row arithmetic against a frozen broadcast, the streaming shape
# that ingests vectors at any rate without touching the base corpus.
# The attestation is the batch twin's: a full re-assignment under the
# same centroids whose per-cell counts AND vec_id-XOR membership
# checksums must equal the streamed-in index exactly
# (append_matches_rebuild = 1) — so batch-boundary independence is
# hash-certified, not assumed. Oracle shared verbatim with
# ann_ivf_append (identical output contract).
# --------------------------------------------------------------------------
def stream_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.lineage import cut_lineage, scratch_dir
    from jobx_spark.operators.similarity import kmeans_train
    from jobx_spark.queries.similarity import (
        APPEND_MOD,
        APPEND_RES,
        KM_BASE,
        KM_ITERS,
        KM_K,
        KM_SCALE,
        _cells,
        _ivf_append_census,
    )
    from jobx_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % APPEND_MOD != APPEND_RES)
    batch = emb.filter(F.col("vec_id") % APPEND_MOD == APPEND_RES).select(
        "vec_id", "embedding"
    )
    centroids = kmeans_train(
        base, ["embedding"], k=KM_K, iters=KM_ITERS,
        cent_base=KM_BASE, scale=KM_SCALE,
    )[0]
    base_idx = cut_lineage(_cells(base, centroids), "sivfa-index")
    st = S.stream_replay(batch, ["vec_id"], 3, "sivfa")
    out = f"{scratch_dir('stream_ivfa')}/out"
    # contract label for the STREAM_PLANS audit: stateless per
    # micro-batch — the quantizer is a frozen broadcast side
    S.stream_to_parquet(
        st, out, name="sivfa_stateless",
        fn=lambda batch_df, _: _cells(batch_df, centroids),
    )
    batch_idx = spark.read.parquet(out).select("vec_id", "cell")
    rebuilt = _cells(emb, centroids)
    return _ivf_append_census(spark, base_idx, batch_idx, rebuilt)


def _sivfa_oracle() -> str:
    """ann_ivf_append's oracle verbatim — identical output contract."""
    from jobx_spark.queries.similarity import _ivf_append_oracle

    return _ivf_append_oracle()


# --------------------------------------------------------------------------
# stream_index_serve — ann_index_serve's streaming twin: the QUERY
# stream served against the frozen persisted index, the deployment
# shape of a production vector store's online path (queries arrive
# continuously; the index tables change only through build/append
# jobs). Each micro-batch of query vectors routes to its KM_NPROBE
# cells via the broadcast persisted centroids and ranks exactly within
# the pruned index scan — stateless per batch, the quantizer and index
# are frozen side inputs. stream_replay splits the probe set
# across 3 micro-batches with each query in exactly one batch, so the
# union of per-batch top-K results equals the batch serve result and
# the oracle is _index_serve_oracle() verbatim.
# --------------------------------------------------------------------------
def stream_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.lineage import scratch_dir
    from jobx_spark.queries.similarity import (
        ANN_INDEX,
        N_QUERIES,
        _index_serve_body,
    )
    from jobx_spark.sources import load_table

    cpath, ipath = ANN_INDEX.ensure(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    qset = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "embedding"
    )
    st = S.stream_replay(qset, ["vec_id"], 3, "sserve")
    out = f"{scratch_dir('stream_serve')}/out"
    # the batch serving kernel, per micro-batch of query vectors;
    # contract label for the STREAM_PLANS audit: stateless per
    # micro-batch — centroids and index are frozen side inputs
    S.stream_to_parquet(
        st, out, name="sserve_stateless",
        fn=lambda batch_df, _: _index_serve_body(
            spark, cpath, ipath,
            batch_df.withColumnRenamed("vec_id", "query_id"),
        ),
    )
    return (
        spark.read.parquet(out)
        .select("query_id", "vec_id", "rank", "cosine", "cell")
        .orderBy("query_id", "rank")
    )


def _sserve_oracle() -> str:
    """ann_index_serve's oracle verbatim — each query lives in exactly
    one micro-batch, so the unioned per-batch top-K IS the batch serve
    result."""
    from jobx_spark.queries.similarity import _index_serve_oracle

    return _index_serve_oracle()


# --------------------------------------------------------------------------
# stream_dedup_index_probe — dedup_index_probe's streaming twin and the
# deployment shape of incremental dedup (VERDICT r10 #3): the ingest
# stream of new documents probed per micro-batch against the FROZEN
# persisted band index (the index changes only through build/append
# jobs). Each micro-batch is shingled/hashed/banded on its own — tiny,
# broadcast — and joined against the on-disk (band, bh) table; the
# corpus is never re-signed. Stateless per batch; each new doc lives in
# exactly one replay micro-batch and the output groups by new_id, so
# the unioned per-batch pair sets equal the batch probe result and the
# oracle is dedup_incremental's oracle verbatim.
# --------------------------------------------------------------------------
def stream_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.lineage import scratch_dir
    from jobx_spark.queries.dedup import (
        DEDUP_INDEX,
        INCR_SPLIT_ID,
        _band_probe,
    )
    from jobx_spark.sources import load_table

    (ipath,) = DEDUP_INDEX.ensure(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") >= INCR_SPLIT_ID).select(
        "doc_id", "text"
    )
    st = S.stream_replay(batch, ["doc_id"], 3, "sdprobe")
    out = f"{scratch_dir('stream_dedup_probe')}/out"
    # contract label for the STREAM_PLANS audit: stateless per
    # micro-batch — the band index is a frozen side input
    S.stream_to_parquet(
        st, out, name="sdprobe_stateless",
        fn=lambda batch_df, batch_id: _band_probe(
            spark, ipath, batch_df, f"sdprobe-b{batch_id}"
        ),
    )
    return (
        spark.read.parquet(out)
        .select("new_id", "old_id", "n_shared_bands")
        .orderBy("new_id", "old_id")
    )


def _sdprobe_oracle() -> str:
    """dedup_incremental's oracle verbatim — each new doc lives in
    exactly one micro-batch and pairs group by new_id, so the unioned
    per-batch results equal the batch probe."""
    from jobx_spark.queries.dedup import _incremental_oracle

    return _incremental_oracle()


# --------------------------------------------------------------------------
# stream_dedup_index_append — dedup_index_append's streaming twin (the
# text-side analogue of stream_ivf_append): the document ingest stream
# banded per micro-batch — shingle → minhash → band signatures are
# per-doc arithmetic against frozen constants, so each batch is
# stateless batch-side-only work — and unioned with the materialized
# base band table, with the same append≡rebuild doc_id-XOR certificate
# as the batch job. Banding is per-doc deterministic, so streaming
# ingest provably equals a from-scratch rebuild.
# --------------------------------------------------------------------------
def stream_dedup_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.lineage import cut_lineage, scratch_dir
    from jobx_spark.queries.dedup import (
        INCR_SPLIT_ID,
        _band_append_census,
        _banded,
    )
    from jobx_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")

    corpus = docs.filter(F.col("doc_id") < INCR_SPLIT_ID)
    batch = docs.filter(F.col("doc_id") >= INCR_SPLIT_ID).select(
        "doc_id", "text"
    )
    base_idx = cut_lineage(_banded(corpus), "sdida-index")
    st = S.stream_replay(batch, ["doc_id"], 3, "sdida")
    out = f"{scratch_dir('stream_dedup_append')}/out"
    # contract label for the STREAM_PLANS audit: stateless per
    # micro-batch — banding constants are frozen code
    S.stream_to_parquet(
        st, out, name="sdida_stateless", fn=lambda batch_df, _: _banded(batch_df)
    )
    batch_idx = spark.read.parquet(out).select("id", "band", "bh")
    rebuilt = _banded(docs)
    return _band_append_census(spark, base_idx, batch_idx, rebuilt)


def _sdida_oracle() -> str:
    """dedup_index_append's oracle verbatim — identical output
    contract."""
    from jobx_spark.queries.dedup import _dedup_index_append_oracle

    return _dedup_index_append_oracle()


# --------------------------------------------------------------------------
# stream_index_ingest — the PERSISTED streaming vector ingest, closing
# the triangle ann_index_append (persisted, batch) / stream_ivf_append
# (streaming, in-plan) left open: each micro-batch of new vectors is
# assigned via the frozen persisted quantizer and lands as its own
# segment seg=b<batch_id> in a fresh directory of the on-disk index —
# re-running a batch replaces exactly that segment, so replay/recovery
# is idempotent — and the drained stream's segments are published by
# manifest beside the re-listed base. This is how a production vector
# store actually ingests: streaming writers append bucketed files;
# build/compact jobs own rewrites. The census is planned over the
# published segments AFTER ingest with the same append≡rebuild XOR
# certificate, so the gate hash attests the persisted layout; output
# contract identical to ann_ivf_append (oracle verbatim). Own root
# (ann-index-ingest-*), disjoint from the batch append family, so the
# two lifecycles' artifacts never cross-contaminate a census.
# --------------------------------------------------------------------------
def stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.queries.similarity import (
        ANN_INGEST,
        APPEND_MOD,
        APPEND_RES,
        _cells,
        _ivf_append_census,
    )
    from jobx_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % APPEND_MOD == APPEND_RES).select(
        "vec_id", "embedding"
    )

    def _stream(gen) -> None:
        centroids = spark.read.parquet(gen["centroids"])

        def _ingest(batch_df: DataFrame, batch_id: int) -> None:
            gen.segment(_cells(batch_df, centroids), f"b{batch_id}")

        # contract label for the STREAM_PLANS audit: stateless per
        # micro-batch — the quantizer is a frozen persisted side input
        S._run(
            S.stream_replay(batch, ["vec_id"], 3, "singest"),
            "singest_stateless", _ingest,
        )

    gen = ANN_INGEST.append(spark, sf_dir, _stream)
    disk = gen.table().select("vec_id", "cell", "seg")
    base_idx = disk.filter(F.col("seg") == "base").select("vec_id", "cell")
    batch_idx = disk.filter(F.col("seg") != "base").select("vec_id", "cell")
    rebuilt = _cells(emb, spark.read.parquet(gen["centroids"]))
    return _ivf_append_census(spark, base_idx, batch_idx, rebuilt)


def _singest_oracle() -> str:
    """ann_ivf_append's oracle verbatim — identical output contract:
    the persisted streaming ingest provably equals append ≡ rebuild."""
    from jobx_spark.queries.similarity import _ivf_append_oracle

    return _ivf_append_oracle()


# --------------------------------------------------------------------------
# stream_bm25_index_serve — text_bm25_index_serve's streaming twin: the
# QUERY stream served per micro-batch against the frozen persisted
# inverted index (the index changes only through build jobs). Whole
# queries replay (5 rows split across 3 micro-batches — terms explode
# INSIDE the batch, so a query never straddles batches); each batch
# runs the shared serving kernel (driver-side bucket pruning + the
# scaled-integer BM25 formula) and ranks group by query_id, so the
# unioned per-batch top-K equals the batch serve result and the oracle
# is text_bm25_topk's verbatim. Stateless per batch.
# --------------------------------------------------------------------------
def stream_bm25_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobx_spark.lineage import scratch_dir
    from jobx_spark.queries.text import (
        BM25_INDEX,
        BM25_QUERIES,
        _bm25_query_terms,
        _bm25_serve_body,
    )
    from jobx_spark.sources import local_frame

    ppath, spath = BM25_INDEX.ensure(spark, sf_dir)
    postings, scalars = spark.read.parquet(ppath), spark.read.parquet(spath)
    qdf = local_frame(
        spark, sorted(BM25_QUERIES.items()), "query_id INT, qtext STRING"
    )
    st = S.stream_replay(qdf, ["query_id"], 3, "sbm25")
    out = f"{scratch_dir('stream_bm25')}/out"

    def _serve(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # ≤ |BM25_QUERIES| tiny query rows; every replay batch holds
        # at least one (stream_replay writes no empty file)
        rows = batch_df.collect()
        qterms, terms = _bm25_query_terms(
            spark, {r["query_id"]: r["qtext"] for r in rows}
        )
        return _bm25_serve_body(postings, scalars, qterms, terms)

    # contract label for the STREAM_PLANS audit: stateless per
    # micro-batch — the inverted index is a frozen side input
    S.stream_to_parquet(st, out, name="sbm25_stateless", fn=_serve)
    return (
        spark.read.parquet(out)
        .select("query_id", "rank", "doc_id", "score_s")
        .orderBy("query_id", "rank")
    )


def _sbm25_oracle() -> str:
    """text_bm25_topk's oracle verbatim — each query lives in exactly
    one micro-batch, so the unioned per-batch top-K IS the batch serve
    result."""
    from jobx_spark.queries.text import _bm25_oracle

    return _bm25_oracle()


# --------------------------------------------------------------------------
# stream_bm25_index_append — the PERSISTED streaming postings ingest,
# completing the streaming-ingest triangle (vectors:
# stream_index_ingest, bands: stream_dedup_index_append, terms: THIS):
# each micro-batch of new documents is tokenized into (term, doc_id,
# tf, dl) postings — per-doc arithmetic against frozen code, stateless
# — and lands as its own segment seg=b<batch_id> in a fresh directory
# of the on-disk inverted index (a replayed batch replaces exactly its
# segment), published by manifest beside the re-listed base once the
# stream drains. The BM25-specific step the other two families don't
# have: before that publish, the corpus-global scalars table is
# REWRITTEN (base-on-disk + the full batch side's deltas — both
# addends independent of the part being written, so recovery re-runs
# are idempotent); df needs no republish at all because the postings
# layout never denormalizes it (serving recomputes df from the
# bucket-pruned scan — jobx_spark/queries/text.py design note). The
# returned census is text_bm25_index_append's verbatim (oracle too):
# per term bucket, append≡rebuild on the posting-content hash,
# scalars≡rebuild, and serve-from-the-streamed-index ≡ the
# train-in-plan ranking. Own root (bm25-index-ingest-*), disjoint from
# the batch append family, so the two lifecycles never
# cross-contaminate a census.
# --------------------------------------------------------------------------
def stream_bm25_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.queries.dedup import INCR_SPLIT_ID
    from jobx_spark.queries.text import (
        BM25_INGEST,
        _bm25_append_census,
        _bm25_postings,
        _bm25_republish_scalars,
    )
    from jobx_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") >= INCR_SPLIT_ID).select(
        "doc_id", "text"
    )

    def _stream(gen) -> None:
        def _append(batch_df: DataFrame, batch_id: int) -> None:
            gen.segment(_bm25_postings(batch_df), f"b{batch_id}")

        # contract label for the STREAM_PLANS audit: stateless per
        # micro-batch — tokenization constants are frozen code
        S._run(
            S.stream_replay(batch, ["doc_id"], 3, "sbm25a"),
            "sbm25a_stateless", _append,
        )
        # the scalars republish (base + the whole batch side's deltas)
        _bm25_republish_scalars(spark, gen, batch)

    gen = BM25_INGEST.append(spark, sf_dir, _stream)
    return _bm25_append_census(spark, sf_dir, gen)


def _sbm25a_oracle() -> str:
    """text_bm25_index_append's oracle verbatim — identical output
    contract (every batch doc lives in exactly one segment, so the
    segmented union equals the batch append's base∪batch)."""
    from jobx_spark.queries.text import _bm25_index_append_oracle

    return _bm25_index_append_oracle()


# --------------------------------------------------------------------------
# stream_drift_census — ann_drift_census's streaming twin: the drift
# monitor as it actually runs in production, riding the INGEST stream
# instead of re-scanning the corpus. Each micro-batch of new vectors
# reduces to ONE partial-sums row (count + 64 offset-shifted scaled-
# integer element sums — the same integers as the batch census, via the
# shared _drift_xs), written keyed by batch id (idempotent dynamic-
# partition overwrite, so a replayed batch overwrites itself). Partials
# MERGE by plain integer addition — the mergeable-sketch device
# (text_hll_merge, stream_quantile_sketch): order- and batching-
# independent, so the merged row equals the direct aggregate BIT-FOR-
# BIT and the final census must hash-equal the batch operator, which
# is exactly what the oracle (ann_drift_census's, verbatim) checks.
# State: ZERO rows in the state store — the partial is batch-local,
# the merge lives in the sink (stateless-foreachBatch, like
# stream_ivf_append). At 100 TB/day the sink holds one 66-column row
# per micro-batch and the monitor never touches the base corpus after
# its one-time baseline aggregate.
# --------------------------------------------------------------------------
def stream_drift_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.lineage import scratch_dir
    from jobx_spark.queries.similarity import (
        APPEND_MOD,
        APPEND_RES,
        DRIFT_DIM,
        _drift_census_from_sums,
        _drift_xs_sql,
    )
    from jobx_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    isnew = (F.col("vec_id") % APPEND_MOD) == APPEND_RES
    base = emb.filter(~isnew)
    batch = emb.filter(isnew).select("vec_id", "embedding")
    st = S.stream_replay(batch, ["vec_id"], 3, "sdrift")
    out = f"{scratch_dir('stream_drift')}/out"

    def _partial(batch_df: DataFrame, batch_id: int) -> DataFrame:
        # one parsed SQL expression per dim — this closure runs PER
        # MICRO-BATCH, so the Column-builder chatter (~70 py4j
        # round-trips × 64 dims) was paid three times per query run;
        # see similarity._drift_xs_sql
        aggs = [F.count(F.lit(1)).cast("long").alias("n_new")]
        aggs += [
            F.expr(f"cast(sum({_drift_xs_sql(i)}) as bigint)").alias(
                f"s{i}"
            )
            for i in range(DRIFT_DIM)
        ]
        return batch_df.agg(*aggs)

    # contract label for the STREAM_PLANS audit: stateless per
    # micro-batch — one partial-sums row per batch, merged in the sink
    # by exact integer addition
    S.stream_to_parquet(st, out, name="sdrift_stateless", fn=_partial)
    merged_new = spark.read.parquet(out).agg(
        F.sum("n_new").cast("long").alias("n_new"),
        *[
            F.sum(f"s{i}").cast("long").alias(f"s{i}")
            for i in range(DRIFT_DIM)
        ],
    )
    base_row = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_old"),
        *[
            F.expr(f"cast(sum({_drift_xs_sql(i)}) as bigint)").alias(
                f"o{i}"
            )
            for i in range(DRIFT_DIM)
        ],
    )
    return _drift_census_from_sums(base_row.crossJoin(merged_new))


def _sdrift_oracle() -> str:
    """ann_drift_census's oracle verbatim — the merged per-batch
    partials must reproduce the batch census exactly."""
    from jobx_spark.queries.similarity import _drift_census_oracle

    return _drift_census_oracle()


def _restart_in_two_phases(
    evb: DataFrame, halves, build, tag: str, **merge
) -> DataFrame:
    """Land ``evb`` as two files (rows matching each of the two
    ``halves`` predicates) and stream each through ``build`` into the
    keyed MERGE sink on ONE checkpoint: phase 2 resumes the phase-1
    state and offsets and reads only the second file. Returns the
    merged state table."""
    import glob
    import os
    import shutil

    from jobx_spark.lineage import scratch_dir

    spark = evb.sparkSession
    root = scratch_dir(tag)
    src = os.path.join(root, "src")
    os.makedirs(src)
    state, ckpt = os.path.join(root, "state"), os.path.join(root, "ckpt")
    for name, pred in zip("ab", halves):
        d = os.path.join(root, "stage", name)
        evb.filter(pred).coalesce(1).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"{name}.parquet"))
        stream = spark.readStream.schema(evb.schema).parquet(src)
        S.stream_upsert_parquet(
            build(stream), state, ckpt, output_mode="update", **merge
        )
    return spark.read.parquet(state)


# --------------------------------------------------------------------------
# stream_incremental_restart — checkpoint-resume incrementality under
# the gate: the event stream arrives in TWO batches of files through
# the SAME checkpoint (run to completion, stop, more files land, run
# again). The second run's file-source offsets skip everything already
# committed, and the stateful aggregation resumes from checkpointed
# state — so the final table must equal the one-shot batch aggregate
# over ALL events, which is exactly what the oracle computes. This is
# the restart/exactly-once contract as a driver-attested result, not
# just a unit test.
# --------------------------------------------------------------------------
def stream_incremental_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.sources import load_table

    evb = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    state = _restart_in_two_phases(
        evb,
        [F.col("event_id") % 2 == 0, F.col("event_id") % 2 == 1],
        lambda stream: stream.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,8)")).alias("total_s"),
        ),
        "stream_restart",
        key_cols=["event_type"], version_col="n", name="restart_merge",
    )
    return (
        state.select(
            "event_type", "n",
            F.col("total_s").cast("string").cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


ORACLE_STREAM_RESTART = f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       {dsum_sql('value')} AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------------
# stream_ewma_user_value — the chunked batch EWMA's STREAMING twin
# (operators/recurrence.py ↔ streaming.stateful_ewma): per-user dyadic
# decay carried across micro-batches AND a checkpoint restart in 16
# bytes of keyed state. The corpus lands as two event-time halves
# (everything before the span midpoint, then the rest); phase 2 starts
# a fresh query on the SAME checkpoint, so it resumes the saved
# per-user accumulators and reads only the second file — attesting
# exact-integer state recovery, not just windowed counts. The final
# per-user row (max n_events — emissions strictly grow n) must equal
# the batch oracle's whole-history fold, proving batch/stream parity
# for an ORDER-SENSITIVE reducer.
# --------------------------------------------------------------------------
def stream_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from jobx_spark.queries.pipeline import EWMA_SCALE
    from jobx_spark.sources import load_table

    evb = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * EWMA_SCALE).cast("long").alias("x_s"),
        "ts",
        "event_id",
    )
    lo, hi = evb.agg(F.min("ts"), F.max("ts")).collect()[0]
    mid = lo + (hi - lo) / 2
    # memory sinks can't recover a checkpoint; the MERGE sink can —
    # emissions carry strictly-growing n_events, so the keyed upsert
    # keeps the newest accumulator per user.
    state = _restart_in_two_phases(
        evb,
        [F.col("ts") < F.lit(mid), F.col("ts") >= F.lit(mid)],
        S.stateful_ewma,
        "stream_ewma",
        key_cols=["user_id"], version_col="n_events", name="ewma_merge",
    )
    return (
        state.select(
            "user_id", "n_events", "ewma_s",
            (F.col("ewma_s").cast("double") / EWMA_SCALE).alias("ewma"),
        )
        .orderBy("user_id")
    )


def _stream_ewma_oracle() -> str:
    from jobx_spark.queries.pipeline import ORACLE_PIPE_EWMA

    return ORACLE_PIPE_EWMA  # identical fold: batch/stream parity


# --------------------------------------------------------------------------
# stream_window_distinct_scaled — the STREAMING scale probe (VERDICT
# r5 #4, the `*_scaled` mold of dedup_components_scaled /
# dedup_substring_scaled / ann_bruteforce_scaled): the events corpus is
# replicated 8× with disjoint user-id namespaces (user_id + rep·10⁹)
# and pushed through the PRODUCTION chained-stateful path
# (windowed_distinct_users — two state-store operators in one
# append-mode query) under the hash gate. What it attests beyond the
# base query: per-key state volume 8× the base run stays
# watermark-bounded — the final progress's numRowsTotal lands in
# streaming.RUN_LOG and tests/test_stream_plans.py asserts it equals
# open+closed window cardinality, never event cardinality. The batch
# side had three such probes; this is the streaming one.
# --------------------------------------------------------------------------
def stream_window_distinct_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from jobx_spark.lineage import scratch_dir
    from jobx_spark.sources import load_table

    evb = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    scaled = replicate(evb, "user_id", REPLICAS).drop("rep")
    src = os.path.join(scratch_dir("stream_wdist_scaled"), "src")
    scaled.write.parquet(src)
    stream = spark.readStream.schema(scaled.schema).parquet(src)
    out = S.run_available_now(
        S.windowed_distinct_users(stream), "append", "wdist_scaled"
    )
    return out.orderBy("window_start", "event_type", "n_users")


ORACLE_STREAM_WINDOW_DISTINCT_SCALED = f"""
WITH ev AS ({replicate_sql('events', 'user_id', REPLICAS)}),
per_user AS (
  SELECT date_trunc('hour', ts) AS ws, event_type, user_id,
         count(*) AS n
  FROM ev GROUP BY 1, 2, 3
)
SELECT ws AS window_start,
       ws + INTERVAL 1 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(n) AS BIGINT) AS n_events
FROM per_user
WHERE ws + INTERVAL 1 HOUR <= (SELECT max(ts) FROM ev)
GROUP BY 1, 2, 3
ORDER BY window_start, event_type, n_users
"""


QUERIES = {
    "stream_dedup_index_probe": stream_dedup_index_probe,
    "stream_dedup_index_append": stream_dedup_index_append,
    "stream_index_ingest": stream_index_ingest,
    "stream_bm25_index_serve": stream_bm25_index_serve,
    "stream_bm25_index_append": stream_bm25_index_append,
    "stream_incremental_restart": stream_incremental_restart,
    "stream_ewma_user_value": stream_ewma_user_value,
    "stream_bloom_decontaminate": stream_bloom_decontaminate,
    "stream_ivf_append": stream_ivf_append,
    "stream_index_serve": stream_index_serve,
    "stream_drift_census": stream_drift_census,
    "stream_scd_enrich": stream_scd_enrich,
    "stream_cms_users": stream_cms_users,
    "stream_hll_cards": stream_hll_cards,
    "stream_quantile_sketch": stream_quantile_sketch,
    "stream_window_distinct": stream_window_distinct,
    "stream_window_distinct_scaled": stream_window_distinct_scaled,
    "stream_zscore_anomaly": stream_zscore_anomaly,
    "stream_topk_trending": stream_topk_trending,
    "stream_pii_scrub": stream_pii_scrub,
    "stream_tumbling_agg": stream_tumbling_agg,
    "stream_sliding_agg": stream_sliding_agg,
    "stream_session_window": stream_session_window,
    "stream_interval_join": stream_interval_join,
    "stream_dedup_activity": stream_dedup_activity,
    "stream_timeout_sessions": stream_timeout_sessions,
    "stream_left_outer_join": stream_left_outer_join,
    "stream_full_outer_join": stream_full_outer_join,
    "stream_replay_dedup": stream_replay_dedup,
    "stream_static_enrich": stream_static_enrich,
    "stream_stateful_user_stats": stream_stateful_user_stats,
    "stream_sink_rollup": stream_sink_rollup,
}

ORACLES = {
    "stream_dedup_index_probe": _sdprobe_oracle(),
    "stream_dedup_index_append": _sdida_oracle(),
    "stream_index_ingest": _singest_oracle(),
    "stream_bm25_index_serve": _sbm25_oracle(),
    "stream_bm25_index_append": _sbm25a_oracle(),
    "stream_incremental_restart": ORACLE_STREAM_RESTART,
    "stream_ewma_user_value": _stream_ewma_oracle(),
    "stream_bloom_decontaminate": _sbdecon_oracle(),
    "stream_ivf_append": _sivfa_oracle(),
    "stream_index_serve": _sserve_oracle(),
    "stream_drift_census": _sdrift_oracle(),
    "stream_scd_enrich": ORACLE_STREAM_SCD,
    "stream_cms_users": _stream_cms_oracle(),
    "stream_hll_cards": _stream_hll_oracle(),
    "stream_quantile_sketch": _stream_qsk_oracle(),
    "stream_window_distinct": ORACLE_STREAM_WINDOW_DISTINCT,
    "stream_window_distinct_scaled": ORACLE_STREAM_WINDOW_DISTINCT_SCALED,
    "stream_zscore_anomaly": ORACLE_STREAM_ZSCORE,
    "stream_topk_trending": ORACLE_STREAM_TOPK,
    "stream_pii_scrub": _pii_oracle(),
    "stream_tumbling_agg": ORACLE_STREAM_TUMBLING,
    "stream_timeout_sessions": ORACLE_STREAM_TIMEOUT_SESSIONS,
    "stream_left_outer_join": ORACLE_STREAM_LEFT_OUTER,
    "stream_full_outer_join": ORACLE_STREAM_FULL_OUTER,
    "stream_replay_dedup": ORACLE_STREAM_REPLAY_DEDUP,
    "stream_dedup_activity": ORACLE_STREAM_DEDUP,
    "stream_static_enrich": ORACLE_STREAM_STATIC_ENRICH,
    "stream_interval_join": ORACLE_STREAM_INTERVAL_JOIN,
    "stream_sliding_agg": ORACLE_STREAM_SLIDING,
    "stream_session_window": ORACLE_STREAM_SESSION,
    "stream_stateful_user_stats": ORACLE_STREAM_STATEFUL,
    "stream_sink_rollup": ORACLE_STREAM_SINK_ROLLUP,
}
