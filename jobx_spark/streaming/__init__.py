"""Structured Streaming surface: file-source event streams, watermarked
time windows (tumbling / sliding / session), and a custom stateful
operator via ``applyInPandasWithState``.

The reference engine has no streaming at all (SURVEY.md §2.2 — its only
streaming-adjacent features are the etcd change-watch and async
requests), so this module is pure Spark-native capability. Everything
runs through ``Trigger.AvailableNow`` in tests/queries: the stream
processes the same parquet the batch queries read and terminates, so
streaming results are verifiable against the same DuckDB oracles — the
exact code path that, pointed at a growing directory or Kafka source
with a real trigger, runs continuously at scale.

Scale notes: stateful streaming shuffles once on the grouping key per
micro-batch and keeps per-key state in the state store (RocksDB-backed
on a real cluster); watermarks bound that state. Complete output mode
is used for the windowed aggregations here because the inputs are
finite; production continuous runs would use append + watermark
eviction — the plan shape is identical.

One runner: every stream in the package — memory-sink results, the
batch-id parquet sink, the keyed MERGE sink and each query's own
``foreachBatch`` — runs through :func:`_run`, which owns the query
name, the checkpoint, the AvailableNow trigger, the wait and the
``RUN_LOG`` record. Each stateless twin of a batch query writes through
:func:`stream_to_parquet` (the one batch-id sink) and calls its batch
kernel once per micro-batch.
"""

from __future__ import annotations

import collections
import itertools
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from jobx_spark.lineage import scratch_dir

_name_counter = itertools.count()

# Audit trail of completed streaming runs (tools/plan_audit.py reads
# this to build STREAM_PLANS.md; tests/test_stream_plans.py gates it):
# the per-run physical plan plus the progress facts that decide 100 TB
# viability — which STATE-STORE operators ran and whether a WATERMARK
# bounded their state. Batch queries get the same scrutiny via
# PLANS.md; a streaming regression (e.g. a dropped watermark producing
# unbounded state) was the one unaudited surface (VERDICT r4 #3).
# Bounded (ADVICE r5): each entry carries a full explainInternal plan
# string, so an unbounded list would grow without limit in a long-lived
# serve/bench process; the audit consumers (tools/plan_audit.py,
# tests/test_stream_plans.py) clear it around each query, far below
# the cap.
RUN_LOG: collections.deque[dict] = collections.deque(maxlen=256)


def _capture_run(query) -> None:
    try:  # explainInternal is py4j-internal but stable; never fail a run
        plan = query._jsq.explainInternal(True)
    except Exception:  # pragma: no cover - defensive
        plan = ""
    prog = query.lastProgress or {}
    RUN_LOG.append(
        {
            "name": getattr(query, "name", None) or "?",
            "plan": plan,
            "state_operators": [
                op.get("operatorName", "?")
                for op in prog.get("stateOperators", [])
            ],
            # per-operator state-store row counts at the final batch —
            # what the r6 scale probe asserts stays watermark-bounded
            "state_rows": [
                op.get("numRowsTotal")
                for op in prog.get("stateOperators", [])
            ],
            "watermark": (prog.get("eventTime") or {}).get("watermark"),
        }
    )


def stream_replay(
    df: DataFrame, order_cols: list[str], n_files: int, tag: str
) -> DataFrame:
    """Write ``df`` into ``n_files`` parquet files and open them as a
    file-source stream with ``maxFilesPerTrigger=1``, which replays them
    as n_files micro-batches in ``order_cols`` order — a deterministic
    arriving-files harness for watermark-advance semantics (a
    single-file AvailableNow run is ONE batch, so its watermark never
    moves and nothing can ever be late).

    File order is forced two ways (lexicographic names AND explicitly
    spaced mtimes) because Spark's file index sorts by modification
    time. Equal-range rank split keeps every batch the same size, the
    layout a real arrival log has.
    """
    import shutil

    from pyspark.sql import Window as W

    out = scratch_dir(f"replay_{tag}_{next(_name_counter)}")
    # ONE pass (guide §1.2-1: don't repeat passes you can fuse): rank
    # and total ride the same single-partition window — previously this
    # staging paid a count() job plus one filtered scan PER FILE
    # (n_files+1 passes through the global-window sort, each its own
    # job). The partitioned write emits every replay file from the one
    # window task; per-file assignment is the identical integer rank
    # split, so batch contents are bit-for-bit what the loop produced.
    single = W.partitionBy()
    rn = F.row_number().over(single.orderBy(*order_cols)) - 1
    total = F.count(F.lit(1)).over(single)
    # integer rank split — float division could round across a file
    # boundary and disagree with the oracle's `//`
    base_mtime = 1_600_000_000  # any fixed epoch; only spacing matters
    tmp = os.path.join(out, "_stage")
    (
        df.withColumn("_rn", rn)
        .withColumn("_total", total)
        .withColumn("_file", F.expr(f"(_rn * {n_files}) div _total"))
        .drop("_rn", "_total")
        .write.mode("overwrite")
        # one part-file per replay batch regardless of session defaults
        .option("maxRecordsPerFile", 0)
        .partitionBy("_file")
        .parquet(tmp)
    )
    for i in range(n_files):
        pdir = os.path.join(tmp, f"_file={i}")
        parts = [p for p in sorted(os.listdir(pdir)) if p.endswith(".parquet")]
        if len(parts) != 1:  # single-window-task write: exactly one part
            raise RuntimeError(f"replay stage {pdir}: {len(parts)} parts")
        dest = os.path.join(out, f"b{i:03d}.parquet")
        shutil.move(os.path.join(pdir, parts[0]), dest)
        os.utime(dest, (base_mtime + i, base_mtime + i))
    shutil.rmtree(tmp)
    # the replay files hold df's columns: name the schema rather than
    # infer it from their footers (a Spark job)
    spark = df.sparkSession
    return (
        spark.readStream.schema(df.schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(out)
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a file-source stream.

    File sources need a directory; ``pathGlobFilter`` selects just the
    events file out of the shared testdata dir. In production the same
    reader points at an arriving-files directory (or is swapped for
    Kafka) — everything downstream is source-agnostic.

    File streams require an explicit schema, so we take it from a
    footer-only batch read of the same file — this keeps the stream in
    lockstep with whatever timestamp encoding the parquet actually uses
    (micros today; nanos-as-INT64 under ``legacy.parquet.nanosAsLong``),
    applying the identical dtype-conditional conversion the batch
    reader uses (``jobx_spark.sources.load_table``).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema  # footer read only — no data scan
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _run(
    df: DataFrame,
    label: str,
    fn=None,
    output_mode: str | None = None,
    checkpoint: str | None = None,
) -> str:
    """Run ``df`` to completion over the currently available input and
    return the query name ``<label>_<pid>_<n>``: into the memory sink
    of that name, or through ``foreachBatch(fn)`` when ``fn`` is given.
    The checkpoint defaults to a fresh scratch dir; the finished run is
    recorded in ``RUN_LOG``. A failing batch raises out of the wait and
    leaves the checkpoint for a re-run to resume from."""
    name = f"{label}_{os.getpid()}_{next(_name_counter)}"
    writer = df.writeStream.queryName(name)
    writer = writer.foreachBatch(fn) if fn else writer.format("memory")
    if output_mode:
        writer = writer.outputMode(output_mode)
    ckpt = checkpoint or scratch_dir(f"ckpt_{name}")
    query = (
        writer.option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    _capture_run(query)
    return name


def run_available_now(
    df: DataFrame, output_mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to completion over the currently
    available input and return the materialized result.

    Memory sink is driver-resident — correct here because every
    streaming query in this module aggregates to a small result
    (windows × types, sessions, per-user state); raw-event streams
    would use a file/Kafka sink instead.
    """
    return df.sparkSession.table(_run(df, name or "stream", output_mode=output_mode))


# ------------------------------------------------------------------ windows


def tumbling_window_agg(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """1-hour tumbling windows per event type: count + exact sum.

    The watermark bounds state (and admits ≤`watermark` late data) in a
    continuous run. Choose it for the INPUT's disorder, not just
    lateness: a historical replay/backfill whose files are not
    time-ordered makes every event "late" relative to the max timestamp
    already seen, so a replay must pass a watermark covering the whole
    data span (state then bounds at total-windows × types — tiny for a
    rollup) or events silently drop; a live feed uses the real lateness
    budget.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(38,8)"))
            .cast("string")
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """2-hour windows sliding every hour per event type — each event
    lands in exactly two windows."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_window_agg(events: DataFrame) -> DataFrame:
    """Native session windows: per user, events merge while gaps stay
    under 30 minutes; window end = last event + gap."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def static_enrich_agg(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join + windowless aggregation: each micro-batch of
    events is enriched against a static dimension table and rolled up
    per (segment, event_type).

    The static side is re-planned per micro-batch (so a dim refresh is
    picked up on the next batch) and broadcast — no shuffle of the
    stream, no state for the join itself; only the aggregation keeps
    state, keyed by the tiny (segment, type) domain.
    """
    enriched = events.join(
        F.broadcast(dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")),
        "user_id",
    )
    return enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(38,8)"))
        .cast("string")
        .cast("double")
        .alias("total_value"),
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Watermarked streaming deduplication: first sighting of each
    (user_id, event_type, day) activity key is emitted; repeats are
    dropped against the state store.

    The watermark bounds dedup state: a key older than watermark - 1 day
    is evicted, so state size tracks the active time window rather than
    all history — the property that makes continuous dedup of an
    unbounded event stream feasible. Every kept column is part of the
    dedup key, so "first arrival wins" is order-insensitive and the
    result equals batch SELECT DISTINCT.
    """
    return (
        events.withWatermark("ts", "1 day")
        # window(), unlike date_trunc, keeps the event-time tag on the
        # bucket column, so the dedup state store actually evicts.
        .select("user_id", "event_type", F.window("ts", "1 day").alias("w"))
        .dropDuplicates(["user_id", "event_type", "w"])
        .select("user_id", "event_type", F.col("w.start").alias("day"))
    )


def interval_join(events: DataFrame, events2: DataFrame, how: str) -> DataFrame:
    """Stream-stream interval join (``how`` = inner, left_outer or
    full_outer): each purchase matched to the same user's clicks from
    the preceding hour; outer joins also emit the unmatched side's rows
    with nulls on the other side.

    Both sides carry watermarks so the join state is BOUNDED: state size
    tracks the time window, not history, which is what makes an
    infinite-stream join feasible. Matches emit as soon as both rows
    arrive. Unmatched rows cannot emit eagerly (a match may still
    arrive); they emit on state eviction, per side, read off the join
    condition ``p_ts - 1h <= c_ts <= p_ts``: a PURCHASE's match window
    closes at ``p_ts`` (clicks precede it), so its null row emits once
    the watermark passes ``p_ts``; a CLICK can match purchases up to
    ``c_ts + 1h``, so its null row emits once the watermark passes
    ``c_ts + 1h``. Rows inside the final watermark delay stay open and
    unemitted at end-of-input — completeness up to the watermark, the
    only completeness an unbounded join can claim.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        events2.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    ).select(
        "purchase_id",
        # p_user on every inner and left-outer row; c_user only on a
        # full-outer join's unmatched clicks
        F.coalesce("p_user", "c_user").alias("user_id"),
        "click_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )


def replay_dedup(events: DataFrame, events2: DataFrame) -> DataFrame:
    """Exactly-once ingestion from an at-least-once source: the same
    stream arrives twice (replay / duplicated delivery) and
    ``dropDuplicatesWithinWatermark`` on the event id keeps one copy.

    Unlike ``dropDuplicates``, state for an id is held only until the
    watermark passes its event time + delay, so the state store tracks
    the redelivery window (what a queue actually guarantees), not all
    history — the formulation that survives an unbounded stream.
    First sighting emits immediately (append mode).
    """
    both = events.unionByName(events2)
    return (
        both.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts", "value")
    )


# ------------------------------------------------------- custom stateful op

_EWMA_OUTPUT = "user_id bigint, n_events bigint, ewma_s bigint"
_EWMA_STATE = "acc bigint, n bigint"


def _ewma_fn(key, pdf_iter, state: GroupState):
    """Per-user dyadic EWMA ``acc ← (acc + x)//2`` carried across
    micro-batches in 16 bytes of keyed state — the streaming twin of
    operators/recurrence.py's batch fold.

    Within a batch, rows fold in (ts, event_id) order (arrival order
    inside the batch never decides). ACROSS batches the operator's
    contract is per-key event-time-ordered delivery — a Kafka key
    partition or time-landed files — the standard contract for any
    order-sensitive streaming reducer; the state is the exact integer
    accumulator, so replaying the same ordered stream through any batch
    split yields bit-identical results."""
    (user_id,) = key
    acc, n = state.get if state.exists else (0, 0)
    frames = [pdf for pdf in pdf_iter if len(pdf)]
    if frames:
        pdf = pd.concat(frames).sort_values(["ts", "event_id"])
        for x in pdf["x_s"].tolist():
            acc = (acc + int(x)) // 2
        n += len(pdf)
    state.update((int(acc), int(n)))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "ewma_s": [acc]}
    )


def stateful_ewma(events: DataFrame) -> DataFrame:
    """events must carry (user_id, x_s, ts, event_id); emits the
    running per-user EWMA each batch (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=_EWMA_OUTPUT,
        stateStructType=_EWMA_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_USER_STATS_OUTPUT = "user_id bigint, n_events bigint, max_value double"
_USER_STATS_STATE = "n bigint, mx double"


def _user_stats_fn(key, pdf_iter, state: GroupState):
    """Running (count, max) per user. Only order-independent statistics
    live in state, so the emitted values are deterministic regardless of
    batch/partition order — required for oracle comparison."""
    (user_id,) = key
    n, mx = state.get if state.exists else (0, None)
    for pdf in pdf_iter:
        n += len(pdf)
        if len(pdf):
            batch_max = float(pdf["value"].max())
            mx = batch_max if mx is None or batch_max > mx else mx
    state.update((n, mx))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "max_value": [mx]})


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Arbitrary keyed state via applyInPandasWithState — the Spark-native
    form of the reference's per-key session state (SURVEY.md §2.1 #14),
    here accumulating per-user event statistics across micro-batches.

    One shuffle per batch on user_id; state store holds 16 bytes/user.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType=_USER_STATS_OUTPUT,
        stateStructType=_USER_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESS_GAP_US = 1800 * 1_000_000
_SESS_OUTPUT = (
    "user_id bigint, session_start timestamp, session_end timestamp,"
    " n_events bigint"
)
_SESS_STATE = "starts array<bigint>, lasts array<bigint>, counts array<bigint>"


def _timeout_sessions_fn(key, pdf_iter, state: GroupState):
    """Gap-sessionization driven by EVENT-TIME TIMEOUTS: sessions live in
    keyed state and are emitted only when the watermark proves no
    further event can extend them (last_ts + gap ≤ watermark). This is
    the emission discipline session_window uses internally, built here
    on the raw GroupState API — the template for custom stateful
    operators Spark has no built-in for.

    State is the open-session list as parallel (start, last, n) arrays
    in event-time µs. New batches merge into it by interval order, so
    the function is correct for any in-order batch split of the input
    (maxFilesPerTrigger) and deterministic for the oracle because only
    event-time — never arrival order within a batch — decides sessions.
    """
    (user_id,) = key
    sessions: list[list[int]] = (
        [list(t) for t in zip(*state.get)] if state.exists else []
    )

    if not state.hasTimedOut:
        stamps: list[int] = []
        for pdf in pdf_iter:
            if len(pdf):
                stamps.extend(
                    int(v)
                    for v in pdf["ts"]
                    .astype("datetime64[us]")
                    .astype("int64")
                    .tolist()
                )
        for us in sorted(stamps):
            placed = False
            for s in sessions:
                if s[0] - _SESS_GAP_US < us < s[1] + _SESS_GAP_US:
                    s[0] = min(s[0], us)
                    s[1] = max(s[1], us)
                    s[2] += 1
                    placed = True
                    break
            if not placed:
                sessions.append([us, us, 1])
        sessions.sort()
        merged: list[list[int]] = []
        for s in sessions:
            if merged and s[0] < merged[-1][1] + _SESS_GAP_US:
                merged[-1][1] = max(merged[-1][1], s[1])
                merged[-1][2] += s[2]
            else:
                merged.append(s)
        sessions = merged

    wm_us = state.getCurrentWatermarkMs() * 1000
    closed = [s for s in sessions if s[1] + _SESS_GAP_US <= wm_us]
    open_ = [s for s in sessions if s[1] + _SESS_GAP_US > wm_us]

    if open_:
        state.update((
            [s[0] for s in open_],
            [s[1] for s in open_],
            [s[2] for s in open_],
        ))
        # fire when the watermark can close the earliest open session
        # (clamped one ms past the watermark — Spark rejects arming at
        # or before it)
        deadline_ms = min(s[1] for s in open_) // 1000 + 1800 * 1000
        state.setTimeoutTimestamp(max(deadline_ms, wm_us // 1000 + 1))
    elif state.exists:
        state.remove()

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(closed),
                "session_start": [pd.Timestamp(s[0], unit="us") for s in closed],
                "session_end": [
                    pd.Timestamp(s[1] + _SESS_GAP_US, unit="us") for s in closed
                ],
                "n_events": [s[2] for s in closed],
            }
        )


def timeout_sessions(events: DataFrame) -> DataFrame:
    """Custom stateful sessionization (see :func:`_timeout_sessions_fn`).

    The zero-second watermark delay makes end-of-input emission maximal:
    every session except those still extendable at the final watermark
    (last event within the gap of the stream's max event time) is
    emitted. One user_id shuffle per batch; state is the open-session
    tail per user, bounded by the gap — not history.
    """
    return (
        events.withWatermark("ts", "0 seconds")
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _timeout_sessions_fn,
            outputStructType=_SESS_OUTPUT,
            stateStructType=_SESS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """Exact per-window DISTINCT counting via CHAINED STATEFUL
    aggregations (Spark 3.4+ multiple-stateful-operator support):
    streaming doesn't allow count_distinct directly, so the classic
    rewrite — first aggregate to (window, type, user) rows, then
    re-aggregate the finalized windows to per-(window, type) user
    counts — runs as two stateful operators in ONE append-mode query.

    State is bounded per operator by the watermark (first operator:
    open windows × types × active users; second: open windows ×
    types); append emission means only watermark-closed windows reach
    the sink — the open tail is withheld, exactly like
    ``timeout_sessions``' unfinished sessions.
    """
    w1 = (
        events.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "1 hour").alias("window"), "event_type", "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        w1.groupBy("window", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_users",
            "n_events",
        )
    )


_ANOM_MIN_N = 5
_ANOM_OUTPUT = (
    "event_id bigint, user_id bigint, ts timestamp, value_s bigint,"
    " n_prior bigint"
)
_ANOM_STATE = (
    "n bigint, sum_s bigint, ssq_s bigint,"
    " stamps array<bigint>, ids array<bigint>, vals array<bigint>"
)


def _zscore_anomaly_fn(key, pdf_iter, state: GroupState):
    """Running z-score anomaly detection per user: an event is flagged
    when its value deviates from the user's PRIOR running mean by more
    than 3 population standard deviations (with at least ``_ANOM_MIN_N``
    prior events). All arithmetic is integer (value scaled ×1000; the
    3σ test is cross-multiplied to ``(n·v−Σ)² > 9·(n·Σv²−Σ²)``), so the
    emitted rows are bit-identical to the SQL restatement — float
    Welford accumulation could never be hash-verified cross-engine.

    Emission discipline (same as :func:`_timeout_sessions_fn`): events
    are HELD in keyed state until the watermark passes their event
    time, then processed in (event-time, event_id) order against the
    running moments — so the running prefix is exact for any in-order
    batch split, never arrival-order dependent. State per user is the
    un-finalized tail (bounded by watermark lag) plus three moment
    counters. Int64 moments bound the per-user horizon to ~2^63/v_s²
    events — a production run at 100 TB would decay or window the
    moments; the detection algebra is unchanged.
    """
    (user_id,) = key
    if state.exists:
        n, sum_s, ssq_s, stamps, ids, vals = state.get
        held = sorted(zip(stamps, ids, vals))
    else:
        n, sum_s, ssq_s, held = 0, 0, 0, []

    if not state.hasTimedOut:
        fresh = []
        for pdf in pdf_iter:
            if len(pdf):
                us = pdf["ts"].astype("datetime64[us]").astype("int64").tolist()
                fresh.extend(
                    zip(us, pdf["event_id"].tolist(), pdf["v_s"].tolist())
                )
        held = sorted(held + [(int(a), int(b), int(c)) for a, b, c in fresh])

    wm_us = state.getCurrentWatermarkMs() * 1000
    out_rows = []
    remaining = []
    for us, eid, v in held:
        if us >= wm_us:
            remaining.append((us, eid, v))
            continue
        if n >= _ANOM_MIN_N:
            lhs = n * v - sum_s
            if lhs * lhs > 9 * (n * ssq_s - sum_s * sum_s):
                out_rows.append((eid, us, v, n))
        n, sum_s, ssq_s = n + 1, sum_s + v, ssq_s + v * v

    if remaining:
        state.update((
            n, sum_s, ssq_s,
            [r[0] for r in remaining],
            [r[1] for r in remaining],
            [r[2] for r in remaining],
        ))
        state.setTimeoutTimestamp(wm_us // 1000 + 1)
    elif state.exists:
        state.remove()

    if out_rows:
        yield pd.DataFrame(
            {
                "event_id": [r[0] for r in out_rows],
                "user_id": [user_id] * len(out_rows),
                "ts": [pd.Timestamp(r[1], unit="us") for r in out_rows],
                "value_s": [r[2] for r in out_rows],
                "n_prior": [r[3] for r in out_rows],
            }
        )


def zscore_anomaly(events: DataFrame) -> DataFrame:
    """Streaming anomaly detection (see :func:`_zscore_anomaly_fn`).

    The value is scaled JVM-side (``floor(value·1000)`` — the identical
    IEEE expression the oracle uses); one user_id shuffle per batch.
    With the zero-second watermark, every event except those AT the
    stream's final max timestamp is scored; the open tail is withheld
    exactly like ``timeout_sessions``' unfinished sessions.
    """
    scaled = events.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("v_s"),
    )
    return (
        scaled.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _zscore_anomaly_fn,
            outputStructType=_ANOM_OUTPUT,
            stateStructType=_ANOM_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str | None = None,
    name: str | None = None,
    fn=None,
) -> None:
    """Exactly-once-shaped streaming file sink via ``foreachBatch``.

    Spark's built-in ``format("parquet")`` stream sink is already
    exactly-once through its ``_spark_metadata`` manifest; this is the
    pattern for sinks that are NOT (JDBC, keyed stores, object-store
    layouts readers scan without the manifest): stamp each micro-batch
    with its ``batch_id`` and dynamically overwrite only that batch's
    partition. A batch replayed after a failure rewrites its own
    partition byte-for-byte instead of appending duplicates —
    idempotent writes + the checkpoint's offset log = effectively
    exactly-once end-to-end. Runs to completion (AvailableNow).

    ``fn(batch_df, batch_id) -> DataFrame`` is the per-batch body (the
    identity when omitted): a stateless stream twin passes its batch
    kernel here and the sink writes what it returns.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        (
            (fn(batch_df, batch_id) if fn else batch_df)
            .withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(path)
        )

    _run(df, name or "to_parquet", _write, checkpoint=checkpoint)


def stream_upsert_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    key_cols: list[str],
    version_col: str,
    output_mode: str | None = None,
    name: str | None = None,
) -> None:
    """Streaming MERGE: each micro-batch upserts into a keyed parquet
    dataset via ``foreachBatch`` + :func:`jobx_spark.sources.sinks.
    upsert_parquet` (union → max_by precedence → crash-safe swap rewrite).

    Replayed batches are absorbed, not duplicated: re-upserting rows
    already merged picks the same per-key winner, so the sink converges
    to the same state — idempotence from the MERGE semantics themselves
    rather than from batch-id bookkeeping. This is the pattern for
    maintaining a continuously-updated dimension/state table from a
    change stream. Runs to completion (AvailableNow).
    """
    from jobx_spark.sources.sinks import finish_swap, upsert_parquet

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # an interrupted swap must not read as a missing dataset: the
        # bootstrap would rewrite it from this batch alone
        finish_swap(path)
        if not os.path.exists(path):
            # bootstrap: the first batch must itself collapse to one
            # winner per key (same precedence the upserts use)
            cols = batch_df.columns
            winners = (
                batch_df.groupBy(*key_cols)
                .agg(
                    F.max_by(
                        F.struct(*[F.col(c) for c in cols]),
                        F.col(version_col),
                    ).alias("__row")
                )
                .select("__row.*")
            )
            winners.write.mode("overwrite").parquet(path)
            return
        upsert_parquet(spark, path, batch_df, key_cols, version_col)

    # aggregations feed the MERGE in "update" mode: each batch emits
    # only the keys whose values changed, and the keyed upsert folds
    # them into the state table — append mode would hold every window
    # until the watermark passes it, which an AvailableNow run over
    # finite input never does for the tail windows.
    _run(df, name or "upsert", _merge, output_mode, checkpoint)


def finalize_update_stream(snapshot: DataFrame) -> DataFrame:
    """An update-mode memory sink appends one row per key per batch; the
    final state per key is the row with the highest running count
    (counts are monotone). Collapse to it with one aggregation."""
    best = F.max(F.struct(F.col("n_events"), F.col("max_value")))
    return (
        snapshot.groupBy("user_id")
        .agg(best.alias("b"))
        .select(
            "user_id",
            F.col("b.n_events").alias("n_events"),
            F.col("b.max_value").alias("max_value"),
        )
    )
