"""Pin Structured Streaming's ACTUAL watermark semantics for windowed
aggregations, discovered empirically while designing a late-drop census
operator (round 6):

  * Plain ``dropDuplicates`` NEVER drops late rows — the watermark only
    bounds its state (``dropDuplicatesWithinWatermark`` exists for
    arrival-based expiry).
  * A watermarked tumbling-window aggregation in append mode does NOT
    discard late rows either (this Spark build's
    ``numRowsDroppedByWatermark`` stays 0): a row arriving behind the
    watermark re-creates its window in state and the window is emitted
    (again, if need be) at the next eviction. Nothing is lost.
  * What the watermark DOES determine observably is the WITHHELD TAIL:
    append emission covers exactly the windows whose end ≤ final
    watermark (global max event time − delay); the open tail stays in
    state.

These facts are why there is no ``stream_watermark_drops`` operator:
the drop census would be identically zero on Spark, while the tail rule
is already gated by the append-mode stream queries. If an upgrade
changes either behavior — late rows silently discarded, or the tail
rule shifting — training pipelines built on "streaming loses nothing"
MUST find out, so this test pins both with the multi-batch replay
harness (``streaming.stream_replay``), the only configuration in
which a watermark can advance mid-stream at all.
"""

from pyspark.sql import functions as F


def test_late_rows_merge_and_tail_is_watermark_bounded(spark, sf_dir):
    from jobx_spark import streaming as S
    from jobx_spark.functions import md5_long
    from jobx_spark.queries.pipeline import WM_JITTER_US
    from jobx_spark.sources import load_table

    delay_s = 900
    ev = load_table(spark, sf_dir, "events")
    jitter = F.pmod(
        md5_long(F.concat(F.lit("arr:"), F.col("event_id").cast("string"))),
        F.lit(WM_JITTER_US),
    )
    base = ev.select(
        "event_id", "ts", (F.unix_micros("ts") + jitter).alias("arr")
    )
    n_total = base.count()

    # ≤6 h jittered arrival split into 8 replay files — the watermark
    # advances 7 times mid-stream, so late rows genuinely exist
    stream = S.stream_replay(base, ["arr", "event_id"], 8, "wmsem")
    agg = (
        stream.withWatermark("ts", f"{delay_s} seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = S.run_available_now(agg, "append", "wmsem")

    emitted = out.agg(F.sum("n")).first()[0] or 0
    max_ts_us = base.agg(F.max(F.unix_micros("ts"))).first()[0]
    final_wm_us = max_ts_us - delay_s * 1_000_000
    # tail = rows in windows whose end (next hour boundary) the final
    # watermark has not passed
    tail_rows = base.filter(
        (F.floor(F.unix_micros("ts") / 3_600_000_000) + 1) * 3_600_000_000
        > F.lit(final_wm_us)
    ).count()

    # 1. nothing is late-DROPPED: every input row is accounted for in
    #    emitted windows + the withheld open tail
    assert emitted + tail_rows == n_total
    # 2. the tail rule is exactly "window_end > final watermark"
    assert out.count() > 0 and 0 < tail_rows < n_total


def test_drop_duplicates_passes_late_rows(spark, sf_dir):
    from jobx_spark import streaming as S
    from jobx_spark.functions import md5_long
    from jobx_spark.queries.pipeline import WM_JITTER_US
    from jobx_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    jitter = F.pmod(
        md5_long(F.concat(F.lit("arr:"), F.col("event_id").cast("string"))),
        F.lit(WM_JITTER_US),
    )
    base = ev.select(
        "event_id", "ts", (F.unix_micros("ts") + jitter).alias("arr")
    )
    n_total = base.count()
    stream = S.stream_replay(base, ["arr", "event_id"], 8, "wmdd")
    dd = stream.withWatermark("ts", "900 seconds").dropDuplicates(
        ["event_id", "ts"]
    )
    out = S.run_available_now(dd, "append", "wmdd")
    # every unique row survives — the watermark bounds state, it does
    # not filter arrivals
    assert out.count() == n_total
