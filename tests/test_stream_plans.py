"""Streaming-surface plan gate (VERDICT r4 #3): every stream_* query's
state-store operators and watermark are pinned, so a regression that
drops a watermark (unbounded state in a continuous deployment) or
changes a stateful operator shape fails CI — the streaming counterpart
of tests/test_plan_audit.py's batch gates.

Expectations come in three legitimate shapes:
  * wm=True  — event-time state; the watermark MUST be present or the
    state store grows without bound on a live feed;
  * wm=False — state bounded by KEY CARDINALITY by construction
    (sketch registers, CMS cells, per-type rollups): a watermark is
    not required, and its absence is asserted so accidental watermark
    introduction (which would silently DROP late rows) fails too;
  * ops=set() — stateless per micro-batch (foreachBatch MERGE).
"""

import pytest

SF = "/root/testdata/sf0.001"

# query → (state operator multiset over ALL its runs, watermark rule,
# required join nodes). Runs = number of streaming queries started
# (incremental_restart runs two phases).
EXPECT = {
    "stream_tumbling_agg": (["stateStoreSave"], True, set()),
    "stream_sliding_agg": (["stateStoreSave"], True, set()),
    "stream_session_window": (["sessionWindowStateStoreSaveExec"], True, set()),
    # processing-time-timeout state keyed by user_id — no event-time
    # watermark; state bounds at the live-key working set
    "stream_stateful_user_stats": (["applyInPandasWithState"], False, set()),
    "stream_interval_join": (
        ["symmetricHashJoin"], True, {"StreamingSymmetricHashJoin"}),
    "stream_left_outer_join": (
        ["symmetricHashJoin"], True, {"StreamingSymmetricHashJoin"}),
    "stream_full_outer_join": (
        ["symmetricHashJoin"], True, {"StreamingSymmetricHashJoin"}),
    # static dim joins the stream via BROADCAST (the 100 TB-correct
    # side); the agg is per-segment — bounded keys, no watermark
    "stream_static_enrich": (["stateStoreSave"], False, {"BroadcastHashJoin"}),
    "stream_dedup_activity": (["dedupe"], True, set()),
    "stream_replay_dedup": (["dedupeWithinWatermark"], True, set()),
    "stream_timeout_sessions": (["applyInPandasWithState"], True, set()),
    # aggregation over a bounded scrub-rule census — keys are rule ids
    "stream_pii_scrub": (["stateStoreSave"], False, set()),
    "stream_zscore_anomaly": (["applyInPandasWithState"], True, set()),
    "stream_topk_trending": (["stateStoreSave"], True, set()),
    # two-phase distinct: two stateful aggs in one run
    "stream_window_distinct": (["stateStoreSave", "stateStoreSave"], True, set()),
    # the 8×-replication scale probe runs the same production path
    "stream_window_distinct_scaled": (
        ["stateStoreSave", "stateStoreSave"], True, set()),
    # sketch-register state: ≤ m rows by construction, watermark-free
    "stream_hll_cards": (["stateStoreSave"], False, set()),
    "stream_cms_users": (["stateStoreSave"], False, set()),
    # fixed-rule histogram bins: state ≤ |value domain|/binw per type,
    # watermark-free like the other mergeable-sketch twins (r8)
    "stream_quantile_sketch": (["stateStoreSave"], False, set()),
    # two phases (pre/post restart), each a bounded-key rollup
    "stream_incremental_restart": (
        ["stateStoreSave", "stateStoreSave"], False, set()),
    # two phases through ONE checkpoint; 16-byte accumulators per user,
    # no event-time state to bound — watermark-free by design
    "stream_ewma_user_value": (
        ["applyInPandasWithState", "applyInPandasWithState"], False, set()),
    "stream_sink_rollup": (["stateStoreSave"], True, set()),
    # foreachBatch MERGE — stateless per batch, state lives in the sink
    "stream_scd_enrich": ([], False, set()),
    # stateless-foreachBatch Bloom prefilter: the filter is a static
    # broadcast side; per-doc censuses are batch-local, zero state (r9)
    "stream_bloom_decontaminate": ([], False, set()),
    # stateless-foreachBatch vector ingest: assignment is per-row
    # arithmetic against the frozen broadcast quantizer (r9)
    "stream_ivf_append": ([], False, set()),
    # stateless-foreachBatch drift partials: one integer partial-sums
    # row per micro-batch, merged in the sink by exact addition (r9)
    "stream_drift_census": ([], False, set()),
    # stateless-foreachBatch online vector serving: per-batch probe
    # routing + pruned-index ranking against the frozen persisted
    # index/centroids side inputs (r10)
    "stream_index_serve": ([], False, set()),
    # stateless-foreachBatch incremental dedup probe: per-batch banding
    # against the frozen persisted band index
    "stream_dedup_index_probe": ([], False, set()),
    # stateless-foreachBatch band-index ingest: per-batch banding
    # against frozen constants, unioned with the materialized base
    "stream_dedup_index_append": ([], False, set()),
    # stateless-foreachBatch persisted vector ingest: per-batch
    # assignment via the frozen persisted quantizer, new files landing
    # directly in the on-disk index under seg=b<batch_id>
    "stream_index_ingest": ([], False, set()),
    # stateless-foreachBatch online retrieval: per-batch BM25 serving
    # against the frozen persisted inverted index
    "stream_bm25_index_serve": ([], False, set()),
    "stream_bm25_index_append": ([], False, set()),
}

FORBIDDEN_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


@pytest.fixture(scope="module")
def run_logs(spark):
    from jobx_spark import streaming as S
    from jobx_spark.queries import all_queries

    qs = all_queries()
    logs: dict[str, list[dict]] = {}
    for name in sorted(qs):
        if not name.startswith("stream_"):
            continue
        S.RUN_LOG.clear()
        qs[name](spark, SF)
        logs[name] = list(S.RUN_LOG)
    S.RUN_LOG.clear()
    return logs


def test_every_stream_query_has_a_pinned_expectation(run_logs):
    """A new stream query must declare its state/watermark contract
    here before it ships."""
    assert sorted(run_logs) == sorted(EXPECT)


def test_state_operators_and_watermarks_match_contract(run_logs):
    problems = []
    for name, (want_ops, want_wm, want_joins) in EXPECT.items():
        runs = run_logs[name]
        got_ops = sorted(op for r in runs for op in r["state_operators"])
        if got_ops != sorted(want_ops):
            problems.append(f"{name}: state ops {got_ops} != {sorted(want_ops)}")
        wms = [r["watermark"] for r in runs if r["state_operators"]]
        if want_wm and not any(wms):
            problems.append(f"{name}: stateful but NO watermark — unbounded state")
        if not want_wm and any(wms):
            problems.append(
                f"{name}: unexpected watermark {wms} — would drop late rows"
            )
        plans = "\n".join(r["plan"] for r in runs)
        for node in FORBIDDEN_NODES:
            if node in plans:
                problems.append(f"{name}: forbidden plan node {node}")
        for node in want_joins:
            if node not in plans:
                problems.append(f"{name}: required join node {node} missing")
    assert not problems, "\n".join(problems)


def test_scaled_probe_state_rows_watermark_bounded(run_logs, spark):
    """The r6 streaming scale probe's assertion (VERDICT r5 #4): after
    the final micro-batch, state-store rows on the 8×-replicated run
    are WINDOW-cardinality-sized (the watermark evicted closed
    windows), never event-cardinality-sized — the property that keeps
    a continuous 100 TB deployment's state store finite."""
    from jobx_spark.sources import REPLICAS

    runs = run_logs["stream_window_distinct_scaled"]
    assert runs, "probe did not record a streaming run"
    rows = [n for r in runs for n in r.get("state_rows", []) if n is not None]
    assert rows, "no state-row counts captured"
    n_events = (
        spark.read.parquet(f"{SF}/events.parquet").count() * REPLICAS
    )
    # events span ~a month of hourly windows × a handful of types: the
    # retained state must be orders of magnitude below event count
    assert sum(rows) < n_events / 10, (rows, n_events)
    assert all(r["watermark"] for r in runs)
