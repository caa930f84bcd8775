#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Wall-clock anchor for the rep budget — process start, so JVM spin-up
# and warmup count against it (the driver's timeout measures the same).
_T0 = time.monotonic()

# The driver wraps bench in `timeout 580`; r6's headline set at a flat
# 2 reps overran it (2×~280 s of queries + startup → exit 124,
# artifact lost). Reps are therefore BUDGETED and ordered so the most
# comparable numbers complete FIRST: pass 1a runs the WARM_ANCHOR
# queries cold then immediately warm (their min-of-2 total is THE
# round-over-round number — hoisted after the driver's r9 close
# exhausted the budget at 158 headliners × 1 rep and closed with
# warm_subset_total=0), pass 1b runs the rest of the benched set once
# (coverage of the capped set is unconditional), then pass 2 re-runs
# non-anchor queries for min-of-reps while inside the budget — an
# overrun degrades the pass-2 tail to single-rep timings, never the
# artifact to `parsed: null`. An in-flight query may overshoot the
# budget by its own runtime (≤ ~20 s), which the budget→timeout gap
# absorbs.
BENCH_BUDGET_S = float(os.environ.get("JOBX_BENCH_BUDGET_S", "530"))

# Artifact-survival hard stop: core coverage (pass 1b) is normally
# unconditional, but on a severely loaded box (the driver's close runs
# concurrently with its own verify — r9 closed at loadavg 8.55) an
# unconditional pass 1 can cross the driver's 580 s timeout and lose
# the WHOLE artifact (exit 124, parsed: null — the r6 failure mode).
# Past this mark pass 1b stops enrolling further core queries: the
# artifact closes with core_complete=false (an honest partial census)
# instead of not closing at all. The warm anchor is already safe — its
# reps complete in the first minutes.
BENCH_HARD_S = float(os.environ.get("JOBX_BENCH_HARD_S", "560"))

BENCH_REPS = 2  # per-query timing = min over this many runs

# FIXED benched core (VERDICT r9 #1b): at 158 auto-enrolled headliners
# pass 1 alone (~485 s quiet, ~539 s loaded) exhausted the rep budget
# and the driver's r9 artifact closed with warm_subset_total=0. The
# bench needs COMPARABILITY, not census — the correctness gate already
# covers all registry rows every round. So the benched set is now:
# this frozen ~120-query core (all 12 WARM_ANCHOR members included,
# every operator family represented) + a round-robin slice of the
# rotation pool (everything else that used to auto-enroll — redundant
# family members: the dup-graph diagnostics, PQ/IVF stage diagnostics,
# the fixed-overhead r9 stream twins, eval-twin text queries). Pool
# members hold a benched row at least every PASS1_ROTATION_PERIOD
# rounds; run_meta.bench_set records the split, run_meta.core_total is
# the secondary comparable (sum over exactly this list).
# Editing this list is a deliberate set-version change — note it in
# BENCH_NOTES.md.
BENCH_CORE = [
    # Order matters: build runs first so the serve row times the
    # SERVING path against the published artifact, not the ensure.
    "ann_index_build",
    "ann_index_serve",
    "ann_bruteforce_topk",
    "ann_dim_truncation_sweep",
    "ann_drift_census",
    "ann_hard_negatives",
    "ann_hybrid_rrf",
    "ann_ivf_append",
    "ann_ivf_pq_residual_topk",
    "ann_ivf_pq_topk",
    "ann_ivf_trained_topk",
    "ann_kcenter_select",
    "ann_knn_refine",
    "ann_lsh_topk",
    "ann_mmr_diversify",
    "ann_multiprobe_lsh",
    "ann_pca_project",
    "ann_pq_adc_topk",
    "ann_quantize_int8",
    "ann_range_search",
    "ann_rank_eval",
    "ann_recall_eval",
    "dedup_bloom_decontaminate",
    "dedup_components",
    "dedup_containment",
    "dedup_embedding_lsh",
    "dedup_entity_resolution",
    "dedup_exact",
    "dedup_incremental",
    "dedup_jaccard_prefix",
    "dedup_keep_canonical",
    "dedup_lsh_s_curve",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_paragraphs",
    "dedup_rate_by_source",
    "dedup_semantic",
    "dedup_semantic_leakage",
    "dedup_simhash",
    "dedup_substring_spans",
    "mr_engine_event_counts",
    "mr_engine_user_value",
    "multimodal_decode",
    "multimodal_features",
    "multimodal_phash",
    "multimodal_resize_real",
    "pipe_bpe_decode",
    "pipe_bpe_encode",
    "pipe_bpe_learn",
    "pipe_corpus_build",
    "pipe_curriculum_order",
    "pipe_dataset_card",
    "pipe_dp_release",
    "pipe_dsir_sample",
    "pipe_epochs_budget",
    "pipe_ewma_user_value",
    "pipe_k_anonymity",
    "pipe_l_diversity",
    "pipe_mix_temperature",
    "pipe_pack_sequences",
    "pipe_padding_waste",
    "pipe_pii_scrub",
    "pipe_quality_funnel",
    "pipe_quality_rules",
    "pipe_quantile_sketch",
    "pipe_sample_fixed_k",
    "pipe_sample_weighted",
    "pipe_shuffle_audit",
    "pipe_skew_census",
    "pipe_snapshot_diff",
    "pipe_stratified_k",
    "pipe_t_closeness",
    "pipe_tokenizer_fertility",
    "pipe_unimax_mixing",
    "pipe_watermark_lateness",
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q04_brand_revenue",
    "q07_topk_per_group",
    "q09_rollup",
    "q11_distinct_agg",
    "q15_json_extract",
    "q16_sessionize",
    "q20_asof_join",
    "q22_window_frames",
    "q24_percentile_disc",
    "q47_cohort_retention",
    "q49_local_supplier_volume",
    "q50_returned_items",
    "q56_salted_skew_join",
    "q57_range_bin_join",
    "q58_disjunctive_join",
    "q59_waiting_suppliers",
    "q61_promo_share",
    "q63_dominant_supplier",
    "q65_bloom_prefilter_join",
    "q66_binned_quantiles",
    "q68_product_profit",
    "q69_sequence_funnel",
    "q70_retention_cohorts",
    "stream_cms_users",
    "stream_hll_cards",
    "stream_quantile_sketch",
    "stream_scd_enrich",
    "stream_sink_rollup",
    "stream_stateful_user_stats",
    "stream_tumbling_agg",
    "text_bigram_score",
    "text_bm25_topk",
    "text_domain_signature",
    "text_fingerprint",
    "text_hll_distinct",
    "text_lang_id",
    "text_quality",
    "text_rake_keywords",
    "text_readability",
    "text_repetition",
    "text_source_divergence",
    "text_tfidf_terms",
    "text_token_histogram",
    "text_ttr",
    "text_winnow_fingerprints",
    "text_zipf_census",
]

# Pool slice size: every pool query benched within this many rounds.
PASS1_ROTATION_PERIOD = 3

# Deliberately-excluded 8× replication stress probes + the algorithm
# twin (see the exclusion note that used to live in main()): gated for
# correctness every round, never benched — folding them in would break
# the r1→rN series.
BENCH_EXCLUDE = (
    "dedup_components_scaled",
    "dedup_substring_scaled",
    "ann_bruteforce_scaled",
    "ann_kcenter_scaled",
    "ann_index_serve_scaled",
    "stream_window_distinct_scaled",
    "multimodal_decode_scaled",
    "dedup_components_lsss",
)

# Artifact-family lifecycle prerequisites (VERDICT r11 #3): the r11
# pool slice held ann_pq_index_serve without ann_pq_index_build, so
# the serve row paid the full in-plan codebook training via its ensure
# (7.58 s vs the 1.64 s controlled serving cost) — and the same
# pattern charged ann_index_compact for a whole append and
# dedup_index_append for its one-off base-segment build. Before a
# POOL-slice member of an artifact family takes its first timed rep,
# its prerequisites below run UNTIMED (the artifact materializes; the
# timed rep then measures the serving/maintenance/incremental path the
# row is named for). A self-prerequisite means "run the row itself
# once untimed first": append jobs pay a one-off base-segment build on
# first run, and the timed rep should measure the incremental append.
# BENCH_CORE rows are NOT prereq'd — the core trio already orders
# build before serve, and injecting ensures there would break the
# core_total series (this is a POOL accounting fix; noted as a pool
# set-version change in BENCH_NOTES §r12).
BENCH_PREREQ: dict[str, tuple[str, ...]] = {
    # serve/probe rows: build publishes the artifact being served
    "ann_index_serve": ("ann_index_build",),
    "ann_filtered_topk": ("ann_index_build",),
    "stream_index_serve": ("ann_index_build",),
    "ann_pq_index_serve": ("ann_pq_index_build",),
    "dedup_index_probe": ("dedup_index_build",),
    "stream_dedup_index_probe": ("dedup_index_build",),
    "text_bm25_index_serve": ("text_bm25_index_build",),
    "stream_bm25_index_serve": ("text_bm25_index_build",),
    "pipe_encode_serve": ("pipe_vocab_build",),
    # append rows: the first (untimed) run pays the one-off base
    # segment; the timed rep measures the incremental append
    "ann_index_append": ("ann_index_append",),
    "dedup_index_append": ("dedup_index_append",),
    "stream_dedup_index_append": ("dedup_index_append",),
    "text_bm25_index_append": ("text_bm25_index_append",),
    "stream_bm25_index_append": ("stream_bm25_index_append",),
    "stream_index_ingest": ("stream_index_ingest",),
    # compact rows: append materializes the generation being compacted
    "ann_index_compact": ("ann_index_append",),
    "dedup_index_compact": ("dedup_index_append",),
    "text_bm25_index_compact": ("text_bm25_index_append",),
}

# Round-over-round comparison anchor (VERDICT r6 #4): a FIXED set of
# expensive representatives that gets the first slice of the pass-2
# budget EVERY round, so their min-of-2 total (run_meta.
# warm_subset_total) is a directly comparable warm-to-warm number —
# no more prose reconstructing a common warm subset per round.
WARM_ANCHOR = [
    "pipe_dsir_sample",
    "dedup_jaccard_prefix",
    "dedup_lsh_s_curve",
    "dedup_keep_canonical",
    "dedup_containment",
    "dedup_semantic",
    "ann_pq_adc_topk",
    "ann_ivf_pq_topk",
    "ann_ivf_trained_topk",
    "text_bigram_score",
    "q01_pricing_summary",
    "stream_stateful_user_stats",
]

# Non-anchor pass-2 rotation stride: the descending-cost list advances
# by ~1/5 of its length per round, so every headline query holds a
# warm min-of-2 within ~5 rounds (VERDICT r6 #4).
ROTATION_PERIOD = 5


def _round_number() -> int:
    """Current build round, inferred from the BENCH_r{N}.json artifacts
    the driver leaves beside the repo (max N + 1); JOBX_BENCH_ROUND
    overrides for ad-hoc runs."""
    import glob
    import re

    env = os.environ.get("JOBX_BENCH_ROUND")
    if env:
        return int(env)
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def enrolled_queries(qs) -> list[str]:
    """The benched universe: every registry query except the
    deliberately-excluded replication probes — the REAL enrollment
    computation main() uses (factored out per ADVICE r11 so the
    contract test exercises this implementation instead of recomputing
    the same set expression itself)."""
    return [n for n in qs if n not in BENCH_EXCLUDE]


def pool_for_round(qs, rnd: int) -> tuple[list[str], list[str], int]:
    """(pool, this round's slice, offset). The pool is the enrolled
    set minus the frozen core, md5-name-ordered so families spread
    across slices; the slice advances by ~1/PASS1_ROTATION_PERIOD of
    the pool per round."""
    import hashlib

    core_set = set(BENCH_CORE)
    pool = sorted(
        (n for n in enrolled_queries(qs) if n not in core_set),
        key=lambda n: hashlib.md5(n.encode()).hexdigest(),
    )
    if not pool:
        return pool, [], 0
    stride = (len(pool) + PASS1_ROTATION_PERIOD - 1) // PASS1_ROTATION_PERIOD
    offset = (((rnd - 1) % PASS1_ROTATION_PERIOD) * stride) % len(pool)
    wrapped = pool[offset:] + pool[:offset]
    return pool, wrapped[:stride], offset


LINE_BUDGET = 1600  # driver tail window is 2000 chars; leave headroom


def budget_line(timings: dict[str, float], sf: float) -> tuple[str, dict]:
    """The final JSON line, guaranteed ≤ LINE_BUDGET chars: cheapest
    queries fold into other_sec/n_queries until the line fits. value
    always covers ALL queries."""
    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": dict(timings),
        "sf": sf,
    }
    kept = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    line = json.dumps(out, separators=(",", ":"))
    while len(line) > LINE_BUDGET and len(kept) > 1:
        kept.pop()
        shown = dict(sorted(kept))
        out["queries"] = shown
        out["n_queries"] = len(timings)
        out["other_sec"] = round(
            sum(v for k, v in timings.items() if k not in shown), 3
        )
        line = json.dumps(out, separators=(",", ":"))
    return line, out


def run_meta(
    load_start: float, load_end: float, timings: dict[str, float],
    reps_done: dict[str, int] | None = None,
    rotation: dict | None = None,
    bench_set: dict | None = None,
    calibration: dict | None = None,
) -> dict:
    """Run-environment stamp for BENCH_FULL.json. External load ≈
    loadavg beyond what this bench itself generates; the start sample
    (taken before our JVM spun up) is the cleaner quiet/loaded signal,
    the end sample catches load arriving mid-run."""
    import datetime
    import hashlib

    ncpu = os.cpu_count() or 1
    return {
        "timestamp_utc": datetime.datetime.now(datetime.timezone.utc)
        .isoformat(timespec="seconds"),
        "quiet_box": load_start < max(2.0, ncpu * 0.25),
        "concurrent_load_hint": {
            "loadavg_1m_start": round(load_start, 2),
            "loadavg_1m_end": round(load_end, 2),
            "cpus": ncpu,
        },
        "headline_set_version": hashlib.sha256(
            ",".join(sorted(timings)).encode()
        ).hexdigest()[:12],
        "n_queries": len(timings),
        # per-query timing is min-of-N (VERDICT r5 #8): single runs on
        # a shared box are noise-dominated; the minimum is the
        # steady-state cost of the plan itself. Second reps are
        # wall-clock-budgeted (see BENCH_BUDGET_S): reps_completed
        # says how many queries actually got each rep count.
        "reps_target": BENCH_REPS,
        "timing": "min_of_reps",
        "rep_budget_s": BENCH_BUDGET_S,
        "reps_completed": (
            {
                str(k): sum(1 for v in reps_done.values() if v == k)
                for k in sorted(set(reps_done.values()))
            }
            if reps_done
            else {}
        ),
        # per-query rep counts: lets a reader tell a warm min-of-2 row
        # from a cold single-rep row before comparing across rounds
        "reps_per_query": dict(sorted(reps_done.items())) if reps_done else {},
        # the round-over-round comparison NUMBER (VERDICT r6 #4): sum
        # of min-of-reps timings over the fixed WARM_ANCHOR queries
        # that actually held ≥2 reps this run; warm_anchor_complete
        # says whether all of them did (budget permitting, always).
        "warm_subset_total": round(
            sum(
                timings.get(n, 0.0)
                for n in WARM_ANCHOR
                if (reps_done or {}).get(n, 0) >= 2
            ),
            3,
        ),
        # An anchor query missing from timings entirely (renamed/
        # removed from the registry) must read as INCOMPLETE, not
        # silently shrink the comparable number while the flag still
        # says complete — and (ADVICE r8) a reps_done entry WITHOUT a
        # timing (inconsistent driver state) is the same lie: require
        # both the ≥2 reps AND the timing row.
        "warm_anchor_complete": all(
            (reps_done or {}).get(n, 0) >= 2 and n in timings
            for n in WARM_ANCHOR
        ),
        # the SECONDARY comparable (VERDICT r9 #1b): pass-1/min total
        # over exactly the frozen BENCH_CORE — unlike `value` it never
        # moves when the rotation slice changes; core_complete guards
        # against a core query missing from timings reading as a
        # smaller (better) total.
        "core_total": round(
            sum(timings.get(n, 0.0) for n in BENCH_CORE), 3
        ),
        "core_complete": all(n in timings for n in BENCH_CORE),
        # pass-2 rotation stamp: which round offset the non-anchor
        # descending-cost list started at this run
        "pass2_rotation": rotation or {},
        # benched-set split: frozen core + this round's pool slice
        "bench_set": bench_set or {},
        # constant-work box-speed canary (VERDICT r11 #5): start/end
        # samples of a fixed Spark job + a fixed numpy loop — a slow
        # box moves these with the anchors; a code regression moves
        # the anchors alone
        "calibration": calibration or {},
    }


def main() -> None:
    from jobx_spark.queries import all_queries
    from jobx_spark.session import get_spark

    spark = get_spark("jobx_spark_bench")
    qs = all_queries()
    # fail LOUDLY if an anchor query fell out of the registry (ADVICE
    # r7): the warm anchor is THE round-over-round number and must
    # never quietly shrink via a rename
    missing_anchor = [n for n in WARM_ANCHOR if n not in qs]
    if missing_anchor:
        raise KeyError(f"WARM_ANCHOR names not in registry: {missing_anchor}")
    # ... and the anchor must live inside the frozen core (it gets the
    # hoisted warm reps below); a core name falling out of the registry
    # is the same silent-shrink bug as a renamed anchor — fail loudly.
    stray_anchor = [n for n in WARM_ANCHOR if n not in BENCH_CORE]
    if stray_anchor:
        raise KeyError(f"WARM_ANCHOR names not in BENCH_CORE: {stray_anchor}")
    missing_core = [n for n in BENCH_CORE if n not in qs]
    if missing_core:
        raise KeyError(f"BENCH_CORE names not in registry: {missing_core}")
    # Enrollment (VERDICT r9 #1b, widened per ADVICE r10): the benched
    # set is the frozen BENCH_CORE plus a round-robin slice of the
    # rotation pool. The pool = ENTIRE registry − core − excluded
    # probes, so EVERY query (present and future) lands in the pool by
    # default and the comparable core stays fixed. The pool slice is
    # budget-checked (pass 1c records skips in bench_set.pool_skipped),
    # so a larger pool degrades to honest partial coverage, never to a
    # lost artifact. tests/test_bench_contract.py pins full enrollment.
    # hash-ordered, not alphabetical: an alphabetical pool clumps whole
    # families (e.g. every ann_* diagnostic) into one round's slice —
    # the md5 order spreads families across slices deterministically
    rnd = _round_number()
    pool, pool_slice, pool_offset = pool_for_round(qs, rnd)
    names = list(BENCH_CORE) + pool_slice

    # Load snapshot BEFORE warmup: a high 1-min loadavg here means some
    # other process (e.g. the driver's verify) is sharing the box and
    # the numbers describe a LOADED run — r4's 215s-vs-195s ambiguity
    # (VERDICT r4 #5) came from exactly that, unrecorded.
    load_start = os.getloadavg()[0]

    # warm the JVM, parquet footers and Python UDF workers once (not timed)
    qs["q01_pricing_summary"](spark, SF_DIR).count()
    qs["ann_bruteforce_topk"](spark, SF_DIR).count()

    # Box-speed canary (VERDICT r11 #5): constant work, timed at the
    # start and end of the run. Three rounds of anchors moving 1.2-1.5×
    # on UNCHANGED plans were each adjudicated ambient via a manual
    # median-ratio forensic; the canary separates a slow box from a
    # real regression mechanically — BENCH_NOTES restates anchors raw
    # AND canary-normalized (anchor ÷ (spark_fixed_s / its r12
    # baseline)).
    def calibrate() -> dict:
        import numpy as np

        t0 = time.monotonic()
        spark.range(0, 256_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s", "sum(id * 3 % 11) AS t"
        ).collect()
        spark_s = time.monotonic() - t0
        a = np.arange(8_000_000, dtype=np.float64)
        t0 = time.monotonic()
        for _ in range(16):
            a = np.sqrt(a * 1.0000001 + 1.0)
        numpy_s = time.monotonic() - t0
        return {
            "spark_fixed_s": round(spark_s, 3),
            "numpy_fixed_s": round(numpy_s, 3),
        }

    calib_start = calibrate()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # best-of-2: single runs on a shared box are noise-dominated; the
    # minimum is the steady-state cost the plan actually has.
    #
    # Action = noop write, not count(): under a count Catalyst prunes
    # every column and can skip the projection work entirely, so
    # projection-shaped queries would time as scans. The noop sink
    # evaluates every output row/column and discards it; an Observation
    # rides along to report row counts without a second run.
    def run_once(name: str) -> tuple[float, int]:
        t0 = time.monotonic()
        df = qs[name](spark, SF_DIR)
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("rows"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.monotonic() - t0, obs.get["rows"]

    timings: dict[str, float] = {}
    reps_done: dict[str, int] = {}
    rows_seen: dict[str, int] = {}

    def pass1(name: str) -> None:
        t, n = run_once(name)
        timings[name] = round(t, 3)
        reps_done[name] = 1
        rows_seen[name] = n

    # pass 1a: the WARM_ANCHOR slice first, cold reps...
    for name in WARM_ANCHOR:
        pass1(name)
    # ...then their warm reps IMMEDIATELY (VERDICT r9 #1a): the anchor
    # min-of-2 total is THE round-over-round number and must complete
    # even when later passes exhaust the budget — hoisted here it
    # finishes within the first ~2.5 minutes, while ~400 s of budget
    # remain, instead of dying at the pass-2 tail like the driver's r9
    # close (warm_subset_total=0, 158 headliners × 1 rep).
    anchor_exhausted = False
    for rep in range(1, BENCH_REPS):
        for name in WARM_ANCHOR:
            if time.monotonic() - _T0 > BENCH_BUDGET_S:
                anchor_exhausted = True
                break
            t, _ = run_once(name)
            timings[name] = round(min(timings[name], t), 3)
            reps_done[name] += 1
        if anchor_exhausted:
            break
    # pass 1b: the rest of the CORE once — unconditional up to the
    # artifact-survival hard stop (see BENCH_HARD_S): an overrun
    # degrades pass 2 and the pool slice first, the core census only
    # under extreme load, the artifact never
    core_skipped: list[str] = []
    for name in BENCH_CORE:
        if name in timings:
            continue
        if time.monotonic() - _T0 > BENCH_HARD_S:
            core_skipped.append(name)
            continue
        pass1(name)
    # pass 1c: this round's pool slice, BUDGET-CHECKED — a pool query
    # that misses its slot is simply not benched this round (it is
    # still correctness-gated every round); pool_skipped in run_meta
    # says so. Without this check a slice that happens to hold several
    # heavy queries could push pass 1 past the driver's timeout and
    # lose the whole artifact.
    pool_skipped: list[str] = []
    prereqs_run: list[str] = []
    for name in pool_slice:
        if name in timings:
            continue
        if time.monotonic() - _T0 > BENCH_BUDGET_S:
            pool_skipped.append(name)
            continue
        # lifecycle prereqs (VERDICT r11 #3): materialize the family's
        # artifact UNTIMED so the timed rep measures the path the row
        # is named for, not the whole lifecycle. A prereq already
        # timed this run (core ordering or an earlier slice member)
        # has published the artifact — skip it.
        for pre in BENCH_PREREQ.get(name, ()):
            if pre in timings or pre in prereqs_run:
                continue
            run_once(pre)
            prereqs_run.append(pre)
        pass1(name)
    names = [n for n in names if n in timings]
    # pass 2+: min-of-reps for NON-anchor queries (anchors already hold
    # their reps) only while inside the budget — every query ≥ 1 s in
    # descending pass-1-time order, ROTATED by a round-keyed offset
    # (1/ROTATION_PERIOD of the list per round) so warm coverage sweeps
    # the whole set within ~ROTATION_PERIOD rounds instead of the same
    # top-23 hogging the budget forever. Sub-second non-anchors are
    # never worth a re-run. run_meta.reps_per_query records who got a
    # warm min, so cross-round comparisons can filter on equal
    # treatment.
    # pass 2a: one LATE-WARM anchor rep (min over 3 total). The hoisted
    # pass-1a reps guarantee the anchor number always COMPLETES, but
    # both of those reps run in the first minutes of the session — the
    # first close under the hoist read 77.2 vs the r9 series' 54–63,
    # a uniform 1.2–1.7× on unchanged plans, because the old series'
    # second reps ran after ~470 s of pass-1 warm-up. This rep restores
    # that measurement condition whenever budget allows; when the box
    # is squeezed the early min-of-2 still stands (complete, flagged by
    # reps_per_query = 2 instead of 3 for cross-round readers).
    for name in WARM_ANCHOR:
        if time.monotonic() - _T0 > BENCH_BUDGET_S:
            break
        t, _ = run_once(name)
        timings[name] = round(min(timings[name], t), 3)
        reps_done[name] += 1
    rest = sorted(
        (n for n in names if timings[n] >= 1.0 and n not in WARM_ANCHOR),
        key=lambda n: (-timings[n], n),
    )
    offset = 0
    if rest:
        stride = (len(rest) + ROTATION_PERIOD - 1) // ROTATION_PERIOD
        offset = (((rnd - 1) % ROTATION_PERIOD) * stride) % len(rest)
        rest = rest[offset:] + rest[:offset]
    # budget-exhausted exits BOTH loops (ADVICE r6): with BENCH_REPS
    # > 2 the old inner-only break re-walked every remaining rep×query
    budget_exhausted = False
    for rep in range(1, BENCH_REPS):
        for name in rest:
            if time.monotonic() - _T0 > BENCH_BUDGET_S:
                budget_exhausted = True
                break
            if reps_done[name] > rep:
                continue
            t, _ = run_once(name)
            timings[name] = round(min(timings[name], t), 3)
            reps_done[name] += 1
        if budget_exhausted:
            break
    for name in names:
        print(
            f"# {name}: {timings[name]}s rows={rows_seen[name]}"
            f" reps={reps_done[name]}",
            file=sys.stderr,
        )

    sf = float(os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or 0.1)
    # The driver captures only the LAST 2000 chars of combined output
    # and parses the JSON line out of that window — round 3's line was
    # ~2.4k chars and arrived head-truncated (BENCH_r03.json parsed:
    # null). Budget the line; the full per-query map goes to
    # BENCH_FULL.json beside the repo for the judge.
    line, _ = budget_line(timings, sf)
    full = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": dict(timings),
        "sf": sf,
        # run-environment stamp (VERDICT r4 #5): lets a reader tell a
        # quiet-box close from a driver run taken under concurrent
        # verify load without cross-referencing BENCH_NOTES.md.
        "run_meta": run_meta(
            load_start, os.getloadavg()[0], timings, reps_done,
            rotation={
                "round": rnd,
                "offset": offset,
                "n_rest": len(rest),
                "period": ROTATION_PERIOD,
            },
            bench_set={
                "n_core": len(BENCH_CORE),
                "n_pool": len(pool),
                "pool_slice": pool_slice,
                "pool_skipped": pool_skipped,
                "core_skipped": core_skipped,
                "pool_offset": pool_offset,
                "pass1_rotation_period": PASS1_ROTATION_PERIOD,
                # untimed lifecycle materializations run before pool
                # rows (VERDICT r11 #3) — their cost is real but
                # charged to no row; listed so a reader can tell a
                # prereq'd serve number from a lifecycle-inclusive one
                "pool_prereqs_run": prereqs_run,
            },
            calibration={"start": calib_start, "end": calibrate()},
        ),
    }
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w", encoding="utf-8") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    spark.stop()
    # printed AFTER spark.stop() so no shutdown log line lands behind
    # it inside the driver's 2000-char tail window
    print(line)


if __name__ == "__main__":
    main()
