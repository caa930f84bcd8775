"""Executed-property pins for the round-9 operators.

Each r9 addition's oracle gate proves Spark == DuckDB; these tests pin
the SEMANTIC claims the docstrings make — fusion dominance, greedy
optimality, water-filling feasibility, recall monotonicity and phase
partitioning — as executed properties computed independently of the
query implementations (the stream-equals-batch certificate lives in
tests/test_stream_runner.py).
"""

SF = "/root/testdata/sf0.001"


def _rows(spark, name, sf=SF):
    from jobx_spark.queries import all_queries

    return all_queries()[name](spark, sf).collect()


# -- ann_hybrid_rrf ----------------------------------------------------------
def test_rrf_fused_ranking_is_sound(spark):
    from jobx_spark.queries.similarity import K, RRF_L, RRF_RC

    rows = _rows(spark, "ann_hybrid_rrf")
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        for r in rs:
            # every fused doc came from at least one retriever, and its
            # score is exactly the sum of the two lcm-scaled terms
            assert r["lex_rank"] > 0 or r["dense_rank"] > 0
            want = (RRF_L // (RRF_RC + r["lex_rank"]) if r["lex_rank"] else 0)
            want += (
                RRF_L // (RRF_RC + r["dense_rank"]) if r["dense_rank"] else 0
            )
            assert r["rrf_x"] == want
        # fused order is non-increasing in score with doc_id tiebreak
        for a, b in zip(rs, rs[1:]):
            assert (a["rrf_x"], -a["doc_id"]) > (b["rrf_x"], -b["doc_id"])
        # a doc ranked #1 by BOTH retrievers holds the maximum possible
        # score and must lead the fusion
        both_first = [
            r for r in rs if r["lex_rank"] == 1 and r["dense_rank"] == 1
        ]
        if both_first:
            assert both_first[0]["rank"] == 1
        assert len(rs) <= K


# -- ann_mmr_diversify -------------------------------------------------------
def test_mmr_each_pick_maximizes_the_objective(spark):
    """Independent re-derivation: rebuild the pool and pairwise sims
    from the attested building blocks, then check every pick is the
    argmax of 7·rel − 3·max_sim over the remaining candidates given the
    PRIOR picks (ties to the lowest vec_id)."""
    import numpy as np
    from pyspark.sql import functions as F

    from jobx_spark.operators.similarity import brute_force_topk
    from jobx_spark.queries.similarity import (
        MMR_LAM10,
        MMR_M,
        MMR_POOL,
        _probe_queries,
    )
    from jobx_spark.sources import load_table

    rows = _rows(spark, "ann_mmr_diversify")
    assert rows
    emb = load_table(spark, SF, "embeddings")
    bf = brute_force_topk(emb, _probe_queries(emb), k=MMR_POOL + 1).filter(
        F.col("vec_id") != F.col("query_id")
    )
    pool = (
        bf.join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "query_id",
            "vec_id",
            (F.col("cosine") * F.lit(1000000.0)).cast("long").alias("rel"),
            "embedding",
        )
        .collect()
    )
    by_q = {}
    for p in pool:
        by_q.setdefault(p["query_id"], []).append(p)
    picks = {}
    for r in rows:
        picks.setdefault(r["query_id"], []).append(r)
    for qid, prs in picks.items():
        prs = sorted(prs, key=lambda r: r["pick_order"])
        assert [r["pick_order"] for r in prs] == list(range(1, MMR_M + 1))
        cands = by_q[qid]
        ids = [p["vec_id"] for p in cands]
        rel = {p["vec_id"]: p["rel"] for p in cands}
        mat = {
            p["vec_id"]: np.asarray(p["embedding"], dtype=np.float64)
            for p in cands
        }

        def sim(a, b):
            da = np.floor(mat[a] * mat[b] * 1e12).astype(np.int64).sum()
            na = np.floor(mat[a] * mat[a] * 1e12).astype(np.int64).sum()
            nb = np.floor(mat[b] * mat[b] * 1e12).astype(np.int64).sum()
            return int(
                np.trunc(
                    float(da) / (np.sqrt(float(na)) * np.sqrt(float(nb)))
                    * 1e6
                )
            )

        chosen = []
        for r in prs:
            best = max(
                (v for v in ids if v not in chosen),
                key=lambda v: (
                    MMR_LAM10 * rel[v]
                    - (10 - MMR_LAM10)
                    * (max(sim(v, s) for s in chosen) if chosen else 0),
                    -v,
                ),
            )
            assert r["vec_id"] == best, (
                f"query {qid} pick {r['pick_order']}: got {r['vec_id']}, "
                f"objective argmax is {best}"
            )
            chosen.append(best)
        assert len(set(chosen)) == MMR_M  # picks are distinct


# -- ann_multiprobe_lsh ------------------------------------------------------
def test_multiprobe_recall_never_below_single_probe(spark):
    """Superset candidates + exact rescore + same tiebreak ⇒ per-query
    mp_hits ≥ sp_hits (the ann_knn_refine monotonicity argument),
    executed; the probe count and candidate superset ride along."""
    from jobx_spark.queries.similarity import MP_FLIPS

    rows = _rows(spark, "ann_multiprobe_lsh")
    assert rows
    for r in rows:
        assert r["mp_hits"] >= r["sp_hits"], (
            f"query {r['query_id']}: multi-probe dropped recall "
            f"{r['sp_hits']} -> {r['mp_hits']}"
        )
        assert r["mp_cands"] >= r["sp_cands"]
        assert r["n_probes"] == MP_FLIPS + 1
        assert 0 <= r["mp_hits"] <= r["k"]


# -- pipe_unimax_mixing ------------------------------------------------------
def test_unimax_allocation_is_a_feasible_water_fill(spark):
    from jobx_spark.queries.pipeline import UNIMAX_B_DEN, UNIMAX_B_NUM

    rows = _rows(spark, "pipe_unimax_mixing")
    assert rows
    total = sum(r["src_tokens"] for r in rows)
    budget = total * UNIMAX_B_NUM // UNIMAX_B_DEN
    # exact budget accounting: allocations + reported leftover = B
    assert sum(r["alloc_tokens"] for r in rows) + rows[0][
        "leftover_tokens"
    ] == budget
    assert len({r["leftover_tokens"] for r in rows}) == 1
    levels = {r["alloc_tokens"] for r in rows if not r["saturated"]}
    assert len(levels) <= 1, "unsaturated sources must share one level"
    for r in rows:
        assert r["alloc_tokens"] <= r["cap_tokens"], "epoch cap violated"
        if r["saturated"]:
            assert r["alloc_tokens"] == r["cap_tokens"]
    # the saturated set is a prefix of the cap order, and every
    # saturated cap sits at or below the shared level
    by_rank = sorted(rows, key=lambda r: r["rank_by_cap"])
    flags = [r["saturated"] for r in by_rank]
    assert flags == sorted(flags, reverse=True), "saturation not a prefix"
    if levels:
        # saturation condition cap_k·(n−k) ≤ B−P_k makes every saturated
        # integer cap ≤ the integer level exactly (no slack)
        lvl = next(iter(levels))
        for r in by_rank:
            if r["saturated"]:
                assert r["cap_tokens"] <= lvl
    # the gate data must exercise BOTH branches (the constant was
    # chosen for that — see the UNIMAX_B_NUM comment)
    assert any(flags) and not all(flags)


# -- ann_dim_truncation_sweep ------------------------------------------------
def test_dim_sweep_recall_is_monotone_with_full_dim_control(spark):
    from jobx_spark.queries.similarity import TRUNC_DIMS

    rows = _rows(spark, "ann_dim_truncation_sweep")
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["trunc_dim"]] = r
    for qid, per in by_q.items():
        assert sorted(per) == sorted(TRUNC_DIMS)
        assert per[max(TRUNC_DIMS)]["recall_permille"] == 1000
    # average recall must be non-decreasing in d (per-query can wobble;
    # the curve is the deliverable)
    avgs = [
        sum(per[d]["recall_permille"] for per in by_q.values())
        / len(by_q)
        for d in sorted(TRUNC_DIMS)
    ]
    assert avgs == sorted(avgs), f"recall curve not monotone: {avgs}"


# -- pipe_curriculum_order ---------------------------------------------------
def test_curriculum_phases_partition_the_corpus(spark):
    from jobx_spark.sources import load_table

    rows = _rows(spark, "pipe_curriculum_order")
    assert rows
    n_docs = load_table(spark, SF, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    t25, t50, t75 = rows[0]["t25"], rows[0]["t50"], rows[0]["t75"]
    assert t25 <= t50 <= t75
    bounds = {1: (None, t25), 2: (t25, t50), 3: (t50, t75), 4: (t75, None)}
    for r in rows:
        lo, hi = bounds[r["phase"]]
        if lo is not None:
            assert r["min_toks"] > lo
        if hi is not None:
            assert r["max_toks"] <= hi
        assert r["min_toks"] <= r["max_toks"]


# -- q69_sequence_funnel / q70_retention_cohorts ------------------------------
def test_funnel_is_monotone_and_ppm_exact(spark):
    from jobx_spark.queries.relational import FUNNEL_STAGES

    rows = sorted(_rows(spark, "q69_sequence_funnel"), key=lambda r: r["stage"])
    assert [r["event_type"] for r in rows] == FUNNEL_STAGES
    n1 = max(rows[0]["n_users"], 1)
    prev = rows[0]["n_users"]
    for r in rows:
        assert r["n_users"] <= prev, "funnel stages must be non-increasing"
        assert r["conv_ppm"] == r["n_users"] * 1000000 // n1
        assert (
            r["drop_ppm"]
            == (prev - r["n_users"]) * 1000000 // max(prev, 1)
        )
        prev = r["n_users"]
    assert rows[0]["conv_ppm"] == 1000000 or rows[0]["n_users"] == 0


def test_retention_day_zero_is_the_whole_cohort(spark):
    rows = _rows(spark, "q70_retention_cohorts")
    assert rows
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_day"], []).append(r)
    for cohort, rs in by_cohort.items():
        d0 = [r for r in rs if r["day_offset"] == 0]
        assert len(d0) == 1, f"{cohort}: missing day-0 cell"
        # by definition every cohort member is active on their first day
        assert d0[0]["n_users"] == d0[0]["cohort_size"]
        assert d0[0]["retention_ppm"] == 1000000
        for r in rs:
            assert r["day_offset"] >= 0
            assert 0 < r["n_users"] <= r["cohort_size"]
            assert (
                r["retention_ppm"]
                == r["n_users"] * 1000000 // r["cohort_size"]
            )
