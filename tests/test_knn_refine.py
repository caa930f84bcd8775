"""NN-descent refinement quality pin (VERDICT r7 #5).

One neighbor-of-neighbor round (Dong, Moses & Li 2011) only earns its
place if it recovers truth the LSH-blocked construction missed: the
candidate set strictly contains the raw graph's edges and every
candidate is rescored EXACTLY, so per-query recall against brute-force
truth can never drop — keep-top-k over a superset, same exact score,
same tiebreak. That monotonicity is pinned here as an executed
property at both smoke scales, not a docstring claim.

The other ANN retrieval rows' semantic claims are pinned the same way,
computed independently of the query implementations: hybrid RRF
fusion soundness, MMR greedy optimality, multi-probe recall dominance
and the dimension-truncation recall curve.
"""

import os

import duckdb
import pytest

from tests.conftest import SF_SMOKE

SFS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


@pytest.mark.parametrize("sf", SFS)
def test_refined_recall_never_below_graph_recall(spark, sf):
    from jobx_spark.queries import all_queries

    rows = all_queries()["ann_knn_refine"](spark, sf).collect()
    assert rows, "eval must cover the probe set"
    for r in rows:
        assert r["refined_hits"] >= r["graph_hits"], (
            f"query {r['query_id']}: refine dropped recall "
            f"{r['graph_hits']} -> {r['refined_hits']}"
        )
        assert 0 <= r["refined_hits"] <= r["k"]


def test_quantile_sketch_merged_equals_direct(spark):
    """pipe_quantile_sketch's mergeability certificate (VERDICT r7 #6):
    the __merged__ row (per-source bin tables summed) must equal the
    __direct__ row (corpus sketch from scratch) on every column — the
    text_hll_merge twin-row device, asserted in CI as well as under
    the driver's hash gate."""
    from jobx_spark.queries import all_queries

    rows = {
        r["source"]: r
        for r in all_queries()["pipe_quantile_sketch"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    m, d = rows["__merged__"], rows["__direct__"]
    for col in ("n_docs", "p50_est", "p90_est", "p99_est",
                "p50_exact", "p90_exact", "p99_exact"):
        assert m[col] == d[col], f"{col}: merged {m[col]} != direct {d[col]}"
    # the sketch's error contract: estimate is the bin's upper edge, so
    # it sits within one bin width above the exact value
    from jobx_spark.queries.pipeline import QSK_BINW

    for src, r in rows.items():
        for tag in ("p50", "p90", "p99"):
            est, exact = r[f"{tag}_est"], r[f"{tag}_exact"]
            assert exact < est <= exact + QSK_BINW, (
                f"{src} {tag}: est {est} outside ({exact}, {exact + QSK_BINW}]"
            )


def _rows(spark, sf_dir, name):
    from jobx_spark.queries import all_queries

    return all_queries()[name](spark, sf_dir).collect()


# -- ann_hybrid_rrf ----------------------------------------------------------
def test_rrf_fused_ranking_is_sound(spark, sf_dir):
    from jobx_spark.queries.similarity import K, RRF_L, RRF_RC

    rows = _rows(spark, sf_dir, "ann_hybrid_rrf")
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
def test_mmr_each_pick_maximizes_the_objective(spark, sf_dir):
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

    rows = _rows(spark, sf_dir, "ann_mmr_diversify")
    assert rows
    emb = load_table(spark, sf_dir, "embeddings")
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
def test_multiprobe_recall_never_below_single_probe(spark, sf_dir):
    """Superset candidates + exact rescore + same tiebreak ⇒ per-query
    mp_hits ≥ sp_hits (the ann_knn_refine monotonicity argument),
    executed; the probe count and candidate superset ride along."""
    from jobx_spark.queries.similarity import MP_FLIPS

    rows = _rows(spark, sf_dir, "ann_multiprobe_lsh")
    assert rows
    for r in rows:
        assert r["mp_hits"] >= r["sp_hits"], (
            f"query {r['query_id']}: multi-probe dropped recall "
            f"{r['sp_hits']} -> {r['mp_hits']}"
        )
        assert r["mp_cands"] >= r["sp_cands"]
        assert r["n_probes"] == MP_FLIPS + 1
        assert 0 <= r["mp_hits"] <= r["k"]


# -- ann_dim_truncation_sweep ------------------------------------------------
def test_dim_sweep_recall_is_monotone_with_full_dim_control(spark, sf_dir):
    from jobx_spark.queries.similarity import TRUNC_DIMS

    rows = _rows(spark, sf_dir, "ann_dim_truncation_sweep")
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


def _sf_with_zero_norm_probe(tmp_path) -> str:
    """A clone of the smoke sf dir whose embeddings table has vec_id=1
    (inside the probe set, vec_id < N_QUERIES) zeroed out — the
    divergence ADVICE r9 flagged: the fixtures never hold a zero-norm
    PROBE, so the gate could not see Spark emitting a divide-by-zero
    counts row the oracle drops."""
    sf = str(tmp_path / "sfzero")
    os.makedirs(sf)
    for f in os.listdir(SF_SMOKE):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            os.symlink(os.path.join(SF_SMOKE, f), os.path.join(sf, f))
    emb = duckdb.sql(
        f"SELECT * FROM '{SF_SMOKE}/embeddings.parquet'"
    ).df()
    dim = len(emb.loc[0, "embedding"])
    emb["embedding"] = [
        [0.0] * dim if vid == 1 else list(map(float, v))
        for vid, v in zip(emb["vec_id"], emb["embedding"])
    ]
    duckdb.sql(
        "COPY (SELECT * FROM emb) TO '{}' (FORMAT PARQUET)".format(
            os.path.join(sf, "embeddings.parquet")
        )
    )
    return sf


def test_multiprobe_lsh_masks_zero_norm_probe(spark, tmp_path):
    """ADVICE r9: a zero-norm probe query must be dropped by BOTH
    engines — Spark used to emit a counts row with divide-by-zero
    cosines while the oracle's q CTE (derived from e, norm_s > 0)
    dropped it."""
    from jobx_spark.oracle import compare, duck_connect
    from jobx_spark.queries.similarity import ORACLES, QUERIES

    sf = _sf_with_zero_norm_probe(tmp_path)
    df = QUERIES["ann_multiprobe_lsh"](spark, sf)
    rows = df.collect()
    assert 1 not in {r["query_id"] for r in rows}, (
        "zero-norm probe query must not emit a counts row"
    )
    res = compare(
        "ann_multiprobe_lsh",
        QUERIES["ann_multiprobe_lsh"](spark, sf),
        duck_connect(sf),
        ORACLES["ann_multiprobe_lsh"],
    )
    assert res.ok, res


@pytest.mark.parametrize(
    "qname",
    ["ann_index_serve", "ann_filtered_topk", "stream_index_serve"],
)
def test_serve_family_masks_zero_norm_probe(spark, tmp_path, qname):
    """ADVICE r10: the persisted-serve family must mask zero-norm
    probes exactly like ann_multiprobe_lsh (r9 fix) — a zero-norm
    query vector gives NULL cosines in Spark (sorted last under desc)
    vs NaN in DuckDB IEEE mode (sorted first), so probe routing and
    ranking would diverge. The fixture zeroes vec_id=1, which is both
    a probe (vec_id < N_QUERIES) and a corpus/index row, so this also
    pins the corpus-side serve mask (norm_s > 0 on the pruned index
    scan; the build census still counts the row)."""
    from jobx_spark.oracle import compare, duck_connect
    from jobx_spark.queries.similarity import ORACLES as AQ_ORACLES
    from jobx_spark.queries.similarity import QUERIES as AQ
    from jobx_spark.queries.streams import ORACLES as SQ_ORACLES
    from jobx_spark.queries.streams import QUERIES as SQ

    queries = {**AQ, **SQ}
    oracles = {**AQ_ORACLES, **SQ_ORACLES}
    sf = _sf_with_zero_norm_probe(tmp_path)
    df = queries[qname](spark, sf)
    rows = df.collect()
    ids = {r["query_id"] for r in rows} | {r["vec_id"] for r in rows}
    assert 1 not in ids, (
        "zero-norm vector must appear neither as a served query nor as "
        "a ranked candidate"
    )
    res = compare(qname, queries[qname](spark, sf), duck_connect(sf),
                  oracles[qname])
    assert res.ok, res


def test_serve_masks_do_not_change_clean_fixture_results(spark, sf_dir):
    """The zero-norm masks are no-ops on the committed fixtures (no
    zero-norm vectors exist), so serve==inline identity still holds —
    the certificate that the ADVICE fix changed edge-case semantics
    only."""
    from jobx_spark.queries.similarity import QUERIES

    served = {
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in QUERIES["ann_index_serve"](spark, sf_dir).collect()
    }
    inline = {
        (r["query_id"], r["vec_id"], r["rank"], r["cosine"])
        for r in QUERIES["ann_ivf_trained_topk"](spark, sf_dir).collect()
    }
    assert served == inline
