"""Training-data pipeline operators (hash sampling, weighted mixing,
chunking, composed clean-corpus) vs the DuckDB oracle, plus executed
properties of the UniMax allocation (a feasible water fill) and the
curriculum phases (a partition of the corpus)."""

import pytest

from jobx_spark.oracle import compare, duck_connect
from jobx_spark.queries import pipeline


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connect(sf_dir)


@pytest.mark.parametrize("name", sorted(pipeline.QUERIES))
def test_pipeline_query_matches_oracle(name, spark, sf_dir, duck):
    df = pipeline.QUERIES[name](spark, sf_dir)
    res = compare(name, df, duck, pipeline.ORACLES[name])
    assert res.ok, str(res)


def _rows(spark, sf_dir, name):
    from jobx_spark.queries import all_queries

    return all_queries()[name](spark, sf_dir).collect()


# -- pipe_unimax_mixing ------------------------------------------------------
def test_unimax_allocation_is_a_feasible_water_fill(spark, sf_dir):
    from jobx_spark.queries.pipeline import UNIMAX_B_DEN, UNIMAX_B_NUM

    rows = _rows(spark, sf_dir, "pipe_unimax_mixing")
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


# -- pipe_curriculum_order ---------------------------------------------------
def test_curriculum_phases_partition_the_corpus(spark, sf_dir):
    from jobx_spark.sources import load_table

    rows = _rows(spark, sf_dir, "pipe_curriculum_order")
    assert rows
    n_docs = load_table(spark, sf_dir, "documents").count()
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


def test_corpus_funnel_single_scan_and_monotone(spark, sf_dir):
    """The funnel's returned plan must derive every stage from the ONE
    materialized per-doc flag table (no documents re-scan), and stage
    survival must be monotone non-increasing with exact raw totals."""
    from jobx_spark.queries.pipeline import PCF_STAGES, QUERIES

    df = QUERIES["pipe_corpus_funnel"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "documents" not in plan, (
        "funnel must plan against the materialized pcf-base table"
    )
    out = df.collect()
    assert [r["name"] for r in out] == PCF_STAGES
    docs = [r["n_docs"] for r in out]
    toks = [r["n_tokens"] for r in out]
    assert all(a >= b for a, b in zip(docs, docs[1:]))
    assert all(a >= b for a, b in zip(toks, toks[1:]))
    assert out[0]["kept_ppm"] == 1000000 and out[0]["drop_ppm"] == 0


def test_encode_serve_plan_is_learn_free_and_equals_inline(spark, sf_dir):
    """The persisted-vocabulary serve path must contain zero learn-
    chain iterations (no bpee-w lineage cuts - the vocab tables are the
    only non-corpus scans) and return the identical row set to the
    learn-in-plan encode."""
    from jobx_spark.queries.pipeline import QUERIES

    df = QUERIES["pipe_encode_serve"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bpee-w" not in plan
    assert "bpe-vocab-" in plan
    served = {tuple(r) for r in df.collect()}
    inline = {tuple(r) for r in QUERIES["pipe_bpe_encode"](spark, sf_dir).collect()}
    assert served == inline
