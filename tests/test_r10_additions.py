"""Round-10 additions: executed-property pins for the round's fixes.

Each test runs the REAL query against a real (or minimally mutated)
sf dir and asserts the property the round's change introduced.
"""

import os
import shutil

import duckdb
import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


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


def test_q69_materializes_each_stage_anchor(spark, sf_dir):
    """VERDICT r9 #5: the funnel's stage chain must plan each stage
    against the PREVIOUS stage's materialized anchor (a bare file
    scan), not re-execute stages 0..k-1 — and fold the per-stage
    counts into one 3-row DataFrame with no driver-side action."""
    from jobx_spark.queries.relational import FUNNEL_STAGES, QUERIES

    df = QUERIES["q69_sequence_funnel"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # anchors are materialized, so the returned frame's plan holds NO
    # events scan at all — every leaf is a tiny (user_id, t) anchor
    # parquet: 3 for the stage counts + 2 for the prev-stage self-join
    # + 1 for the stage-1 base
    assert "events" not in plan, (
        "returned funnel frame must plan against materialized anchors"
    )
    assert plan.count("Relation [user_id") == 2 * len(FUNNEL_STAGES)
    out = df.collect()
    assert [r["stage"] for r in out] == [1, 2, 3]
    assert out[0]["conv_ppm"] == 1000000
    # monotone: each stage retains a subset of the previous one's users
    ns = [r["n_users"] for r in out]
    assert ns[0] >= ns[1] >= ns[2]


def test_ann_index_serve_plan_is_training_free_and_pruned(spark, sf_dir):
    """VERDICT r9 #4 'done' criteria: the serve plan shows zero k-means
    iterations (no posexplode update stage, no Lloyd joins) and touches
    the corpus only through the persisted index scan, statically
    partition-pruned to the probed cells."""
    from jobx_spark.queries.similarity import QUERIES

    df = QUERIES["ann_index_serve"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # zero training in the serve plan: the kmeans update stage is the
    # only posexplode in the ANN stack
    assert "posexplode" not in plan
    # the corpus arrives via the persisted index table, partition-
    # pruned by the router's literal cell list
    assert "ann-index-" in plan
    pf = plan.split("PartitionFilters: [")[1]
    assert pf.startswith("cell#") and " IN (" in pf[:80]
    # the embeddings table appears only as the probe-query input,
    # filter-pushed to the probe ids (plus Spark's dynamic-pruning
    # replica of that same subtree), never as a corpus scan
    assert "vec_id), LessThan(vec_id" in plan or "vec_id#" in plan


def test_ann_index_build_census_attests_persisted_table(spark, sf_dir):
    """The build census must be planned over the PERSISTED index table
    (gate hash attests what is on disk), and build must be overwrite-
    idempotent: rebuilding yields a bit-identical census."""
    from jobx_spark.queries.similarity import QUERIES

    df = QUERIES["ann_index_build"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "embeddings" not in plan  # census reads the index parquet
    first = [tuple(r) for r in df.collect()]
    again = [tuple(r) for r in QUERIES["ann_index_build"](spark, sf_dir).collect()]
    assert first == again
    assert len(first) == 8
    assert sum(r[1] for r in first) > 0


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


def test_ann_index_compact_single_file_per_cell(spark, sf_dir):
    """Compaction's physical claim, verified from the result itself:
    every populated cell holds exactly ONE file after the rewrite, and
    content identity holds for all cells."""
    from jobx_spark.queries.similarity import QUERIES

    out = QUERIES["ann_index_compact"](spark, sf_dir).collect()
    assert len(out) == 8
    assert all(r["content_match"] == 1 for r in out)
    for r in out:
        assert r["files_after"] == (1 if r["n_after"] > 0 else 0)


def test_index_serve_equals_inline_trained_topk(spark, sf_dir):
    """The persisted serving path and the inline train-in-plan path use
    the same quantizer constants, so their results must be IDENTICAL
    row sets — the certificate that persisting the index changed the
    execution shape, not the answer."""
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


def test_pq_index_serve_plan_is_training_free_and_equals_inline(spark, sf_dir):
    """The persisted-PQ serving path: zero k-means stages in the plan
    (no posexplode update stage), corpus touched only through the
    persisted codes table, and the ranking identical to the
    train-in-plan ADC search."""
    from jobx_spark.queries.similarity import QUERIES

    df = QUERIES["ann_pq_index_serve"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" not in plan
    assert "ann-pq-index-" in plan
    served = {tuple(r) for r in df.collect()}
    inline = {tuple(r) for r in QUERIES["ann_pq_adc_topk"](spark, sf_dir).collect()}
    assert served == inline
