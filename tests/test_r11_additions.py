"""Round-11 additions: executed-property pins for the round's fixes.

Each test runs the REAL query against a real (or minimally mutated)
sf dir and asserts the property the round's change introduced.
"""

import os

import pytest

from tests.conftest import SF_SMOKE
from tests.test_knn_refine import _sf_with_zero_norm_probe


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


def test_dedup_index_probe_plan_reads_artifact_not_corpus(spark, sf_dir):
    """VERDICT r10 #3 'done' criteria: the probe plan scans ONLY the
    persisted band index for the corpus side — exactly one documents
    scan (the batch being probed), zero corpus re-signing — in family
    with ann_index_serve."""
    from jobx_spark.queries.dedup import QUERIES

    df = QUERIES["dedup_index_probe"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dedup-index-" in plan
    # the batch side arrives via its materialized banding (lineage cut
    # shared between the pruning collect and the join), so the probe
    # plan holds ZERO documents scans: the corpus is touched only
    # through the persisted index scan, statically partition-pruned to
    # the probed bh-buckets
    op = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation [doc_id" not in op, (
        "probe must not re-sign anything in-plan; batch banding is "
        "materialized once, corpus arrives via the index artifact"
    )
    assert "didx-probe" in plan
    pf = plan.split("PartitionFilters: [")[1]
    assert pf.startswith("bkt#") and (
        " INSET " in pf[:40] or " IN (" in pf[:40]
    ), "index scan must be statically pruned on the bucket key"


def test_dedup_index_probe_equals_inline_incremental(spark, sf_dir):
    """The persisted probe and the in-plan incremental dedup share the
    same banding constants, so their candidate-pair sets must be
    IDENTICAL — persisting the index changed the execution shape, not
    the answer."""
    from jobx_spark.queries.dedup import QUERIES

    probe = {
        tuple(r) for r in QUERIES["dedup_index_probe"](spark, sf_dir).collect()
    }
    inline = {
        tuple(r)
        for r in QUERIES["dedup_incremental"](spark, sf_dir).collect()
    }
    assert probe == inline
    assert probe, "fixture must produce at least one candidate pair"


def test_dedup_index_append_certificate_and_idempotence(spark, sf_dir):
    """Append≡rebuild holds per band, and re-running the append (dynamic
    partition overwrite) yields a bit-identical census."""
    from jobx_spark.queries.dedup import BANDS, QUERIES

    first = [tuple(r) for r in QUERIES["dedup_index_append"](spark, sf_dir).collect()]
    again = [tuple(r) for r in QUERIES["dedup_index_append"](spark, sf_dir).collect()]
    assert first == again
    assert len(first) == BANDS
    assert all(r[5] == 1 for r in first)
    assert all(r[3] == r[1] + r[2] for r in first)


def test_index_snapshot_isolation(spark, tmp_path):
    """VERDICT r10 #5: a reader pinned to the published version must
    survive a concurrent rebuild. The serve DataFrame resolves its
    paths at construction (v=1); ann_index_build then publishes v=2;
    collecting the pinned reader afterwards must still succeed and
    return the pre-rebuild rows, the pointer must now say v=2, and
    v=1 must still be on disk (retention keeps the latest two)."""
    import shutil

    from jobx_spark import artifacts as A
    from jobx_spark.queries.similarity import ANN_INDEX, QUERIES

    sf = str(tmp_path / "sfsnap")
    shutil.copytree(SF_SMOKE, sf)
    reader = QUERIES["ann_index_serve"](spark, sf)  # ensures + pins v=1
    before = {tuple(r) for r in reader.collect()}
    root = ANN_INDEX.root(sf)
    assert A.current_version(spark, root) == 1
    QUERIES["ann_index_build"](spark, sf).collect()  # publishes v=2
    assert A.current_version(spark, root) == 2
    assert os.path.isdir(A.version_dir(root, 1)), (
        "retention must keep the version a reader may be pinned to"
    )
    after = {tuple(r) for r in reader.collect()}
    assert after == before
    # and a FRESH serve resolves the new version
    fresh = QUERIES["ann_index_serve"](spark, sf)
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert "v=2" in plan and "v=1" not in plan


def test_dedup_index_compact_single_file_per_band(spark, sf_dir):
    """Compaction's physical claim, verified from the compacted layout:
    every populated band holds exactly ONE file, content identity per
    band (count + doc_id-XOR + bh-XOR)."""
    from jobx_spark.queries.dedup import BANDS, QUERIES

    out = QUERIES["dedup_index_compact"](spark, sf_dir).collect()
    assert len(out) == BANDS
    assert all(r["content_match"] == 1 for r in out)
    for r in out:
        assert r["files_after"] == (1 if r["n_after"] > 0 else 0)
    assert sum(r["n_after"] for r in out) > 0


def test_stream_index_ingest_layout_and_census(spark, tmp_path):
    """The persisted streaming ingest lands each micro-batch as its own
    segment (seg=b0/b1/b2) beside the untouched base segment, and its
    census (incl. append≡rebuild) matches ann_ivf_append's contract:
    per-cell totals identical to the batch append job's."""
    import shutil

    from jobx_spark.queries.similarity import QUERIES as AQ
    from jobx_spark.queries.streams import QUERIES as SQ

    sf = str(tmp_path / "sfingest")
    shutil.copytree(SF_SMOKE, sf)
    streamed = [tuple(r) for r in SQ["stream_index_ingest"](spark, sf).collect()]
    assert all(r[5] == 1 for r in streamed)
    # layout: base + one segment per replay micro-batch
    import glob

    from jobx_spark.lineage import checkpoint_root

    roots = glob.glob(f"{checkpoint_root()}/ann-index-ingest-*/index/seg=*")
    segs = {os.path.basename(p).split("=")[1] for p in roots}
    assert "base" in segs and {"b0", "b1", "b2"} <= segs
    # census identical to the batch lifecycle append on the same data
    batch = [tuple(r) for r in AQ["ann_index_append"](spark, sf).collect()]
    assert streamed == batch


def test_bm25_index_serve_plan_pruned_and_equals_inline(spark, sf_dir):
    """The persisted inverted-index serve: zero documents scans (the
    corpus arrives only through the postings artifact), the postings
    scan statically partition-pruned to the query's term buckets
    (computed driver-side from the query constants — no collect), and
    the ranking identical to the train-in-plan text_bm25_topk."""
    from jobx_spark.queries.text import QUERIES

    df = QUERIES["text_bm25_index_serve"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bm25-index-" in plan
    assert "documents.parquet" not in plan
    pf = plan.split("PartitionFilters: [")[1]
    assert pf.startswith("tbkt#") and (
        " IN (" in pf[:40] or " INSET " in pf[:40]
    )
    served = [tuple(r) for r in df.collect()]
    inline = [tuple(r) for r in QUERIES["text_bm25_topk"](spark, sf_dir).collect()]
    assert served == inline
    assert served, "fixture must rank at least one document"
