"""Contract for jobx_spark.artifacts and jobx_spark.index: the
version-pointer layout, the Hadoop-FS-first probes, crash injection
into every appendable index family, and the BM25 postings lifecycle
(append certificates, serve-after-append plan, compaction layout and
the persisted streaming ingest)."""

import os

import pytest

from jobx_spark import artifacts as A


def test_unpublished_root_resolves_none(tmp_path):
    root = str(tmp_path / "art")
    os.makedirs(root)
    assert A.current_version(None, root) is None
    assert A.resolve(None, root) is None


def test_publish_flips_pointer_and_keeps_two_versions(tmp_path):
    root = str(tmp_path / "art")
    os.makedirs(root)
    for v in (1, 2, 3):
        n, vdir = A.next_version_dir(None, root)
        assert n == v
        os.makedirs(vdir)
        with open(os.path.join(vdir, "data"), "w") as f:
            f.write(str(v))
        A.publish(None, root, n)
        assert A.current_version(None, root) == v
    # retention: v=3 current, v=2 pinned-reader safe, v=1 pruned
    assert os.path.isdir(A.version_dir(root, 3))
    assert os.path.isdir(A.version_dir(root, 2))
    assert not os.path.exists(A.version_dir(root, 1))


def test_unpublished_dir_is_invisible_and_reused(tmp_path):
    """A writer crash AFTER materializing v=1 but BEFORE publishing
    must leave readers on 'never published' and the next writer must
    clear the leftover."""
    root = str(tmp_path / "art")
    os.makedirs(root)
    n, vdir = A.next_version_dir(None, root)
    os.makedirs(vdir)
    with open(os.path.join(vdir, "partial"), "w") as f:
        f.write("half-written")
    # crash here: no publish
    assert A.resolve(None, root) is None
    n2, vdir2 = A.next_version_dir(None, root)
    assert n2 == 1 and vdir2 == vdir
    assert not os.path.exists(os.path.join(vdir, "partial"))


def test_fs_probes_use_hadoop_api_for_local_paths(spark, tmp_path):
    """With a live session the probes must go through the JVM Hadoop
    FileSystem (the path a cluster warehouse takes), and agree with
    the local filesystem on file:// paths."""
    p = str(tmp_path / "probe.txt")
    assert not A.fs_exists(spark, p)
    A.touch(spark, p)
    assert os.path.exists(p), "JVM touch must land on the local FS"
    assert A.fs_exists(spark, p)
    A.delete(spark, p)
    assert not os.path.exists(p)
    # and the marker listing sees JVM-created pointers
    root = str(tmp_path / "art")
    os.makedirs(root)
    A.publish(spark, root, 1)
    assert A.current_version(spark, root) == 1
    assert A.current_version(None, root) == 1  # os fallback agrees


def _segmented(family):
    """(artifact, append query, compact query) of one appendable family."""
    from jobx_spark.queries import dedup, similarity, text

    return {
        "ann": (similarity.ANN_APPEND, similarity.QUERIES["ann_index_append"],
                similarity.QUERIES["ann_index_compact"]),
        "bm25": (text.BM25_APPEND, text.QUERIES["text_bm25_index_append"],
                 text.QUERIES["text_bm25_index_compact"]),
        "dedup": (dedup.DEDUP_APPEND, dedup.QUERIES["dedup_index_append"],
                  dedup.QUERIES["dedup_index_compact"]),
    }[family]


@pytest.mark.parametrize(
    "family, lost",
    [
        # the base write died after the centroids committed
        pytest.param("ann", "index", id="ann-base-index"),
        # a crash between the base and batch segment writes: the base
        # commit already created the table's root _SUCCESS
        pytest.param("ann", "index/seg=batch", id="ann-batch-segment"),
        pytest.param("bm25", "postings/seg=batch", id="bm25-batch-segment"),
        pytest.param("dedup", "index/seg=batch", id="dedup-batch-segment"),
        # the base postings committed, scalars_base never written
        pytest.param("bm25", "scalars_base", id="bm25-scalars-base"),
    ],
)
def test_compact_repairs_crash_state(spark, tmp_path, family, lost):
    """Every crash window of an append leaves no terminal marker (it is
    touched last), so compact must re-run the idempotent append — whose
    base gate checks every base part — and compact the full generation
    instead of a partial one or failing on a missing part."""
    import shutil

    from tests.conftest import SF_SMOKE

    art, append, compact = _segmented(family)
    sf = str(tmp_path / f"sf-{family}")
    shutil.copytree(SF_SMOKE, sf)
    append(spark, sf).collect()
    full = sum(r["n_after"] for r in compact(spark, sf).collect())
    p = art.paths(sf)
    os.remove(p["_APPEND_DONE"])
    shutil.rmtree(os.path.join(art.root(sf), lost))
    # every surviving part still looks committed to a _SUCCESS probe
    for n in (art.table, *art.base_parts):
        if n != lost:
            assert os.path.exists(os.path.join(p[n], "_SUCCESS"))
    out = compact(spark, sf).collect()
    assert len(out) == art.size
    assert all(r["content_match"] == 1 for r in out)
    for r in out:
        assert r["files_after"] == (1 if r["n_after"] > 0 else 0)
    assert sum(r["n_after"] for r in out) == full, (
        "repair must rematerialize every lost part before compacting"
    )


def test_bm25_index_append_certificate_and_idempotence(spark, sf_dir):
    """All three certificates hold per bucket (append≡rebuild on the
    full posting-content hash, republished scalars ≡ corpus scalars,
    serve-after-append ≡ train-in-plan ranking), and a re-run (dynamic
    partition overwrite + recomputed scalars republish) is
    bit-identical."""
    from jobx_spark.queries.text import TBKT, QUERIES

    first = [
        tuple(r)
        for r in QUERIES["text_bm25_index_append"](spark, sf_dir).collect()
    ]
    again = [
        tuple(r)
        for r in QUERIES["text_bm25_index_append"](spark, sf_dir).collect()
    ]
    assert first == again
    assert len(first) == TBKT
    for r in first:
        tbkt, n_base, n_batch, n_after, n_rebuild, amr, smr, svr = r
        assert n_after == n_base + n_batch
        assert n_after == n_rebuild
        assert (amr, smr, svr) == (1, 1, 1)
    assert sum(r[2] for r in first) > 0, "fixture batch must add postings"


def test_bm25_append_serve_plan_scans_only_artifact(spark, sf_dir):
    """VERDICT r11 #4 'done' criteria: the serve-after-append plan
    scans ONLY postings + scalars — zero documents scans (df is
    recomputed from the bucket-pruned postings scan itself, never a
    stale denormalized column), and the postings scan statically
    partition-pruned to the query's term buckets."""
    from jobx_spark.queries.text import QUERIES, _bm25_append_serve

    # materialize the artifact, then build the serve plan
    QUERIES["text_bm25_index_append"](spark, sf_dir).collect()
    df = _bm25_append_serve(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bm25-index-append-" in plan
    assert "documents.parquet" not in plan
    pf = plan.split("PartitionFilters: [")[1]
    assert "tbkt#" in pf[:60] and (
        " IN (" in pf[:80] or " INSET " in pf[:80]
    ), "postings scan must be statically pruned on the term-bucket key"
    # and the ranking equals the train-in-plan path
    served = [tuple(r) for r in df.collect()]
    inline = [
        tuple(r) for r in QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    ]
    assert served == inline
    assert served, "fixture must rank at least one document"


def test_bm25_index_compact_single_file_per_bucket(spark, sf_dir):
    """Compaction's physical claim, verified from the compacted
    layout: every populated term bucket holds exactly ONE file, and
    per-bucket content identity (count + posting-content-hash XOR)
    between the segmented and compacted generations."""
    from jobx_spark.queries.text import TBKT, QUERIES

    out = QUERIES["text_bm25_index_compact"](spark, sf_dir).collect()
    assert len(out) == TBKT
    assert all(r["content_match"] == 1 for r in out)
    for r in out:
        assert r["files_after"] == (1 if r["n_after"] > 0 else 0)
    assert sum(r["n_after"] for r in out) > 0


def test_stream_bm25_index_append_equals_batch_append(spark, sf_dir):
    """The persisted streaming postings ingest lands each micro-batch
    as its own segment (seg=b0/b1/b2) beside the untouched base, then
    republishes the corpus scalars — its census (all three
    certificates included) must equal the batch append job's bit for
    bit."""
    import glob

    from jobx_spark.lineage import checkpoint_root
    from jobx_spark.queries.streams import QUERIES as SQ
    from jobx_spark.queries.text import QUERIES as TQ

    streamed = [
        tuple(r)
        for r in SQ["stream_bm25_index_append"](spark, sf_dir).collect()
    ]
    assert all(r[5] == 1 and r[6] == 1 and r[7] == 1 for r in streamed)
    segs = {
        os.path.basename(p).split("=")[1]
        for p in glob.glob(
            f"{checkpoint_root()}/bm25-index-ingest-*/postings/seg=*"
        )
    }
    assert "base" in segs and {"b0", "b1", "b2"} <= segs
    batch = [
        tuple(r)
        for r in TQ["text_bm25_index_append"](spark, sf_dir).collect()
    ]
    assert streamed == batch


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
