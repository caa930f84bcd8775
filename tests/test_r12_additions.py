"""Round-12 additions: executed-property pins for the round's fixes.

Same style as tests/test_r11_additions.py: each test runs the REAL
query against a real sf dir and asserts the property the round's
change introduced — the BM25 index lifecycle completion (VERDICT r11
#4). The terminal-marker repair gates are crash-injected in
tests/test_artifacts.py.
"""

import os


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


def test_bm25_serve_scaled64_pruned_and_equals_1x(spark, sf_dir):
    """The term-side flat-serve probe completing the 64× evidence
    across all three serving families: the 64× replicated postings
    scan prunes to the query's own term buckets (replica bucket
    ranges never read), zero documents scans, ranking equal to the
    train-in-plan BM25 top-K."""
    from jobx_spark.queries.text import QUERIES

    df = QUERIES["text_bm25_serve_scaled64"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bm25-index-" in plan
    assert "documents.parquet" not in plan
    pf = plan.split("PartitionFilters: [")[1]
    assert "tbkt#" in pf[:60] and (
        " IN (" in pf[:80] or " INSET " in pf[:80]
    )
    served = [tuple(r) for r in df.collect()]
    inline = [
        tuple(r) for r in QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    ]
    assert served == inline
    assert served


def test_dedup_probe_scaled64_pruned_and_equals_1x(spark, sf_dir):
    """VERDICT r11 #6: the band-index flat-serve probe — the 64×
    replicated index is scanned partition-pruned to the probed
    buckets (the replica bucket ranges model cold regions and are
    never read), so the candidate pairs equal the 1× probe/incremental
    bit for bit."""
    from jobx_spark.queries.dedup import QUERIES

    df = QUERIES["dedup_index_probe_scaled64"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dedup-index-" in plan
    pf = plan.split("PartitionFilters: [")[1]
    assert "bkt#" in pf[:40] and (
        " INSET " in pf[:80] or " IN (" in pf[:80]
    ), "64x scan must be statically pruned on the bucket key"
    scaled = {tuple(r) for r in df.collect()}
    base = {
        tuple(r) for r in QUERIES["dedup_index_probe"](spark, sf_dir).collect()
    }
    assert scaled == base
    assert scaled, "fixture must produce at least one candidate pair"


def test_kmeans_train_multi_equals_per_column_chains(spark, sf_dir):
    """The fused multi-chain Lloyd trainer (one job per round for ALL
    subspace chains) must be bit-identical, per column, to the
    single-column kmeans_train it replaced in the PQ queries."""
    from pyspark.sql import functions as F

    from jobx_spark.operators.similarity import (
        kmeans_train,
        kmeans_train_multi,
    )
    from jobx_spark.queries.similarity import (
        KM_BASE,
        KM_ITERS,
        KM_K,
        KM_SCALE,
        PQ_DIM,
        PQ_SUB,
    )
    from jobx_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    mat = emb.select(
        "vec_id",
        *[
            F.slice("embedding", s * PQ_DIM + 1, PQ_DIM).alias(f"sub{s}")
            for s in range(PQ_SUB)
        ],
        "embedding",
    )
    cols = ["embedding"] + [f"sub{s}" for s in range(PQ_SUB)]
    multi = kmeans_train_multi(
        mat, cols, k=KM_K, iters=KM_ITERS, cent_base=KM_BASE, scale=KM_SCALE
    )
    for col, got in zip(cols, multi):
        want = kmeans_train(
            mat.select("vec_id", F.col(col).alias("embedding")),
            k=KM_K, iters=KM_ITERS, cent_base=KM_BASE, scale=KM_SCALE,
            output="centroids",
        )
        g = sorted((r["cent_id"], list(r["cv"])) for r in got.collect())
        w = sorted((r["cent_id"], list(r["cv"])) for r in want.collect())
        assert g == w, f"chain {col} diverged from kmeans_train"
        assert g, f"chain {col} trained no centroids on the fixture"


def test_kmeans_train_multi_dead_cell_matches_single_chain(spark):
    """A chain whose cell goes empty (duplicate seed vectors — ties
    assign to the LOWEST cent_id, so the higher seed's cell dies in
    round 1) must drop it exactly like the single-column trainer,
    independently per chain."""
    from pyspark.sql import functions as F

    from jobx_spark.operators.similarity import (
        kmeans_train,
        kmeans_train_multi,
    )

    data = []
    for i in range(24):
        a = [1.0, 0.25] if i % 2 == 0 else [0.25, 1.0]
        b = [float(i % 3) + 0.5, 1.0]
        if i == 11:
            a = [1.0, 0.25]  # duplicate of seed 10 in chain a
        data.append((i, a, b))
    mat = spark.createDataFrame(
        data, "vec_id long, a array<double>, b array<double>"
    )
    multi = kmeans_train_multi(
        mat, ["a", "b"], k=2, iters=3, cent_base=10, scale=10**6
    )
    for col, got in zip(["a", "b"], multi):
        want = kmeans_train(
            mat.select("vec_id", F.col(col).alias("embedding")),
            k=2, iters=3, cent_base=10, scale=10**6, output="centroids",
        )
        g = sorted((r["cent_id"], list(r["cv"])) for r in got.collect())
        w = sorted((r["cent_id"], list(r["cv"])) for r in want.collect())
        assert g == w, f"chain {col} diverged from kmeans_train"
    assert multi[0].count() == 1, "chain a's duplicate-seed cell must die"
    assert multi[1].count() == 2, "chain b must keep both cells"
