"""Query registry: every implemented operator exposed as a named query.

Each submodule contributes ``QUERIES`` (name → fn(spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → equivalent DuckDB SQL). The driver's
correctness gate runs both sides at sf0.01 and hash-compares values, so
every query here is written for *bit-deterministic* output (see
jobx_spark.functions for the decimal-sum and portable-hash techniques).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def _utc_pinned(fn: QueryFn) -> QueryFn:
    """The driver hands us its own SparkSession; date/time functions are
    session-timezone dependent and the DuckDB oracle is UTC-naive, so
    every query pins UTC (and Arrow, AQE) before building its plan."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from jobx_spark.session import tune_for_session

        tune_for_session(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    wrapped.__doc__ = fn.__doc__
    return wrapped


# Registry order IS verification order: the driver's correctness gate
# checks the first 50 entries.
GATE_FIRST_50 = [
    # ROUND-13 GATE (VERDICT r12 #2 + the optimization round's
    # changed-plan discipline).
    # -- 1. the ONLY registry row the gate has not yet checked (it
    #       landed after the r12 gate filled; builder-verified at
    #       sf0.001+sf0.01 under the driver recipe) --
    "stream_bm25_index_append",
    # -- 2. changed-plan re-attests — every query whose Spark plan (or
    #       execution shape) changed in the r13 optimization round:
    #       the fused MR fan-out subtree + (k,v) dataset bucketing
    #       (engine.py), the one-pass nprobe sweep, the one-scan
    #       append censuses, the single-explosion BM25 postings (its
    #       build/serve family re-proves the persisted artifact), the
    #       Arrow char-trigram/frame-energy/ngram-novelty kernels --
    "mr_engine_fanout_rekey", "mr_engine_event_counts",
    "mr_engine_user_value", "mr_engine_combined_stats",
    "ann_nprobe_sweep",
    "text_bm25_index_build", "text_bm25_index_append",
    "text_bm25_index_compact", "text_bm25_index_serve",
    "stream_bm25_index_serve",
    "ann_ivf_append", "ann_index_append", "stream_ivf_append",
    "stream_index_ingest", "dedup_index_append",
    "stream_dedup_index_append",
    "text_trigram_lang_eval", "multimodal_audio_energy",
    "text_ngram_novelty",
    # -- 3. oldest-cohort rotation: the first 30 (alphabetical) of the
    #       41-row r7-banked cohort (computed from CORRECTNESS_r*.json
    #       hash_match max-round per query); the 11 that don't fit
    #       (pipe_t_closeness, stream_sink_rollup, text_bigram_score,
    #       text_cms_heavy_hitters, text_fingerprint, text_lang_id,
    #       text_perplexity_buckets, text_quality, text_repetition,
    #       text_tfidf_terms, text_token_histogram) lead the next
    #       rotation --
    "ann_adc_rerank", "ann_centroid_outliers", "ann_cluster_purity",
    "ann_ivf_pq_residual_topk", "ann_knn_graph", "ann_quantize_int8",
    "ann_range_search", "dedup_decontaminate", "dedup_effective_size",
    "dedup_entity_resolution", "dedup_exact", "dedup_funnel",
    "dedup_jaccard_prefix", "dedup_minhash_pairs", "dedup_minhash_sig",
    "dedup_ngram_jaccard", "dedup_paragraphs", "dedup_simhash",
    "dedup_simhash_pairs", "multimodal_features", "multimodal_frames",
    "multimodal_infer", "multimodal_meta", "multimodal_resize",
    "pipe_corpus_stats", "pipe_quality_funnel", "pipe_sample_hash",
    "pipe_sample_join", "pipe_shuffle_audit", "pipe_split_train_val_test",
]


def all_queries() -> dict[str, QueryFn]:
    from jobx_spark.queries import (
        dedup, mapreduce, multimodal, pipeline, relational, similarity,
        streams, temporal, text,
    )

    merged: dict[str, QueryFn] = {}
    for mod in (dedup, similarity, text, multimodal, mapreduce,
                streams, pipeline, temporal, relational):
        merged.update(mod.QUERIES)
    missing = [n for n in GATE_FIRST_50 if n not in merged]
    if missing:  # a rename must never silently shrink the gate
        raise KeyError(f"GATE_FIRST_50 names not in registry: {missing}")
    out: dict[str, QueryFn] = {n: merged[n] for n in GATE_FIRST_50}
    out.update(merged)
    return {name: _utc_pinned(fn) for name, fn in out.items()}


def all_oracles() -> dict[str, str]:
    from jobx_spark.queries import (
        dedup, mapreduce, multimodal, pipeline, relational, similarity,
        streams, temporal, text,
    )

    out: dict[str, str] = {}
    for mod in (dedup, similarity, text, multimodal, mapreduce,
                streams, pipeline, temporal, relational):
        out.update(mod.ORACLES)
    return out
