"""The micro-batch runner and the stateless stream twins.

Every stream runs through ``streaming._run``; the stateless twins write
through the batch-id sink (``streaming.stream_to_parquet``) and call
their batch kernel once per micro-batch. These tests prove the sink's
replay-after-failure contract by injecting a fault, and that each twin
returns exactly its batch query's rows.
"""

import pytest
from pyspark.errors import StreamingQueryException


def test_batch_id_sink_replays_a_failed_batch(spark, sf_dir, tmp_path):
    """A batch that fails mid-stream is re-run from the checkpoint: the
    output equals the input, each batch id lands once, and no row is
    written twice. The failing call first lands the batch's rows in its
    partition — a crash after the write and before the commit — so the
    re-run must overwrite them, not append beside them."""
    from pyspark.sql import functions as F

    from jobx_spark import streaming as S
    from jobx_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    st = S.stream_replay(ev, ["event_id"], 3, "fault")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    calls = []

    def flaky(batch_df, batch_id):
        calls.append(batch_id)
        if batch_id == 1 and calls.count(1) == 1:
            (
                batch_df.withColumn("_batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("_batch_id")
                .parquet(out)
            )
            raise RuntimeError("injected fault in batch 1")
        return batch_df

    with pytest.raises(StreamingQueryException, match="injected fault"):
        S.stream_to_parquet(st, out, ckpt, fn=flaky)
    assert calls == [0, 1]
    landed = spark.read.parquet(out).select("_batch_id").distinct().collect()
    assert sorted(r[0] for r in landed) == [0, 1]

    S.stream_to_parquet(st, out, ckpt, fn=flaky)  # same checkpoint
    assert calls == [0, 1, 1, 2]
    back = spark.read.parquet(out)
    per_batch = back.groupBy("_batch_id").count().collect()
    assert sorted(r["_batch_id"] for r in per_batch) == [0, 1, 2]
    rows = back.select(*ev.columns).collect()
    assert len(rows) == ev.count()
    assert len(set(rows)) == len(rows)
    assert set(rows) == set(ev.collect())


# rows compared as sets where the twin's union of per-batch results has
# no defined row order beyond the query's own ordering keys
_UNORDERED = {
    "stream_drift_census",
    "stream_index_serve",
    "stream_dedup_index_probe",
}


@pytest.mark.parametrize(
    "stream, batch",
    [
        ("stream_drift_census", "ann_drift_census"),
        ("stream_index_serve", "ann_index_serve"),
        ("stream_dedup_index_probe", "dedup_index_probe"),
        ("stream_dedup_index_append", "dedup_index_append"),
        ("stream_bm25_index_serve", "text_bm25_index_serve"),
        ("stream_ivf_append", "ann_ivf_append"),
        ("stream_bloom_decontaminate", "dedup_bloom_decontaminate"),
    ],
)
def test_stream_twin_equals_batch(spark, sf_dir, stream, batch):
    """Each input row lives in exactly one replay micro-batch, so the
    stateless twin's unioned per-batch output must equal its batch
    query bit for bit — the two share one oracle."""
    from jobx_spark.queries import all_queries

    qs = all_queries()
    sdf, bdf = qs[stream](spark, sf_dir), qs[batch](spark, sf_dir)
    assert sdf.columns == bdf.columns
    streamed, batched = sdf.collect(), bdf.collect()
    if stream in _UNORDERED:
        assert set(streamed) == set(batched)
    else:
        assert streamed == batched
    if "append_matches_rebuild" in sdf.columns:
        assert all(r["append_matches_rebuild"] == 1 for r in streamed)
