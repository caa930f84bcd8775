"""Greedy k-center coreset selection: an INDEPENDENT hashlib+numpy
replay of the whole selection trajectory must match the Spark operator
row-for-row. The DuckDB oracle replays the same unrolled CTE
arithmetic, so (like the PCA test) this guards against a
systematically-wrong-but-self-consistent formulation: the replay here
derives shard/seed/argmax from hashlib and a plain greedy loop, not
from Spark expressions or SQL."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from jobx_spark.queries.similarity import (
    KC_K,
    KC_SCALE,
    KC_SHARDS,
    ann_kcenter_select,
)


def _h(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _replay(sf_dir: str) -> list[tuple]:
    import duckdb

    raw = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
    ).df()
    raw["shard"] = [_h(f"kc:{v}") % KC_SHARDS for v in raw["vec_id"]]
    raw["pos_h"] = [_h(f"kc-pos:{v}") for v in raw["vec_id"]]
    rows = []
    for shard, grp in raw.groupby("shard"):
        grp = grp.sort_values(["pos_h", "vec_id"])
        qv = np.floor(
            np.stack([np.asarray(v, dtype=np.float64) for v in grp["embedding"]])
            * KC_SCALE
        ).astype(np.int64)
        ids = grp["vec_id"].to_numpy()
        md = ((qv - qv[0]) ** 2).sum(axis=1)
        rows.append((shard, 0, int(ids[0]), len(ids), int(md.max())))
        for step in range(1, KC_K):
            # argmax md with ties broken by min vec_id — a plain scan,
            # not lexsort, so the tie rule is independently restated
            best, best_key = 0, (-1, 0)
            for i in range(len(ids)):
                key = (int(md[i]), -int(ids[i]))
                if key > best_key:
                    best, best_key = i, key
            md = np.minimum(md, ((qv - qv[best]) ** 2).sum(axis=1))
            rows.append((shard, step, int(ids[best]), len(ids), int(md.max())))
    return sorted(rows)


def test_kcenter_matches_independent_replay(spark, sf_dir):
    got = sorted(
        tuple(int(x) for x in r)
        for r in ann_kcenter_select(spark, sf_dir).collect()
    )
    assert got == _replay(sf_dir)


def test_kcenter_scaled_keeps_per_shard_block_constant(spark, sf_dir):
    """The 8× probe grows shards with the corpus: per-shard block size
    (the pandas-group memory bound) must stay flat, not grow 8×."""
    from jobx_spark.queries.similarity import ann_kcenter_scaled
    from jobx_spark.sources import REPLICAS

    base = ann_kcenter_select(spark, sf_dir).toPandas()
    scaled = ann_kcenter_scaled(spark, sf_dir).toPandas()
    assert len(scaled) == KC_SHARDS * REPLICAS * KC_K
    assert scaled["n_points"].sum() == base["n_points"].sum() * REPLICAS
    assert scaled["n_points"].max() <= base["n_points"].max() * 2, (
        "per-shard block grew with the corpus — shards did not scale"
    )


def test_kcenter_radius_monotone_and_centers_distinct(spark, sf_dir):
    pdf = ann_kcenter_select(spark, sf_dir).toPandas()
    assert len(pdf) == KC_SHARDS * KC_K
    for _, grp in pdf.groupby("shard"):
        grp = grp.sort_values("step")
        radii = grp["radius"].tolist()
        assert radii == sorted(radii, reverse=True), "radius must not grow"
        # each shard holds far more than KC_K distinct vectors here, so
        # the greedy never has to re-pick an exhausted center
        assert grp["center_id"].nunique() == KC_K
