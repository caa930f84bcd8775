"""Every relational query must exactly match its DuckDB oracle at
sf0.001 (the driver repeats this at sf0.01 — same code path). The
funnel and retention rows' semantic claims are also pinned as executed
properties the oracle alone does not state."""

import pytest

from jobx_spark.oracle import compare, duck_connect
from jobx_spark.queries import relational


@pytest.fixture(scope="module")
def duck(sf_dir):
    return duck_connect(sf_dir)


@pytest.mark.parametrize("name", sorted(relational.QUERIES))
def test_relational_query_matches_oracle(name, spark, sf_dir, duck):
    df = relational.QUERIES[name](spark, sf_dir)
    res = compare(name, df, duck, relational.ORACLES[name])
    assert res.ok, str(res)


def _rows(spark, sf_dir, name):
    from jobx_spark.queries import all_queries

    return all_queries()[name](spark, sf_dir).collect()


# -- q69_sequence_funnel / q70_retention_cohorts ------------------------------
def test_funnel_is_monotone_and_ppm_exact(spark, sf_dir):
    from jobx_spark.queries.relational import FUNNEL_STAGES

    rows = sorted(_rows(spark, sf_dir, "q69_sequence_funnel"), key=lambda r: r["stage"])
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


def test_retention_day_zero_is_the_whole_cohort(spark, sf_dir):
    rows = _rows(spark, sf_dir, "q70_retention_cohorts")
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
