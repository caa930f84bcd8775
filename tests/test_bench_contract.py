"""bench.py's driver contract: the final JSON line must fit the
driver's 2000-char tail window (it keeps only the last 2000 chars of
combined output and parses the line from that — BENCH_r03.json arrived
head-truncated and unparsed), while `value` always totals EVERY query.
No SparkSession needed: budget_line is pure."""

import json

from bench import LINE_BUDGET, budget_line


def _fake_timings(n: int) -> dict[str, float]:
    return {f"query_family_name_{i:03d}_with_long_suffix": round(0.1 * i, 3)
            for i in range(1, n + 1)}


def test_small_set_keeps_every_query():
    t = _fake_timings(10)
    line, out = budget_line(t, 0.1)
    parsed = json.loads(line)
    assert parsed["queries"] == t
    assert "other_sec" not in parsed
    assert parsed["value"] == round(sum(t.values()), 3)


def test_large_set_fits_budget_and_totals_everything():
    t = _fake_timings(200)  # would be ~9k chars unfolded
    line, out = budget_line(t, 0.1)
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == round(sum(t.values()), 3)
    assert parsed["n_queries"] == 200
    # kept + folded covers the total
    assert round(sum(parsed["queries"].values()) + parsed["other_sec"], 2) == round(
        parsed["value"], 2
    )
    # the EXPENSIVE queries are the ones kept per-query
    kept_min = min(parsed["queries"].values())
    folded_names = set(t) - set(parsed["queries"])
    assert all(t[n] <= kept_min for n in folded_names)


def test_budget_line_has_required_driver_keys():
    line, _ = budget_line(_fake_timings(3), 0.01)
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed
    assert parsed["unit"] == "sec" and parsed["sf"] == 0.01


def test_run_meta_stamps_environment(monkeypatch):
    """VERDICT r4 #5: BENCH_FULL must be self-describing about its load
    conditions — quiet vs loaded, when, and which headline set."""
    import bench
    from bench import run_meta

    monkeypatch.setattr(bench.os, "cpu_count", lambda: 32)  # pin threshold
    t = _fake_timings(5)
    quiet = run_meta(0.3, 8.0, t)
    assert quiet["quiet_box"] is True
    assert quiet["concurrent_load_hint"]["loadavg_1m_start"] == 0.3
    assert quiet["n_queries"] == 5
    assert len(quiet["headline_set_version"]) == 12
    assert "T" in quiet["timestamp_utc"]

    loaded = run_meta(20.0, 25.0, t)
    assert loaded["quiet_box"] is False
    # same query set -> same version; different set -> different version
    assert loaded["headline_set_version"] == quiet["headline_set_version"]
    other = run_meta(0.3, 8.0, _fake_timings(6))
    assert other["headline_set_version"] != quiet["headline_set_version"]
    # meta must serialize (it lands in BENCH_FULL.json)
    json.dumps(quiet)


def test_warm_anchor_missing_query_reads_incomplete():
    """ADVICE r7: an anchor query absent from timings entirely must
    flip warm_anchor_complete to False (not be silently excluded while
    warm_subset_total quietly shrinks)."""
    from bench import WARM_ANCHOR, run_meta

    present = {n: 1.0 for n in WARM_ANCHOR[:-1]}  # one anchor missing
    reps = {n: 2 for n in present}
    meta = run_meta(0.1, 0.1, present, reps_done=reps)
    assert meta["warm_anchor_complete"] is False

    full = {n: 1.0 for n in WARM_ANCHOR}
    meta2 = run_meta(0.1, 0.1, full, reps_done={n: 2 for n in full})
    assert meta2["warm_anchor_complete"] is True
    assert meta2["warm_subset_total"] == round(float(len(WARM_ANCHOR)), 3)

    # ADVICE r8: reps_done claiming ≥2 while the timing row is ABSENT
    # (inconsistent driver state) must read incomplete, not sum 0.0
    meta3 = run_meta(0.1, 0.1, present, reps_done={n: 2 for n in WARM_ANCHOR})
    assert meta3["warm_anchor_complete"] is False


def test_bench_core_contains_anchor_and_no_excluded():
    """VERDICT r9 #1b: the benched set is a frozen core + rotating
    pool. The core must contain every WARM_ANCHOR member (their warm
    reps are hoisted into pass 1a) and no excluded scale probe."""
    from bench import BENCH_CORE, BENCH_EXCLUDE, WARM_ANCHOR

    assert set(WARM_ANCHOR) <= set(BENCH_CORE)
    assert not set(BENCH_CORE) & set(BENCH_EXCLUDE)
    assert len(BENCH_CORE) == len(set(BENCH_CORE)), "duplicate core rows"
    # the cap that makes pass 1 + anchor reps fit the driver timeout
    assert len(BENCH_CORE) <= 135


def test_bench_core_names_resolve_in_registry():
    """A core name falling out of the registry (rename) must be caught
    by review, not discovered as a KeyError inside the driver's timed
    bench run."""
    from bench import BENCH_CORE
    from jobx_spark.queries import all_queries

    qs = all_queries()
    missing = [n for n in BENCH_CORE if n not in qs]
    assert not missing, f"BENCH_CORE names not in registry: {missing}"


def test_run_meta_core_total_and_completeness():
    """core_total sums exactly the frozen core; a core query missing
    from timings flips core_complete instead of silently shrinking the
    secondary comparable."""
    from bench import BENCH_CORE, run_meta

    full = {n: 1.0 for n in BENCH_CORE}
    meta = run_meta(0.1, 0.1, full, reps_done={n: 1 for n in full})
    assert meta["core_total"] == round(float(len(BENCH_CORE)), 3)
    assert meta["core_complete"] is True
    # extra non-core timings don't inflate core_total
    extra = dict(full, some_pool_query=50.0)
    meta2 = run_meta(0.1, 0.1, extra, reps_done={n: 1 for n in extra})
    assert meta2["core_total"] == meta["core_total"]
    # a missing core row reads incomplete
    part = dict(full)
    part.pop(BENCH_CORE[0])
    meta3 = run_meta(0.1, 0.1, part, reps_done={n: 1 for n in part})
    assert meta3["core_complete"] is False


def test_every_registry_query_enrolled_or_excluded():
    """ADVICE r10: the prefix-based auto-enroll silently never benched
    87 registry rows. Enrollment is now registry-wide: every query in
    all_queries() must be in BENCH_CORE, the rotation pool (registry −
    core − exclude), or explicitly listed in BENCH_EXCLUDE — i.e. the
    only way a query escapes the bench is a deliberate exclusion."""
    from bench import (
        BENCH_CORE,
        BENCH_EXCLUDE,
        PASS1_ROTATION_PERIOD,
        enrolled_queries,
        pool_for_round,
    )
    from jobx_spark.queries import all_queries

    qs = set(all_queries())
    # against the REAL enrollment computation main() uses (ADVICE r11:
    # the old form recomputed the set expression inside the test, so
    # it could never fail — the r10 prefix-auto-enroll bug this guards
    # against would not have been caught)
    stranded = qs - set(enrolled_queries(qs)) - set(BENCH_EXCLUDE)
    assert not stranded, f"never-benched registry rows: {sorted(stranded)}"
    # the union of one full rotation's slices must cover the whole
    # pool: every non-core enrolled query is actually VISITED within
    # PASS1_ROTATION_PERIOD rounds by the real slicer
    visited: set[str] = set()
    pool = None
    for rnd in range(1, PASS1_ROTATION_PERIOD + 1):
        pool, sl, _off = pool_for_round(qs, rnd)
        visited |= set(sl)
    expected = set(enrolled_queries(qs)) - set(BENCH_CORE)
    assert set(pool) == expected
    assert visited == expected, (
        f"pool rows never sliced in: {sorted(expected - visited)}"
    )
    # and exclusions must be real registry names (a rename would turn
    # an exclusion into a dead entry while the query re-enrolls)
    dead = [n for n in BENCH_EXCLUDE if n not in qs]
    assert not dead, f"BENCH_EXCLUDE names not in registry: {dead}"


def test_bench_prereq_names_resolve_and_core_untouched():
    """VERDICT r11 #3: lifecycle prereqs must name real registry rows,
    every prereq'd row must itself be enrolled (core or pool), and the
    prereq map must not inject ensures into the frozen core's own
    timing path (the core trio handles ordering positionally — a
    prereq'd CORE row would silently change the core_total series).
    run_meta must serialize the calibration canary."""
    from bench import (
        BENCH_CORE,
        BENCH_PREREQ,
        enrolled_queries,
        run_meta,
    )
    from jobx_spark.queries import all_queries

    qs = all_queries()
    enrolled = set(enrolled_queries(qs))
    for name, pres in BENCH_PREREQ.items():
        assert name in qs, f"BENCH_PREREQ key not in registry: {name}"
        assert name in enrolled, f"prereq'd row is excluded: {name}"
        for p in pres:
            assert p in qs, f"prereq not in registry: {name} -> {p}"
    # main() applies prereqs in pass 1c only; nothing in BENCH_CORE may
    # rely on one (build-before-serve inside the core is positional)
    core = set(BENCH_CORE)
    for name in BENCH_PREREQ:
        if name in core:
            for p in BENCH_PREREQ[name]:
                assert p in core and BENCH_CORE.index(p) < BENCH_CORE.index(
                    name
                ), (
                    f"core row {name} depends on {p}, which must precede "
                    "it inside BENCH_CORE (pool prereqs never fire for "
                    "core rows)"
                )
    import json as _json

    meta = run_meta(
        0.1, 0.1, {n: 1.0 for n in BENCH_CORE},
        reps_done={n: 1 for n in BENCH_CORE},
        calibration={"start": {"spark_fixed_s": 1.0}},
    )
    assert meta["calibration"]["start"]["spark_fixed_s"] == 1.0
    _json.dumps(meta)
