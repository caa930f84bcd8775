"""The fused MR fan-out subtree (engine.py) must be bit-equivalent to
the distributed recursion it replaces — results, trace events,
invocation forensics and session capture all identical — whichever
path the width gate or the speculative deadline picks.
"""

from __future__ import annotations

import time

import pytest

from jobx_spark.engine import FUSE_MAX_CHILDREN, Engine
from jobx_spark.handlers import MrConfigureToMap, MrConfigureToReturn


def mapper_split(scope, arguments):
    scope.session_set("key1", 123)
    scope.session_set("key2", "uvw")
    yield MrConfigureToMap("step_chunk")
    for _name, value in arguments:
        yield (0, value // 2)
        yield (1, value // 2 + value % 2)


def mapper_chunk(scope, arguments):
    import random

    yield MrConfigureToReturn()
    for _name, value in arguments:
        remaining = value
        while remaining > 0:
            part = random.randint(1, max(1, remaining // 2))
            remaining -= part
            yield (random.randint(0, 9), part)


def mapper_split_deep(scope, arguments):
    yield MrConfigureToMap("step_split_mid")
    for _name, value in arguments:
        yield (0, value // 2)
        yield (1, value // 2 + value % 2)


def mapper_spread(scope, arguments):
    yield MrConfigureToMap("step_leaf")
    for name, value in arguments:
        yield (name, value)


def mapper_leaf(scope, arguments):
    yield MrConfigureToReturn()
    for _name, value in arguments:
        yield ("lo", value % 3)
        yield ("hi", value - value % 3)


def mapper_to_nap(scope, arguments):
    scope.session_set("fan", "nap")
    yield MrConfigureToMap("step_nap")
    for _name, value in arguments:
        yield (0, value // 2)
        yield (1, value // 2 + value % 2)


def mapper_to_nap_mid(scope, arguments):
    yield MrConfigureToMap("step_nap_mid")
    for _name, value in arguments:
        yield (0, value // 2)
        yield (1, value // 2 + value % 2)


def mapper_zero(scope, arguments):
    scope.session_set("fan", "zero")
    yield MrConfigureToMap("step_leaf")
    for _name, value in arguments:
        if value % 2:
            yield (0, value)


NAP_S = 0.05


def mapper_nap(scope, arguments):
    time.sleep(NAP_S)
    yield MrConfigureToReturn()
    for _name, value in arguments:
        yield (value % 4, value)


def reducer_total(scope, results):
    for k, value_list in results:
        yield (k, sum(value_list))


def reducer_sum(scope, results):
    for k, value_list in results:
        total = 0
        for v in value_list:
            total += v if not isinstance(v, list) else sum(v)
        yield (k, total)


def reducer_noop(scope, results):
    for k, value_list in results:
        yield (k, value_list)


def reducer_count(scope, results):
    n = 0
    for _k, value_list in results:
        n += len(value_list)
    yield ("fan", scope.session_get("fan"))
    yield ("n", n)


def _build(spark) -> Engine:
    e = Engine(spark)
    e.create_workflow("wf13")
    e.register_handler("wf13", "chunk", fn=mapper_chunk, handler_type="mapper",
                       argument_spec=[("arg1", "int")])
    e.register_handler("wf13", "split", fn=mapper_split, handler_type="mapper",
                       argument_spec=[("arg1", "int")])
    e.register_handler("wf13", "split_deep", fn=mapper_split_deep,
                       handler_type="mapper", argument_spec=[("arg1", "int")])
    e.register_handler("wf13", "spread", fn=mapper_spread, handler_type="mapper")
    e.register_handler("wf13", "leaf", fn=mapper_leaf, handler_type="mapper")
    e.register_handler("wf13", "to_nap", fn=mapper_to_nap, handler_type="mapper",
                       argument_spec=[("arg1", "int")])
    e.register_handler("wf13", "to_nap_mid", fn=mapper_to_nap_mid,
                       handler_type="mapper", argument_spec=[("arg1", "int")])
    e.register_handler("wf13", "nap", fn=mapper_nap, handler_type="mapper")
    e.register_handler("wf13", "zero", fn=mapper_zero, handler_type="mapper",
                       argument_spec=[("arg1", "int")])
    e.register_handler("wf13", "count", fn=reducer_count, handler_type="reducer")
    e.register_handler("wf13", "total", fn=reducer_total, handler_type="reducer")
    e.register_handler("wf13", "sum", fn=reducer_sum, handler_type="reducer")
    e.register_handler("wf13", "noop", fn=reducer_noop, handler_type="reducer")
    e.create_step("wf13", "step_chunk", "chunk", "sum")
    e.create_step("wf13", "step_split", "split", "noop")
    e.create_step("wf13", "step_split_mid", "split", "noop")
    e.create_step("wf13", "step_split_top", "split_deep", "noop")
    e.create_step("wf13", "step_spread", "spread", "total")
    e.create_step("wf13", "step_leaf", "leaf", "total")
    e.create_step("wf13", "step_nap", "nap", "total")
    e.create_step("wf13", "step_nap_top", "to_nap", "noop")
    e.create_step("wf13", "step_nap_mid", "to_nap", "noop")
    e.create_step("wf13", "step_nap_deep", "to_nap_mid", "noop")
    e.create_step("wf13", "step_zero", "zero", "count")
    e.create_job("wf13", "job_fan", "step_split")
    e.create_job("wf13", "job_deep", "step_split_top")
    e.create_job("wf13", "job_spread", "step_spread")
    e.create_job("wf13", "job_nap", "step_nap_top")
    e.create_job("wf13", "job_nap_deep", "step_nap_deep")
    # an even argument fans out to no child at all: the parent still
    # folds, over an empty set
    e.create_job("wf13", "job_zero", "step_zero")
    return e


# job → arguments; job_spread is shaped like the benchmark's fan-out
# request: 16 arguments, one child invocation each
ARGS = {
    "job_fan": {"arg1": 144},
    "job_deep": {"arg1": 144},
    "job_spread": {f"c{j:02d}": 1000 + 37 * j for j in range(16)},
    "job_nap": {"arg1": 90},
    "job_nap_deep": {"arg1": 90},
}


def _pinned_distributed(spark, catalog) -> Engine:
    e = Engine(spark)
    e.catalog = catalog
    e.fuse_min_invocations = 10**9
    return e


def _snapshot(req):
    """Everything observable about a finished request."""
    trace = req.trace
    return {
        "pairs": req.result["pairs"],
        "events": [(ev.depth, ev.step_name, ev.phase) for ev in trace.events],
        "invocations": [
            (r.inv, r.parent_inv, r.step, r.depth, r.n_args, r.n_mapped,
             r.n_reduced, tuple(map(tuple, r.arg_sample)))
            for r in trace.invocations
        ],
        "inv_truncated": trace.invocations_truncated,
        "sessions": list(trace.sessions),
        "sess_truncated": trace.sessions_truncated,
    }


@pytest.mark.parametrize("job", ["job_fan", "job_deep", "job_zero"])
def test_fused_subtree_matches_distributed_recursion(spark, job):
    """fuse_min_invocations=1 forces the in-task subtree; a huge
    threshold forces the legacy distributed recursion. Every observable
    — result pairs, trace events, invocation records (ids, parents,
    depths, counts, samples), captured sessions — must be identical."""
    e_fused = _build(spark)
    e_fused.fuse_min_invocations = 1
    e_plain = _build(spark)
    e_plain.catalog = e_fused.catalog  # same workflow, separate engines
    e_plain.fuse_min_invocations = 10**9

    # a threshold of 1 fuses the root invocation's whole subtree
    fused = _snapshot(e_fused.submit("wf13", job, {"arg1": 144}))
    plain = _snapshot(e_plain.submit("wf13", job, {"arg1": 144}))
    assert fused == plain
    if job == "job_zero":
        assert fused["pairs"] == [["fan", "zero"], ["n", 0]]


def test_distributed_fold_is_one_grouped_pass(spark, monkeypatch):
    """The distributed fold-up groups child results and the parents'
    'fold' rows by parent key in one pass: no cogroup and no join that
    stamps each folded row with its parent."""
    run_step = Engine._run_step
    plans = []

    def spy(self, *args, **kwargs):
        out = run_step(self, *args, **kwargs)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(Engine, "_run_step", spy)
    e = _build(spark)
    e.fuse_min_invocations = 10**9
    req = e.submit("wf13", "job_deep", ARGS["job_deep"])
    assert {f.decision for f in req.trace.fusion} == {"distributed"}
    root = plans[-1]  # the root call returns last
    assert "FlatMapGroupsInPandas" in root
    assert "FlatMapCoGroupsInPandas" not in root
    assert "Join" not in root


def test_fuse_width_cap_falls_back(spark, monkeypatch):
    """An invocation fanning wider than FUSE_MAX_CHILDREN must take the
    distributed path (no serialized mega-task) and still produce the
    same result."""
    import jobx_spark.engine as E

    assert FUSE_MAX_CHILDREN > 0
    monkeypatch.setattr(E, "FUSE_MAX_CHILDREN", 1)  # every fan-out too wide
    e = _build(spark)
    e.fuse_min_invocations = 1
    capped = _snapshot(e.submit("wf13", "job_fan", {"arg1": 40}))

    monkeypatch.setattr(E, "FUSE_MAX_CHILDREN", 16384)
    e2 = _build(spark)
    e2.catalog = e.catalog
    e2.fuse_min_invocations = 1
    fused = _snapshot(e2.submit("wf13", "job_fan", {"arg1": 40}))
    assert capped["pairs"] == fused["pairs"]
    assert capped["invocations"] == fused["invocations"]
    assert capped["sessions"] == fused["sessions"]


def _decisions(req) -> list[tuple]:
    return [(f.depth, f.step_name, f.decision) for f in req.trace.fusion]


@pytest.mark.parametrize("job", ["job_fan", "job_deep", "job_spread"])
def test_root_fuses_speculatively_after_one_warm_request(spark, job):
    """With no pinned threshold, a narrow root fuses once one request
    has measured the wave cost, and every observable matches the
    distributed recursion."""
    e = _build(spark)
    e.submit("wf13", "job_fan", {"arg1": 10})  # measures the wave cost
    assert e.wave_cost_s is not None and e.wave_cost_s > 0
    budget = 2 * e.wave_cost_s
    req = e.submit("wf13", job, ARGS[job])
    plain = _pinned_distributed(spark, e.catalog).submit("wf13", job, ARGS[job])

    assert _snapshot(req) == _snapshot(plain)
    root = req.trace.fusion[0]
    assert (root.depth, root.decision) == (0, "fused")
    assert root.budget_s == pytest.approx(budget)
    assert root.subtree_s < root.budget_s
    assert len(req.trace.fusion) == 1  # the whole subtree ran in-task
    assert {f.decision for f in plain.trace.fusion} == {"distributed"}


@pytest.mark.parametrize(
    "job, fallbacks",
    [
        ("job_nap", [(0, "step_nap_top", "deadline-fallback")]),
        ("job_nap_deep", [
            (0, "step_nap_deep", "deadline-fallback"),
            (1, "step_nap_mid", "deadline-fallback"),
        ]),
    ],
)
def test_deadline_overrun_falls_back_to_distributed(spark, job, fallbacks):
    """A subtree whose child mapper sleeps past the budget is discarded
    for the distributed path: same snapshot, and the record says so."""
    e = _build(spark)
    e.wave_cost_s = NAP_S / 5  # budget 2 × wave cost < one nap
    req = e.submit("wf13", job, ARGS[job])
    plain = _pinned_distributed(spark, e.catalog).submit("wf13", job, ARGS[job])

    assert _snapshot(req) == _snapshot(plain)
    assert req.trace.sessions  # the fallback keeps the fan-out's sessions
    assert _decisions(req) == fallbacks
    for f in req.trace.fusion:
        assert f.subtree_s > f.budget_s == pytest.approx(2 * NAP_S / 5)


def test_fresh_engine_first_fanout_distributes(spark):
    """Before any wave cost is measured, a narrow root is not fused."""
    e = _build(spark)
    assert e.wave_cost_s is None
    req = e.submit("wf13", "job_spread", ARGS["job_spread"])
    root = req.trace.fusion[0]
    assert (root.depth, root.decision, root.budget_s) == (0, "distributed", None)
    assert e.wave_cost_s is not None


def test_pinned_threshold_keeps_distributed_path(spark):
    """A pinned fuse_min_invocations turns speculation off, measured
    wave cost or not."""
    e = _build(spark)
    e.fuse_min_invocations = 10**9
    e.submit("wf13", "job_fan", {"arg1": 10})
    assert e.wave_cost_s is not None
    req = e.submit("wf13", "job_deep", ARGS["job_deep"])
    assert _decisions(req) == [
        (0, "step_split_top", "distributed"),
        (1, "step_split_mid", "distributed"),
    ]
    assert all(f.budget_s is None for f in req.trace.fusion)


def test_wave_cost_keeps_the_minimum_under_concurrent_requests(spark):
    """Request threads report wave costs concurrently; the engine keeps
    the smallest one."""
    import random
    import sys
    import threading

    e = Engine(spark)
    costs = [random.Random(i).uniform(0.1, 1.0) for i in range(4000)]
    chunks = [costs[i::16] for i in range(16)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=lambda c=c: [e._note_wave_cost(x) for x in c])
            for c in chunks
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert e.wave_cost_s == min(costs)
