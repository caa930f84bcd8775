"""The execution engine: map → combine → reduce with dynamic fan-out.

Re-expresses the reference's job lifecycle (mr/job_engine.py — queue
hops, etcd datasets, CAS counters) as a driver-side recursion over
Spark DataFrames:

  * an **invocation** is a group key, not a queue message: one step's
    mapper+combiner+reducer run inside a single Arrow-batched
    ``applyInPandas`` over a hash bucket of the invocation id — one
    shuffle per step instead of the reference's one queue message +
    etcd dataset *per yielded pair* (its self-documented scheduling
    cliff, mr/job_engine.py:349-358);
  * a ``submit()`` request is one Spark job: its root is one
    invocation the driver built, which needs no grouping, so its step
    runs as one ``mapInPandas`` task and one collect (see
    ``Engine._run_step``); a fused subtree adds no job, and only a
    fallback to the distributed recursion does;
  * dynamic fan-out (``MrConfigureToMap`` — mr/job_engine.py:330-386)
    re-keys each yielded pair to a derived child invocation id and
    recurses in the driver (the Pregel pattern): millions of child
    invocations are rows, not tasks;
  * the hierarchical fold-up (mr/job_engine.py:689-819: union children →
    regroup by key → parent reducer) is one kernel, ``_fold``: in-task
    for a fused subtree, else one ``groupBy(parent).applyInPandas`` per
    level (``_fold_up``); Spark's hash aggregation spills where the
    reference's in-memory dict regroup "has a high [memory] cost for
    large sets" (mr/job_engine.py:772-775);
  * a fan-out invocation's session writes ride its own ``'fold'`` row
    to its reducer in the same grouped pass — no driver-sized state.

Values are JSON-encoded strings end-to-end — the reference's loose JSON
typing (mr/config/kv.py:12-13) inside a fixed Spark schema.

Determinism: handler RNG is seeded from the invocation id before every
handler call (the reference's handlers are free-running RNG; seeding is
a deliberate deviation so results are golden-hashable — FIXTURES.md A.4).
"""

from __future__ import annotations

import hashlib
import heapq
import json
import threading
import time
import traceback
import uuid
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from jobx_spark.catalog import Catalog, Handler, Step
from jobx_spark.handlers import (
    HandlerScope,
    MrConfigureToMap,
    MrConfigureToReturn,
    compile_source_handler,
    parse_docstring_metadata,
)
from jobx_spark import result_writers
from jobx_spark.sources import local_frame
from jobx_spark.trace import (
    INVOCATION_CAP,
    FusionDecision,
    InvocationRecord,
    RequestTrace,
)

# unified row schema for every engine dataset
_ROWS_SCHEMA = (
    "row_type string, inv string, parent_inv string, step string, "
    "seq long, k string, v string"
)

_MAX_DEPTH = 32


class HandlerInvocationError(RuntimeError):
    """Carries (step, invocation, traceback) back to the driver — the
    engine's version of the reference's error stamping
    (mr/job_engine.py:535-572)."""


@dataclass
class Request:
    request_id: str
    workflow_name: str
    job_name: str
    context: dict | None
    is_blocking: bool
    is_done: bool = False
    error: str | None = None
    failed_invocation_id: str | None = None
    result: dict | None = None
    # distributed result path (submit_dataset with the parquet writer):
    # the folded output as a DataFrame read back from the files —
    # table-scale results never transit the driver.
    result_df: DataFrame | None = None
    created_at: float = field(default_factory=time.time)
    finished_at: float | None = None
    trace: RequestTrace | None = None

    def wait(self, timeout: float | None = None) -> "Request":
        deadline = None if timeout is None else time.time() + timeout
        while not self.is_done:
            if deadline and time.time() > deadline:
                raise TimeoutError(f"request {self.request_id} still running")
            time.sleep(0.05)
        return self


# json.dumps with non-default options builds a new JSONEncoder per call;
# one shared encoder gives byte-identical output. The decoder twin skips
# json.loads' per-call type and BOM checks (a BOM-prefixed string still
# raises JSONDecodeError, at its first character).
_ENCODER = json.JSONEncoder(sort_keys=True, separators=(",", ":"))
_DECODER = json.JSONDecoder()


def _encode(obj) -> str:
    return _ENCODER.encode(obj)


def _decode(s: str):
    return _DECODER.decode(s)


def _seeded_random(*parts: str):
    import random

    random.seed(":".join(parts))


def _call_handler(handler: Handler, scope: HandlerScope, payload):
    """Invoke a handler: plain callables get (scope, payload); source
    handlers get the reference's injected-globals convention."""
    if handler.fn is not None:
        return handler.fn(scope, payload)
    arg_name = "arguments" if handler.handler_type == "mapper" else "results"
    compiled = compile_source_handler(handler.name, [arg_name], handler.source_code)
    return compiled(scope.scope_dict(), payload)


def _default_combine(pairs: list[tuple[str, str]]):
    """The reference's default combiner: sort pairs, group by key, do NOT
    flatten value lists (mr/job_engine.py:275-313, no-flatten note
    :396-404). Operates on JSON-encoded pairs; sort order is the
    encoded-string order (deterministic across engines/runs)."""
    out: list[tuple[str, list]] = []
    for ek, ev in sorted(pairs):
        if out and out[-1][0] == ek:
            out[-1][1].append(_decode(ev))
        else:
            out.append((ek, [_decode(ev)]))
    return [(_decode(ek), vl) for ek, vl in out]


def _run_reduce(
    step_plan: dict, inv: str, parent_inv: str, grouped, session_snapshot: dict
) -> list[tuple]:
    """Run the user reducer; emit engine rows. Session writes are locked
    out (reference: allow_session_writes=False, mr/job_engine.py:795-800)."""
    reducer: Handler = step_plan["reducer"]
    scope = HandlerScope(
        inv, session_snapshot=session_snapshot, allow_session_writes=False,
        workdir=step_plan.get("workdir"),
        extra=step_plan.get("scope_values"),
    )
    _seeded_random(inv, "reduce")
    rows = []
    try:
        for i, (k, v) in enumerate(_call_handler(reducer, scope, iter(grouped))):
            rows.append(
                ("reduced", inv, parent_inv, step_plan["name"], i, _encode(k), _encode(v))
            )
    except Exception:
        raise HandlerInvocationError(
            f"JOBX_HANDLER_ERROR step={step_plan['name']} inv={inv} "
            f"phase=reduce\n{traceback.format_exc()}"
        ) from None
    return rows


def _fold(
    step_plan: dict, inv: str, parent_inv, pairs: list[tuple[str, str]],
    session_writes: dict,
) -> list[tuple]:
    """The fold-up (mr/job_engine.py:689-819): merge-group the children's
    JSON-encoded result pairs by key (the reference's dict regroup,
    sorted), then run the parent step's reducer over them with the
    parent mapper's session writes. A parent with no children folds an
    empty set. One kernel for both paths: a fused subtree calls it
    in-task, the distributed recursion through ``_fold_up``."""
    return _run_reduce(
        step_plan, inv, parent_inv, _default_combine(pairs), session_writes
    )


def _fold_up(step_plan: dict, rows: DataFrame) -> DataFrame:
    """Fold result rows into their parents in one grouped pass. A
    'reduced' row belongs to its ``parent_inv``; a parent's own 'fold'
    row (emitted by phase 1 on the distributed fan-out path) belongs to
    its ``inv`` and carries what the fold needs besides the results:
    the parent's own parent, which the folded rows are stamped with for
    the next level up, and its session writes. A group without a fold
    row is submit_dataset's root, which runs no mapper."""

    def fold(key, pdf):
        is_fold = (pdf["row_type"] == "fold").to_numpy()
        parent_inv, session_writes = None, {}
        if is_fold.any():
            own = pdf[is_fold].iloc[0]
            parent_inv, session_writes = own["parent_inv"], _decode(own["v"])
        results = pdf[~is_fold]
        rows = _fold(
            step_plan, key[0], parent_inv,
            list(zip(results["k"], results["v"])), session_writes,
        )
        return pd.DataFrame(
            rows,
            columns=["row_type", "inv", "parent_inv", "step", "seq", "k", "v"],
        )

    parent = F.when(F.col("row_type") == "fold", F.col("inv")).otherwise(
        F.col("parent_inv")
    )
    return rows.groupBy(parent.alias("_parent")).applyInPandas(
        fold, schema=_ROWS_SCHEMA
    )


# Phase-1 rows the driver reads itself; every other row type ('reduced',
# 'fold', 'child') stays a DataFrame for the result and the fallback.
_META_ROWS = ("route", "traceev", "forensic", "session")


def _whole_partition(phase1):
    """``phase1`` as a ``mapInPandas`` function: Arrow hands a partition
    over in batches of at most ``arrow.maxRecordsPerBatch`` rows, and
    an invocation must reach the kernel whole, in one call."""

    def run(batches):
        yield phase1(pd.concat(list(batches), ignore_index=True))

    return run


# Per-invocation fan-out width cap for in-task subtree fusion: one
# invocation yielding more pairs than this falls back to distributed
# child rows so a single skewed fan-out never serializes inside one
# task (~76 µs/invocation → ~1.2 s of serial work at the cap).
FUSE_MAX_CHILDREN = 16384


class _Deadline:
    """In-task time budget of one speculatively fused subtree. Every
    fused frame checks it after each child; once it has passed, the
    frames fall back to child rows from the innermost outwards (the
    distributed path then runs the subtree)."""

    __slots__ = ("at", "hit")

    def __init__(self, budget_s: float):
        self.at = time.perf_counter() + budget_s
        self.hit = False

    def passed(self) -> bool:
        if not self.hit and time.perf_counter() > self.at:
            self.hit = True
        return self.hit


def _make_phase1_udf(
    step_plan: dict, workdir: str | None, emit_forensics: bool = False,
    plans: dict | None = None, depth: int = 0, budget_s: float | None = None,
):
    """Bucket UDF: each Arrow group carries MANY invocations (the
    frontier is grouped by a hash bucket of the invocation id, not by
    the id itself), and the per-invocation semantics — seeded RNG,
    session scope, routing, combine/reduce — run in a loop inside the
    batch. Grouping by raw invocation id would make a 1M-pair fan-out
    into 1M pandas groups (the reference's one-message-per-pair cliff
    reappearing as per-group Python overhead); bucketing amortizes the
    Arrow/pandas cost over the whole batch while keeping 1 pair = 1
    invocation observable semantics (ids, sessions, forensics).

    With ``plans`` (the workflow's full step-plan table), a fan-out
    subtree is FUSED into this pass (guide §1.2-1, §2.4): every child
    invocation is single-pair by construction (child id = sha1(inv:i)
    over this invocation's own yields), so its arguments are already
    task-local and the child's map→combine→reduce plus this
    invocation's fold need no exchange at all. The driver enables
    fusion per level only when the frontier holds enough invocations
    to keep every core busy from the PARENT level, or speculatively
    under ``budget_s`` — each frontier invocation's fused subtree is
    kept only while its in-task time stays within the budget (see
    Engine._fuse_plans). The fan-out width cap is read here, when the
    step is planned, and travels with the UDF: the Python workers that
    run it import this module afresh and would not see a value set at
    planning time.

    Each batch also emits one 'route' row for the driver's single
    metadata collect (see Engine._run_step): child-row counts per next
    step, the batch's busy seconds, the slowest fused subtree and the
    number of subtrees that overran the budget."""
    fuse_max = FUSE_MAX_CHILDREN

    def phase1(pdf: pd.DataFrame) -> pd.DataFrame:
        # One global (inv, seq) sort + numpy boundary slicing instead of
        # pandas groupby(inv) → per-group sort_values(seq): a wide
        # fan-out makes invocations per-PAIR, and constructing a pandas
        # sub-frame per invocation cost tens of µs × |pairs| — the
        # dominant phase-1 cost at 100k+ invocations (guide §4.2: keep
        # the per-batch Python vectorized, spend the per-row budget in
        # the handler itself). Group order and within-group seq order
        # are what groupby(sort=True) produced; seq ties carry
        # bit-identical rows either way.
        import heapq

        import numpy as np

        t_start = time.perf_counter()
        pdf = pdf.sort_values(["inv", "seq"])
        invs = pdf["inv"].to_numpy()
        pinvs = pdf["parent_inv"].to_numpy()
        rts = pdf["row_type"].to_numpy()
        seqs = pdf["seq"].to_numpy()
        ks = pdf["k"].to_numpy()
        vs = pdf["v"].to_numpy()
        starts = np.nonzero(np.concatenate(([True], invs[1:] != invs[:-1])))[0]
        bounds = np.append(starts, len(invs))
        rows: list[tuple] = []
        fcands: list[tuple] = []
        scands: list[tuple] = []
        trans: set[tuple] = set()
        children: dict[str, int] = {}
        subtree_s = 0.0
        overruns = 0
        for s, e_ in zip(bounds[:-1], bounds[1:]):
            t_inv = time.perf_counter()
            deadline = _Deadline(budget_s) if budget_s is not None else None
            out, side, fc, tr = _phase1_one_invocation(
                step_plan, workdir, invs[s], pinvs[s],
                rts[s:e_], seqs[s:e_], ks[s:e_], vs[s:e_],
                plans=plans, depth=depth, want_forensics=emit_forensics,
                fuse_max=fuse_max, deadline=deadline,
            )
            subtree_s = max(subtree_s, time.perf_counter() - t_inv)
            if deadline is not None and deadline.hit:
                overruns += 1
            # a frontier invocation's out rows are 'reduced' rows, or
            # (distributed fan-out) its 'fold' row, which names the
            # child step, and then its 'child' rows
            if out and out[0][0] == "fold":
                ns = out[0][3]
                children[ns] = children.get(ns, 0) + len(out) - 1
            rows.extend(out)
            scands.extend(side)
            fcands.extend(fc)
            trans |= tr
        # Forensics ride phase 1 (guide §1.2-1: don't recompute what an
        # existing pass already knows): each invocation's record —
        # argument count, ≤3-pair sample ordered by (seq, k, v), child/
        # reduced output counts — is emitted as ONE extra 'forensic'
        # row, replacing the driver-side distinct + full-frontier
        # window + two-aggregate join jobs that re-derived the same
        # facts from the persisted frames. The 512-record cap makes a
        # per-(step, depth)-per-batch budget sound (_smallest_per_node).
        # seq carries the invocation's absolute fan-out depth so the
        # driver can capture per (step, depth) node in the fused output.
        if emit_forensics:
            for stp, dep, inv, pinv, counts, sample in _smallest_per_node(
                fcands, lambda c: (c[0], c[1]), lambda c: c[2]
            ):
                rows.append(("forensic", inv, pinv, stp, dep, counts, sample))
        # 'session' rows feed only the request's session capture, which
        # keeps a node's room+1 smallest (inv, k): the same per-node
        # per-batch budget makes them metadata rows too.
        rows.extend(
            _smallest_per_node(scands, lambda r: (r[3], r[4]), lambda r: (r[1], r[5]))
        )
        # one 'traceev' marker per fused fan-out transition per batch
        # (bounded by steps × depth): the driver reconstructs the
        # step-level trace events and per-node captures from these.
        for pstep, cstep, cdep in sorted(trans):
            rows.append(("traceev", "", pstep, cstep, cdep, None, None))
        route = {
            "children": children,
            "subtree_s": subtree_s,
            "overruns": overruns,
            "busy_s": time.perf_counter() - t_start,
        }
        rows.append(("route", "", None, None, 0, None, _encode(route)))
        return pd.DataFrame(
            rows,
            columns=["row_type", "inv", "parent_inv", "step", "seq", "k", "v"],
        )

    return phase1


def _smallest_per_node(rows: list[tuple], node, key) -> list[tuple]:
    """Each (step, depth) node's INVOCATION_CAP+1 smallest ``rows`` by
    ``key``: a batch's budget for the driver's per-node capture. Each
    of a node's globally smallest CAP+1 rows is among its own batch's
    smallest CAP+1, so the driver's cut over every batch's rows sees
    every record it can keep."""
    by_node: dict[tuple, list] = {}
    for r in rows:
        by_node.setdefault(node(r), []).append(r)
    return [
        r for rs in by_node.values()
        for r in heapq.nsmallest(INVOCATION_CAP + 1, rs, key=key)
    ]


def _forensic_candidate(
    step_name: str, depth: int, inv, parent_inv, seqs, ks, vs,
    n_mapped: int, n_reduced: int,
) -> tuple:
    """(step, depth, inv, parent_inv, counts_json, sample_json) — the
    invocation's forensic record. Sample = ≤3 argument pairs ordered by
    (seq ASC, k ASC, v ASC) NULLS FIRST, exactly the window ordering
    the pre-r12 driver-side sample used (arg_empty sentinel rows carry
    NULL k/v)."""
    sample = heapq.nsmallest(
        3,
        zip((int(x) for x in seqs), ks, vs),
        key=lambda t: (
            t[0],
            t[1] is not None,
            t[1] or "",
            t[2] is not None,
            t[2] or "",
        ),
    )
    counts = {
        "n_args": len(seqs),
        "n_mapped": n_mapped,
        "n_reduced": n_reduced,
    }
    return (
        step_name, depth, inv, parent_inv,
        _encode(counts), _encode([[k, v] for _, k, v in sample]),
    )


def _phase1_one_invocation(
    step_plan: dict, workdir: str | None, inv, parent_inv,
    row_types, seqs, ks, vs,
    plans: dict | None = None, depth: int = 0, want_forensics: bool = False,
    *, fuse_max: int, deadline: _Deadline | None = None,
) -> tuple[list[tuple], list[tuple], list[tuple], set[tuple]]:
    """One invocation's mapper → routing → (leaf: combine+reduce
    in-place | fan-out: fused subtree when possible, else child rows).
    Takes the invocation's rows as seq-presorted parallel arrays — the
    bucket UDF slices them out of its one batch-wide sort (a pandas
    sub-frame per invocation would cost tens of µs × invocations).

    Returns ``(out_rows, side_rows, forensic_candidates, transitions)``:
    out_rows are this invocation's result rows ('reduced' for a leaf or
    a fused fold; on the distributed-fallback path one 'fold' row, then
    the 'child' rows);
    side_rows are 'session' rows of every fan-out invocation in the
    fused subtree; forensic_candidates are unbudgeted per-invocation
    records (the batch wrapper applies the CAP+1 budget); transitions
    are (parent_step, child_step, child_depth) fan-out edges taken by
    fused recursion (the driver rebuilds trace events from them)."""
    # 'arg_empty' sentinel: a zero-argument invocation still runs its
    # mapper exactly once (parity with the reference, which enumerates
    # an empty DT_ARGUMENTS dataset).
    args = [
        (_decode(k), _decode(v))
        for t, k, v in zip(row_types, ks, vs)
        if t != "arg_empty"
    ]
    scope = HandlerScope(
        inv, allow_session_writes=True, workdir=workdir,
        extra=step_plan.get("scope_values"),
    )
    _seeded_random(inv, "map")
    rows: list[tuple] = []
    side: list[tuple] = []
    fcands: list[tuple] = []
    trans: set[tuple] = set()
    n_mapped = n_reduced = 0
    try:
        gen = _call_handler(step_plan["mapper"], scope, iter(args))
        route = next(gen)
        pairs = [(_encode(k), _encode(v)) for k, v in gen]
    except Exception:
        raise HandlerInvocationError(
            f"JOBX_HANDLER_ERROR step={step_plan['name']} inv={inv} "
            f"phase=map\n{traceback.format_exc()}"
        ) from None

    if isinstance(route, MrConfigureToReturn):
        if step_plan["combiner"] is not None:
            cscope = HandlerScope(
                inv, session_snapshot=scope.session_snapshot(),
                extra=step_plan.get("scope_values"),
            )
            _seeded_random(inv, "combine")
            try:
                grouped = list(
                    _call_handler(
                        step_plan["combiner"],
                        cscope,
                        iter((_decode(k), _decode(v)) for k, v in pairs),
                    )
                )
            except Exception:
                raise HandlerInvocationError(
                    f"JOBX_HANDLER_ERROR step={step_plan['name']} inv={inv} "
                    f"phase=combine\n{traceback.format_exc()}"
                ) from None
        else:
            grouped = _default_combine(pairs)
        rows.extend(
            _run_reduce(step_plan, inv, parent_inv, grouped, scope.session_snapshot())
        )
        n_reduced = len(rows)
    elif isinstance(route, MrConfigureToMap):
        # session rows feed the request's session capture (the leaf
        # path consumed its sessions in-UDF above); seq carries the
        # fan-out depth for per-node driver capture.
        next_step = route.next_step_name
        n_mapped = len(pairs)
        for key, val in scope.session_writes().items():
            side.append(("session", inv, parent_inv, step_plan["name"], depth, key, val))
        child_plan = (plans or {}).get(next_step)
        fused = False
        if (
            child_plan is not None
            and depth + 1 <= _MAX_DEPTH
            and len(pairs) <= fuse_max
        ):
            # Fused subtree (guide §1.2-1/§2.4): every child is a
            # single-pair invocation whose arguments are in hand, so
            # run map→combine→reduce for each child HERE and fold the
            # results with this step's reducer in-task — the child
            # exchange and the fold exchange disappear. Numerics are
            # identical: the same seeded-RNG discipline runs before
            # every handler call, child ids are the same sha1
            # derivation, and the same _fold kernel consumes the same
            # child reduced pairs and session writes. If any
            # descendant cannot complete in-task (unknown step or the
            # depth cap — the driver recursion then reports the exact
            # legacy error), the subtree's speculative output is
            # discarded and plain child rows are emitted instead;
            # handlers are deterministic under the engine's seeding
            # contract (Spark task retries already re-run them), so
            # the discard is safe. A speculative subtree is discarded
            # the same way once its deadline has passed.
            fused = True
            child_pairs: list[tuple] = []
            c_side: list[tuple] = []
            c_fcands: list[tuple] = []
            c_trans: set[tuple] = set()
            for i, (ek, ev) in enumerate(pairs):
                child = hashlib.sha1(f"{inv}:{i}".encode()).hexdigest()
                c_out, cs, cf, ct = _phase1_one_invocation(
                    child_plan, workdir, child, inv,
                    ("arg",), (0,), (ek,), (ev,),
                    plans=plans, depth=depth + 1,
                    want_forensics=want_forensics, fuse_max=fuse_max,
                    deadline=deadline,
                )
                if (c_out and c_out[0][0] == "fold") or (
                    deadline is not None and deadline.passed()
                ):
                    fused = False
                    break
                child_pairs.extend((r[5], r[6]) for r in c_out)
                c_side.extend(cs)
                c_fcands.extend(cf)
                c_trans |= ct
            if fused:
                rows.extend(
                    _fold(
                        step_plan, inv, parent_inv, child_pairs,
                        scope.session_writes(),
                    )
                )
                side.extend(c_side)
                fcands.extend(c_fcands)
                trans |= c_trans
                trans.add((step_plan["name"], next_step, depth + 1))
        if not fused:
            # the driver enters the child step this row names even when
            # no pair was yielded, then folds this invocation over its
            # children's results (see _fold_up)
            rows.append((
                "fold", inv, parent_inv, next_step, 0, None,
                _encode(scope.session_writes()),
            ))
            for i, (ek, ev) in enumerate(pairs):
                child = hashlib.sha1(f"{inv}:{i}".encode()).hexdigest()
                rows.append(("child", child, inv, next_step, 0, ek, ev))
    else:
        raise HandlerInvocationError(
            f"JOBX_HANDLER_ERROR step={step_plan['name']} inv={inv} "
            f"phase=map\nfirst yield must be a routing token, got {route!r}"
        )
    if want_forensics:
        fcands.append(
            _forensic_candidate(
                step_plan["name"], depth, inv, parent_inv, seqs, ks, vs,
                n_mapped, n_reduced,
            )
        )
    return rows, side, fcands, trans


class Engine:
    """Facade: catalog CRUD + request submission (the Spark stand-in for
    the reference's HTTP API + CLI scripts, mr/views/job.py:33)."""

    def __init__(
        self, spark: SparkSession, workdir: str | None = None,
        catalog: Catalog | None = None,
    ):
        self.spark = spark
        self.catalog = catalog or Catalog()
        self.workdir = workdir
        # Minimum frontier width (invocations) for in-task subtree
        # fusion; None = 2 × defaultParallelism (scale-adaptive: a
        # wide frontier fuses child/fold exchanges away; a narrow one
        # fuses only speculatively, under a deadline — see
        # _fuse_plans). Tests pin both paths by setting this, which
        # also turns speculation off.
        self.fuse_min_invocations: int | None = None
        # What one Python task wave costs, measured on every submit()
        # root action (driver wall minus the busy time its UDF reports);
        # the session minimum. None until the first request ran. Sets
        # the budget of speculative fusion (see _fuse_plans).
        self.wave_cost_s: float | None = None
        self._wave_lock = threading.Lock()
        self._requests: dict[str, Request] = {}
        # The HTTP API serves from ThreadingHTTPServer: a DELETE
        # (cleanup_request) can race a concurrent list/find iterating
        # the same dict and raise "dictionary changed size during
        # iteration" (ADVICE r5). Registry mutations and snapshots go
        # through this lock; Request objects themselves stay lock-free
        # (single-writer per request).
        self._requests_lock = threading.Lock()

    # ---------------------------------------------------------------- CRUD
    def create_workflow(
        self, name: str, description: str = "", scope_values: dict | None = None
    ):
        """scope_values: workflow-scoped extras injected into every
        handler scope (reference: WorkflowScopeFactory,
        mr/config/handler.py:27-31)."""
        return self.catalog.create_workflow(name, description, scope_values)

    def register_handler(
        self,
        workflow_name: str,
        name: str,
        fn=None,
        source_code: str | None = None,
        handler_type: str | None = None,
        argument_spec: list | None = None,
        required_capability: str | None = None,
    ) -> Handler:
        """Register a callable (fn(scope, arguments|results) generator)
        or reference-style source code with docstring metadata."""
        if source_code is not None and handler_type is None:
            meta = parse_docstring_metadata(source_code)
            handler_type = meta["handler_type"]
            argument_spec = argument_spec or meta["argument_spec"]
            required_capability = required_capability or meta.get("required_capability")
        if fn is not None:
            _ensure_fn_ships(fn)
        h = Handler(
            workflow_name=workflow_name,
            name=name,
            handler_type=handler_type,
            fn=fn,
            source_code=source_code,
            argument_spec=argument_spec or [],
            required_capability=required_capability,
        )
        return self.catalog.register_handler(h)

    def create_step(self, workflow_name, name, map_handler_name,
                    reduce_handler_name, combine_handler_name=None,
                    description=""):
        return self.catalog.create_step(
            workflow_name, name, map_handler_name, reduce_handler_name,
            combine_handler_name, description,
        )

    def create_job(self, workflow_name, name, initial_step_name, description=""):
        return self.catalog.create_job(
            workflow_name, name, initial_step_name, description
        )

    # ------------------------------------------------------------- execute
    def _step_plan(self, step: Step) -> dict:
        wf = step.workflow_name
        return {
            "name": step.name,
            "workdir": self.workdir,
            "scope_values": self.catalog.get_workflow(wf).scope_values,
            "mapper": self.catalog.get_handler(wf, step.map_handler_name),
            "combiner": (
                self.catalog.get_handler(wf, step.combine_handler_name)
                if step.combine_handler_name
                else None
            ),
            "reducer": self.catalog.get_handler(wf, step.reduce_handler_name),
        }

    def _capture_invocations(
        self, forensic: dict[tuple, list],
        trace: RequestTrace | None, depth: int, step_name: str,
    ) -> None:
        """Forensic capture: one record per invocation at this (step,
        depth) node — parent edge, dataset sizes, a ≤3-pair argument
        sample. Phase 1 emitted the records as 'forensic' rows,
        budgeted per (step, depth) node per batch at CAP+1, so the
        globally-smallest room+1 inv ids of this node are all present
        (see _make_phase1_udf); ``forensic`` holds them per node,
        sorted by inv, from _run_step's one metadata collect. Only the
        capped record set is kept (the reference stores full
        per-invocation datasets in etcd, mr/models/kv/invocation.py —
        at 100 TB the cap is what keeps forensics from becoming a
        driver OOM)."""
        if trace is None or len(trace.invocations) >= INVOCATION_CAP:
            return
        room = INVOCATION_CAP - len(trace.invocations)
        rows = forensic.get((step_name, depth), [])[: room + 1]
        trace.record_invocations(
            [
                InvocationRecord(
                    inv=r["inv"],
                    parent_inv=r["parent_inv"],
                    step=step_name,
                    depth=depth,
                    arg_sample=[tuple(p) for p in _decode(r["v"])],
                    **_decode(r["k"]),
                )
                for r in rows
            ]
        )

    def _capture_sessions(
        self, sessions: dict[tuple, list],
        trace: RequestTrace | None, depth: int, step_name: str,
    ) -> None:
        """Capture fan-out-path session rows for request inspection
        (reference: mr_get_request_sessions walks every invocation's
        SessionsTree). Same cap/discipline as invocation forensics:
        phase 1 emitted the 'session' rows budgeted per (step, depth)
        node per batch at CAP+1; ``sessions`` holds them per node,
        sorted by (inv, k), from _run_step's one metadata collect.
        Leaf sessions are consumed mapper→reducer inside one task and
        never materialize — documented deviation."""
        if trace is None or len(trace.sessions) >= INVOCATION_CAP:
            return
        room = INVOCATION_CAP - len(trace.sessions)
        rows = sessions.get((step_name, depth), [])[: room + 1]
        trace.record_sessions(
            # session keys are plain strings; values are JSON-encoded
            # by HandlerScope.session_set
            [(r["inv"], step_name, r["k"], _decode(r["v"])) for r in rows]
        )

    def _note_wave_cost(self, cost_s: float) -> None:
        # concurrent requests (HTTP threads, async submits) measure too
        with self._wave_lock:
            if self.wave_cost_s is None or cost_s < self.wave_cost_s:
                self.wave_cost_s = cost_s

    def _fuse_plans(
        self, workflow_name: str, n_invocations: int,
    ) -> tuple[dict | None, float | None]:
        """(step-plan table, in-task budget seconds) for one frontier:
        the table is None when subtree fusion is off; a None budget
        means no deadline. Fusion trades the child/fold exchanges for
        in-task recursion, so it is always right when the PARENT level
        already holds enough invocations to keep every core busy. Below
        that width one heavy invocation would serialize its whole
        subtree into one task, so fusion there is speculative: once
        the engine has measured what a Python wave costs, the plans
        ship under a budget of the two waves a distributed level adds,
        and a subtree that overruns it falls back to the distributed
        recursion (ski rental: a heavy subtree costs at most about 2×
        the distributed path). A pinned ``fuse_min_invocations`` keeps
        the plain width rule."""
        threshold = self.fuse_min_invocations
        speculate = threshold is None and self.wave_cost_s is not None
        if threshold is None:
            threshold = 2 * self.spark.sparkContext.defaultParallelism
        if n_invocations >= threshold:
            budget_s = None
        elif speculate:
            budget_s = 2 * self.wave_cost_s
        else:
            return None, None
        plans = {
            s.name: self._step_plan(s)
            for s in self.catalog.list_steps(workflow_name)
        }
        return plans, budget_s

    def _run_step(
        self, workflow_name: str, step_name: str, frontier: DataFrame,
        trace: RequestTrace, persisted: list, depth: int = 0, *,
        n_invocations: int, driver_built: bool = False,
    ) -> DataFrame:
        """Run one step over a frontier of invocations; returns reduced
        rows (inv, parent_inv, seq, k, v) for those invocations.

        Phase 1 takes one of two shapes, chosen by the frontier:

        * ``driver_built`` (submit()'s root: ONE invocation whose rows
          the driver holds, as a LocalRelation): one invocation needs
          no grouping, so phase 1 is one ``mapInPandas`` task over the
          coalesced relation and ONE collect brings back every row it
          emits — no exchange, no persist, no second action. The
          non-metadata rows go back into a LocalRelation, whose
          filter-collects run no Spark job, so the result collect and
          a fallback recursion below read them as they would the
          persisted output, without recomputing them.
        * a distributed frontier (submit_dataset, child levels) is
          grouped by a hash bucket of the invocation id; the output is
          persisted (the reference durably writes every stage boundary
          to etcd — mr/job_engine.py:421-439; for us a persist is
          enough because Spark recomputes lineage on loss), unpersisted
          by the caller after the final action, and only its metadata
          rows are collected. The frontier itself is read once.

        A fan-out invocation that was not fused emits one 'fold' row
        and its 'child' rows; the driver recurses into each child step
        (an empty one too, so the trace matches the fused path), then
        folds the child results and the fold rows into their parents
        with this step's reducer in one grouped pass (_fold_up).

        When fusion is on for the frontier (see _fuse_plans), the
        phase-1 pass FUSES each invocation's fan-out subtree in-task
        (guide §1.2-1/§2.4): child invocations are single-pair by
        construction, so their map→combine→reduce and this step's fold
        need no exchange; the driver recursion below then only handles
        invocations that fell back (unknown step, depth cap, a fan-out
        wider than FUSE_MAX_CHILDREN, or an overrun deadline)."""
        if depth > _MAX_DEPTH:
            raise RuntimeError(f"fan-out depth exceeded {_MAX_DEPTH}")
        step = self.catalog.get_step(workflow_name, step_name)
        plan = self._step_plan(step)
        trace.record(depth, step_name, "map")

        # Decide forensics at plan-build time (single-writer trace: the
        # cap can only have been consumed by steps that already ran):
        # when capture will run, phase 1 emits the per-invocation
        # forensic rows itself — see _make_phase1_udf.
        want_forensics = (
            trace is not None and len(trace.invocations) < INVOCATION_CAP
        )
        plans, budget_s = self._fuse_plans(workflow_name, n_invocations)
        phase1 = _make_phase1_udf(
            plan, self.workdir, want_forensics, plans, depth, budget_s
        )
        if driver_built:
            # coalesce: a local relation is sliced into
            # defaultParallelism partitions
            action = frontier.coalesce(1).mapInPandas(
                _whole_partition(phase1), schema=_ROWS_SCHEMA
            )
        else:
            # Group by a HASH BUCKET of the invocation id, not the id: a
            # wide fan-out makes invocations per-pair (reference
            # semantics), and per-id grouping would pay pandas-group
            # overhead per PAIR. Bucket count ~4 groups per core keeps
            # every task busy while the in-UDF loop amortizes Arrow
            # batching over invocations.
            n_buckets = max(self.spark.sparkContext.defaultParallelism * 4, 64)
            map_out = frontier.groupBy(
                F.pmod(F.xxhash64("inv"), F.lit(n_buckets)).alias("_bucket")
            ).applyInPandas(phase1, schema=_ROWS_SCHEMA).persist()
            persisted.append(map_out)
            action = map_out.filter(F.col("row_type").isin(*_META_ROWS))
        # ONE action per step: routing (child counts per next step from
        # the per-batch 'route' rows), the 'traceev' fan-out transitions
        # fused subtrees took, and every (step, depth) node's forensic
        # and session records. The metadata is bounded by n_buckets ×
        # (CAP+1) rows per node (phase 1 budgets its forensic and
        # session rows), not by data.
        t_action = time.perf_counter()
        collected = action.collect()
        wall_s = time.perf_counter() - t_action
        if driver_built:
            map_out = local_frame(
                self.spark,
                [r for r in collected if r["row_type"] not in _META_ROWS],
                _ROWS_SCHEMA,
            )
        reduced = map_out.filter(F.col("row_type") == "reduced")
        next_steps: dict[str, int] = {}
        transitions: set[tuple] = set()
        forensic: dict[tuple, list] = {}
        sessions: dict[tuple, list] = {}
        busy_s = subtree_s = 0.0
        overruns = 0
        for r in collected:
            if r["row_type"] == "route":
                route = _decode(r["v"])
                for ns, n in route["children"].items():
                    next_steps[ns] = next_steps.get(ns, 0) + n
                busy_s += route["busy_s"]
                subtree_s = max(subtree_s, route["subtree_s"])
                overruns += route["overruns"]
            elif r["row_type"] == "traceev":
                transitions.add((r["parent_inv"], r["step"], r["seq"]))
            elif r["row_type"] == "forensic":
                forensic.setdefault((r["step"], r["seq"]), []).append(r)
            elif r["row_type"] == "session":
                sessions.setdefault((r["step"], r["seq"]), []).append(r)
        for node_rows in forensic.values():
            node_rows.sort(key=lambda r: r["inv"])
        for node_rows in sessions.values():
            node_rows.sort(key=lambda r: (r["inv"], r["k"]))
        if driver_built:
            # submit()'s root runs one invocation in one batch: what the
            # action cost beyond that batch's busy time is the cost of
            # a Python wave (scheduling, worker hand-off, Arrow I/O)
            self._note_wave_cost(max(wall_s - busy_s, 0.0))
        if next_steps or transitions:
            trace.fusion.append(FusionDecision(
                depth, step_name,
                "deadline-fallback" if overruns
                else "distributed" if next_steps else "fused",
                subtree_s, budget_s,
            ))
        self._capture_invocations(forensic, trace, depth, step_name)

        # Fused-subtree trace events + per-node captures, replayed in
        # the exact pre-order the driver recursion used to produce:
        # map → [per child step: fanout-edge, child subtree] → fold.
        # The root's own "map" event and invocation capture happened
        # above; descendants' come from the traceev/forensic rows.
        def _visit(d: int, s: str, capture_sessions: bool = True) -> None:
            kids = sorted(
                {cs for (ps, cs, cd) in transitions if ps == s and cd == d + 1}
            )
            if kids and capture_sessions:
                self._capture_sessions(sessions, trace, d, s)
            for ns in kids:
                trace.record(d, s, f"fanout→{ns}")
                trace.record(d + 1, ns, "map")
                self._capture_invocations(forensic, trace, d + 1, ns)
                _visit(d + 1, ns)
            if kids:
                trace.record(d, s, "fold")

        if transitions and not next_steps:
            _visit(depth, step_name)
        if not next_steps:
            return reduced
        if transitions:
            # mixed case (some invocations fused, some fell back):
            # replay the fused events first, then run the fallback
            # recursion below — step_sequence/edges dedup the overlap.
            # Root session rows (fused + fallback parents share the
            # root (step, depth) node) are captured once, below.
            _visit(depth, step_name, capture_sessions=False)

        # fan-out fallback: recurse per next step, then fold children
        # into their parents with this step's reducer.
        self._capture_sessions(sessions, trace, depth, step_name)
        child_rows = map_out.filter(F.col("row_type") == "child")
        fold_in = map_out.filter(F.col("row_type") == "fold")
        for ns in sorted(next_steps):
            trace.record(depth, step_name, f"fanout→{ns}")
            fold_in = fold_in.unionByName(
                self._run_step(
                    workflow_name, ns, child_rows.filter(F.col("step") == ns),
                    trace, persisted, depth + 1, n_invocations=next_steps[ns],
                )
            )
        trace.record(depth, step_name, "fold")
        return reduced.unionByName(_fold_up(plan, fold_in))

    def submit(
        self,
        workflow_name: str,
        job_name: str,
        arguments: dict,
        blocking: bool = True,
        context: dict | None = None,
        result_writer: str = "inline",
        writer_options: dict | None = None,
    ) -> Request:
        """Run a job. Blocking returns the finished Request with
        ``.result``; async returns immediately with a request id and
        fires the result writer on completion (reference:
        mr/views/job.py:50, mr/job_engine.py:983-1019)."""
        self.catalog.get_workflow(workflow_name)
        job = self.catalog.get_job(workflow_name, job_name)
        step = self.catalog.get_step(workflow_name, job.initial_step_name)
        mapper = self.catalog.get_handler(workflow_name, step.map_handler_name)
        cast_args = mapper.cast_arguments(arguments)

        def run(request: Request, persisted: list) -> None:
            # content-derived root id: identical submissions replay the
            # same invocation tree (and the same per-invocation RNG
            # seeds), making results golden-hashable (FIXTURES.md A.4).
            root_inv = hashlib.sha1(
                f"{workflow_name}:{job_name}:{_encode(dict(cast_args))}".encode()
            ).hexdigest()
            rows = [
                ("arg", root_inv, None, job.initial_step_name, i, _encode(k), _encode(v))
                for i, (k, v) in enumerate(cast_args)
            ] or [("arg_empty", root_inv, None, job.initial_step_name, 0, None, None)]
            frontier = local_frame(self.spark, rows, _ROWS_SCHEMA)
            result_rows = self._run_step(
                workflow_name, job.initial_step_name, frontier,
                request.trace, persisted,
                # ONE root invocation: phase 1 is one action, and its
                # subtree fuses only speculatively, under a measured
                # deadline
                n_invocations=1, driver_built=True,
            )
            pairs = [
                (_decode(r["k"]), _decode(r["v"]))
                for r in sorted(result_rows.collect(), key=lambda r: r["seq"])
            ]
            writer = result_writers.get_writer(result_writer, writer_options)
            request.result = writer.render(request, pairs)

        return self._run_request(workflow_name, job_name, context, blocking, run)

    def _run_request(
        self, workflow_name: str, job_name: str, context: dict | None,
        blocking: bool, body,
    ) -> Request:
        """The one request lifecycle of submit and submit_dataset:
        register the request, run ``body(request, persisted)`` (on its
        own thread unless blocking), stamp a failure's error and failed
        invocation (the reference's error stamping, mr/job_engine.py:
        535-572), unpersist what the body persisted and mark the request
        done. A blocking request re-raises its failure after stamping."""
        request = Request(
            request_id=uuid.uuid4().hex,
            workflow_name=workflow_name,
            job_name=job_name,
            context=context,
            is_blocking=blocking,
            trace=RequestTrace(),
        )
        with self._requests_lock:
            self._requests[request.request_id] = request

        def run():
            persisted: list[DataFrame] = []
            try:
                body(request, persisted)
            except Exception as e:
                msg = str(e)
                request.error = msg
                if "JOBX_HANDLER_ERROR" in msg:
                    marker = msg[msg.index("JOBX_HANDLER_ERROR"):]
                    request.failed_invocation_id = _extract_field(marker, "inv")
                if blocking:
                    raise
            finally:
                # request cleanup (GC parity — mr/request_cleanup.py):
                # intermediates die with the request, not the session.
                for df in persisted:
                    df.unpersist()
                request.is_done = True
                request.finished_at = time.time()

        if blocking:
            run()
        else:
            threading.Thread(
                target=run, name=f"jobx-{request.request_id}", daemon=True
            ).start()
        return request

    def get_request(self, workflow_name: str, request_id: str) -> Request:
        """The registered request ``request_id`` of ``workflow_name``;
        KeyError for an unknown request or one of another workflow."""
        with self._requests_lock:
            request = self._requests[request_id]
        if request.workflow_name != workflow_name:
            raise KeyError(request_id)
        return request

    def cleanup_request(self, workflow_name: str, request_id: str) -> Request:
        """Drop a FINISHED request — trace, sessions, registry entry —
        from this engine (reference: mr_kv_request_cleanup walks and
        deletes the request's KV subtree, setup.py:52; our plane is the
        driver registry, so cleanup is a registry pop).

        Raises KeyError for unknown/foreign requests and ValueError for
        a request still running — the reference's cleanup likewise only
        makes sense for settled requests (a running one would rebuild
        its subtree mid-walk)."""
        request = self.get_request(workflow_name, request_id)
        if not request.is_done and request.error is None:
            raise ValueError(f"request {request_id} is still running")
        with self._requests_lock:
            del self._requests[request_id]
        return request

    def list_requests(self, workflow_name: str | None = None) -> list[Request]:
        """Known requests, newest-first (reference: the request KV range
        walk its cleanup/read scripts iterate; driver registry here)."""
        with self._requests_lock:
            snapshot = tuple(self._requests.values())
        reqs = [
            r for r in snapshot
            if workflow_name is None or r.workflow_name == workflow_name
        ]
        return sorted(reqs, key=lambda r: r.created_at, reverse=True)

    def find_invocation(
        self, workflow_name: str, invocation_id: str
    ) -> tuple[Request, "InvocationRecord"]:
        """Locate one invocation record across the workflow's requests
        (reference: mr_kv_invocation_get reads the invocation entity by
        id — ids are unique across requests there and here).

        Raises KeyError when no request of the workflow traced it, and
        ValueError when a short prefix matches more than one invocation
        — like git, an ambiguous abbreviation is an error, never a
        silent first-match resolution (ADVICE r4)."""
        matches: list[tuple[Request, "InvocationRecord"]] = []
        for req in self.list_requests(workflow_name):
            if req.trace is None:
                continue
            for rec in req.trace.invocations:
                if rec.inv == invocation_id:
                    return req, rec  # exact id: unique by construction
                if rec.inv.startswith(invocation_id):
                    matches.append((req, rec))
        if len(matches) > 1:
            ids = sorted(rec.inv for _, rec in matches)
            raise ValueError(
                f"ambiguous invocation prefix {invocation_id!r}: matches "
                f"{ids[:5]}{'...' if len(ids) > 5 else ''}"
            )
        if matches:
            return matches[0]
        raise KeyError(invocation_id)

    def submit_dataset(
        self,
        workflow_name: str,
        job_name: str,
        pairs_df: DataFrame,
        n_buckets: int = 64,
        result_writer: str = "inline",
        writer_options: dict | None = None,
    ) -> Request:
        """Run a job over a table-scale pair dataset.

        The reference's only source is the small HTTP arguments dict;
        parallelism comes from fan-out. For table input we pre-fan-out:
        rows are hashed into ``n_buckets`` child invocations (map +
        partial reduce run bucket-parallel), then folded into the root
        with the same step's reducer — the reference's fan-out/fold-up
        semantics (mr/job_engine.py:689-819) aligned with Spark's
        partial/final aggregation. ``pairs_df`` must have columns
        ``k``/``v`` as JSON-encoded strings.

        Result contract: with ``result_writer="parquet"`` (and a
        ``path`` in ``writer_options``), ``request.result_df``
        carries DECODED ``k``/``v`` string columns (JSON-string quoting
        stripped; numbers as their text; arrays/objects as JSON text) —
        mirroring the inline path's ``_decode``, so string keys read
        back as ``foo``, not ``"foo"``. The files on disk keep the
        JSON-encoded pairs for lossless round-trips.

        At 100 TB: buckets are groups, not tasks — size n_buckets ~
        2-3x total cores; each bucket's pairs stream through one Arrow
        batch pipeline.
        """
        self.catalog.get_workflow(workflow_name)
        job = self.catalog.get_job(workflow_name, job_name)
        step = self.catalog.get_step(workflow_name, job.initial_step_name)
        plan = self._step_plan(step)

        def run(request: Request, persisted: list) -> None:
            root_inv = hashlib.sha1(f"{workflow_name}:{job_name}:dataset".encode()).hexdigest()
            # Bucket by (k, v), not k alone (guide §2.5: a synthetic
            # partitioning key with too few distinct values starves the
            # cluster): a dataset with a handful of distinct keys —
            # event_type has 5 — used to collapse into that many fat
            # invocations, capping phase-1 parallelism at 5 tasks no
            # matter the cluster and defeating subtree fusion's width
            # cap. Per-bucket partial reduce + the root fold's
            # cross-bucket merge is already this API's documented
            # contract ("partial/final aggregation"), so reducers must
            # merge across buckets either way; the results are
            # bucketing-invariant (all 4 mr_engine rows re-verified
            # hash-exact, test_dataset_sum_matches_python_fold green).
            bucket = F.pmod(F.xxhash64(F.col("k"), F.col("v")), F.lit(n_buckets))
            frontier = pairs_df.select(
                F.lit("arg").alias("row_type"),
                F.concat(F.lit(root_inv + ":"), bucket.cast("string")).alias("inv"),
                F.lit(root_inv).alias("parent_inv"),
                F.lit(job.initial_step_name).alias("step"),
                # seq orders arguments within an invocation; content-hash
                # keeps it deterministic without a global sort.
                F.xxhash64(F.col("k"), F.col("v")).alias("seq"),
                F.col("k"),
                F.col("v"),
            )
            leaf = self._run_step(
                workflow_name, job.initial_step_name, frontier,
                request.trace, persisted,
                # the pre-fan-out gives exactly n_buckets invocations
                # (sized 2-3× total cores by the contract above), so
                # fusion keeps parent-level parallelism intact.
                n_invocations=n_buckets,
            )
            request.trace.record(0, job.initial_step_name, "fold")
            folded = _fold_up(plan, leaf)
            if result_writer == "parquet":
                # distributed result path: the folded output is written
                # by the executors, never collected — at table scale
                # (per-user/per-key results over 100 TB of input) the
                # driver only sees a path. seq rides along so a reader
                # can restore the reducer's deterministic order.
                # The write counts its own rows (an Observation), and the
                # read-back names its schema, so no job runs after it.
                opts = dict(writer_options or {})
                path = opts.pop("path")
                written = Observation()
                folded.select("seq", "k", "v").observe(
                    written, F.count(F.lit(1)).alias("n")
                ).write.mode("overwrite").parquet(path, **opts)
                # Decode on read-back (JVM-side): get_json_object('$')
                # unquotes JSON strings and passes other scalars/
                # composites through as text — the inline _decode
                # contract, so k.cast(...) and string keys both behave.
                request.result_df = (
                    self.spark.read.schema("seq long, k string, v string")
                    .parquet(path)
                    .select(
                        "seq",
                        F.get_json_object("k", "$").alias("k"),
                        F.get_json_object("v", "$").alias("v"),
                    )
                )
                request.result = {
                    "path": path,
                    "format": result_writer,
                    "n_pairs": written.get["n"],
                }
            else:
                pairs = [
                    (_decode(r["k"]), _decode(r["v"]))
                    for r in sorted(folded.collect(), key=lambda r: r["seq"])
                ]
                writer = result_writers.get_writer(result_writer, writer_options)
                request.result = writer.render(request, pairs)

        return self._run_request(workflow_name, job_name, None, True, run)


def _extract_field(marker: str, name: str) -> str | None:
    for tok in marker.split():
        if tok.startswith(f"{name}="):
            return tok.split("=", 1)[1]
    return None


_BY_VALUE_MODULES: set[str] = set()


def _ensure_fn_ships(fn) -> None:
    """Handler callables live in arbitrary user modules that executors
    can't import (the reference ships handler *source* through etcd for
    the same reason — mr/models/kv/handler.py). Registering the defining
    module for cloudpickle by-value serialization makes the closure
    self-contained on the wire."""
    mod_name = getattr(fn, "__module__", None)
    if not mod_name or mod_name in ("__main__", "builtins"):
        return  # __main__ already pickles by value
    if mod_name.startswith(("jobx_spark", "pyspark", "pandas", "numpy")):
        return
    if mod_name in _BY_VALUE_MODULES:
        return
    import sys

    from pyspark import cloudpickle  # the vendored instance Spark serializes with

    mod = sys.modules.get(mod_name)
    if mod is not None:
        try:
            cloudpickle.register_pickle_by_value(mod)
            _BY_VALUE_MODULES.add(mod_name)
        except Exception:
            pass  # fall back to by-reference (module importable on workers)
