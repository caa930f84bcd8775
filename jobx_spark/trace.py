"""Request trace: the step/phase graph of an execution, plus the
invocation-level forensic graph.

The reference BFS-walks its invocation relationship trees and renders
Graphviz (mr/trace.py:63-334, served at GET /request/<wf>/<id>). Spark
tracks the physical DAG itself (Spark UI / ``df.explain``); what we keep
is the *logical* graph at two granularities:

  * step level — which steps ran, at which fan-out depth, in which
    phase — recorded driver-side at zero data cost;
  * invocation level — one record per invocation with its parent edge,
    argument/mapped/reduced dataset counts and a bounded argument
    sample, aggregated on the executors and collected capped (the
    reference durably stores all three datasets per invocation in etcd
    and walks them at render time, mr/trace.py:28-60; at 100 TB an
    uncapped collect is not a plan, so the cap trades forensic
    completeness for driver safety).

``InvocationGraph`` renders the reference's DOT shape — Request →
Workflow → Job header chain, ``S/H/MI``-labelled invocation nodes,
``mapped to`` / ``data reduced by`` / ``step reduced by`` edges
(mr/trace.py:200-334) — with dataset counts attached to each node, and
can shell out to ``dot`` for an image when Graphviz is installed.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class TraceEvent:
    depth: int
    step_name: str
    phase: str  # 'map' | 'fanout→<step>' | 'fold'
    ts: float


@dataclass
class InvocationRecord:
    """One invocation's forensic row: identity, parent edge, and the
    sizes of its three datasets (argument / post-map / post-reduce) plus
    a bounded argument sample — the reference's per-invocation etcd
    state (mr/models/kv/invocation.py) distilled to what the graph
    renders."""

    inv: str
    parent_inv: str | None
    step: str
    depth: int
    n_args: int = 0
    n_mapped: int = 0  # child rows fanned out (post-map dataset)
    n_reduced: int = 0  # reduced rows (post-reduce dataset)
    arg_sample: list = field(default_factory=list)  # ≤3 (k, v) JSON strings


@dataclass
class FusionDecision:
    """How one engine level ran its fan-out: 'fused' (in-task subtree),
    'distributed' (child exchange, child wave, fold) or
    'deadline-fallback' (a speculative subtree overran its budget and
    was discarded for the distributed path). ``subtree_s`` is the
    slowest frontier invocation's in-task time, its fused subtree
    included; ``budget_s`` is None when no deadline applied."""

    depth: int
    step_name: str
    decision: str
    subtree_s: float
    budget_s: float | None


# hard cap on collected invocation records per request — forensics must
# never become a driver-OOM vector at scale
INVOCATION_CAP = 512


@dataclass
class RequestTrace:
    events: list[TraceEvent] = field(default_factory=list)
    invocations: list[InvocationRecord] = field(default_factory=list)
    invocations_truncated: bool = False
    # session rows captured per request for inspection (the reference's
    # mr_get_request_sessions walks the SessionsTree of every
    # invocation, mr/resources/scripts/mr_get_request_sessions). Capped
    # like invocations; fan-out-path sessions only — leaf sessions are
    # consumed mapper→reducer inside one task and never materialize.
    sessions: list[tuple] = field(default_factory=list)
    sessions_truncated: bool = False
    # one record per engine level that fanned out. Kept apart from
    # ``events``: fused and distributed runs of a request record the
    # same events, and only this list tells them apart.
    fusion: list[FusionDecision] = field(default_factory=list)

    def record(self, depth: int, step_name: str, phase: str) -> None:
        self.events.append(TraceEvent(depth, step_name, phase, time.time()))

    def record_sessions(self, records: list[tuple]) -> None:
        room = INVOCATION_CAP - len(self.sessions)
        if room <= 0 or len(records) > room:
            self.sessions_truncated = True
        if room > 0:
            self.sessions.extend(records[:room])

    def record_invocations(self, records: list[InvocationRecord]) -> None:
        room = INVOCATION_CAP - len(self.invocations)
        if room <= 0 or len(records) > room:
            self.invocations_truncated = True
        if room > 0:
            self.invocations.extend(records[:room])

    def edges(self) -> list[tuple[str, str]]:
        """(parent_step, child_step) fan-out edges."""
        out = []
        for ev in self.events:
            if ev.phase.startswith("fanout→"):
                out.append((ev.step_name, ev.phase.split("→", 1)[1]))
        return sorted(set(out))

    def step_sequence(self) -> list[str]:
        seen, seq = set(), []
        for ev in self.events:
            if ev.phase == "map" and (ev.depth, ev.step_name) not in seen:
                seen.add((ev.depth, ev.step_name))
                seq.append(ev.step_name)
        return seq

    def to_dot(self) -> str:
        lines = ["digraph request {"]
        for step in self.step_sequence():
            lines.append(f'  "{step}";')
        for a, b in self.edges():
            lines.append(f'  "{a}" -> "{b}";')
        lines.append("}")
        return "\n".join(lines)

    def render_text(self) -> str:
        return "\n".join(
            f"{'  ' * ev.depth}{ev.step_name} [{ev.phase}]" for ev in self.events
        )


def _esc(text: str) -> str:
    return str(text).replace("\\", "\\\\").replace('"', '\\"')


class InvocationGraph:
    """Reference-shaped invocation DAG (mr/trace.py:170-334): header
    chain Request → Workflow → Job, one node per map invocation labelled
    ``S "<step>" H "<handler>" MI <id>`` with its dataset counts, a
    reduce node per invocation that reduced data, and the reference's
    edge labels (``mapped to``, ``data reduced by``, ``step reduced
    by``, ``stored to``)."""

    def __init__(self, request, map_handler_names: dict | None = None,
                 reduce_handler_names: dict | None = None):
        self.request = request
        # step name → handler name, for node labels (callers with a
        # catalog pass these; absent entries degrade to the step name)
        self.map_handlers = map_handler_names or {}
        self.reduce_handlers = reduce_handler_names or {}

    @staticmethod
    def _nid(inv: str) -> str:
        return "I" + inv[:10]

    @staticmethod
    def _rid(inv: str) -> str:
        return "R" + inv[:10]

    def draw_graph(self) -> str:
        req = self.request
        trace = req.trace
        lines = [
            f'// Graph for request: {req.request_id}',
            "digraph request {",
            f'  Q [label="Request ({_esc(req.request_id[:10])})"];',
            f'  W [label="Workflow ({_esc(req.workflow_name)})"];',
            f'  J [label="Job ({_esc(req.job_name)})"];',
            '  Q -> W [label="resolve workflow"];',
            '  W -> J [label="resolve job from request in workflow"];',
        ]
        records = trace.invocations if trace else []
        by_inv = {r.inv: r for r in records}
        roots = [r for r in records if r.parent_inv is None or r.parent_inv not in by_inv]
        for r in records:
            mh = self.map_handlers.get(r.step, r.step)
            label = (
                f'S "{_esc(r.step)}" H "{_esc(mh)}" MI {_esc(r.inv[:10])}'
                f'\\nargs={r.n_args} mapped={r.n_mapped} reduced={r.n_reduced}'
            )
            if r.arg_sample:
                sample = ", ".join(
                    f"{_esc(k)}={_esc(v)}" for k, v in r.arg_sample[:3]
                )
                label += f"\\nargs: {sample}"
            lines.append(f'  {self._nid(r.inv)} [label="{label}"];')
            if r.parent_inv in by_inv:
                lines.append(
                    f'  {self._nid(r.parent_inv)} -> {self._nid(r.inv)} '
                    f'[label="mapped to"];'
                )
        # reduce nodes: an invocation that produced reduced rows reduced
        # its own mapped dataset; one that fanned out had its children's
        # results step-reduced into it (the engine's fold phase).
        for r in records:
            if r.n_reduced == 0 and r.n_mapped == 0:
                continue
            rh = self.reduce_handlers.get(r.step, "reducer")
            label = f'S "{_esc(r.step)}" H "{_esc(rh)}" RI {_esc(r.inv[:10])}'
            lines.append(f'  {self._rid(r.inv)} [label="{label}"];')
            edge = "data reduced by" if r.n_mapped == 0 else "step reduced by"
            lines.append(
                f'  {self._nid(r.inv)} -> {self._rid(r.inv)} [label="{edge}"];'
            )
            if r.parent_inv in by_inv:
                lines.append(
                    f'  {self._rid(r.inv)} -> {self._nid(r.parent_inv)} '
                    f'[label="stored to"];'
                )
        for r in roots:
            lines.append(f"  J -> {self._nid(r.inv)};")
        if trace and trace.invocations_truncated:
            lines.append(
                f'  T [label="(truncated at {INVOCATION_CAP} invocations)" '
                f"shape=note];"
            )
        if not records and trace:
            # degrade to the step-level graph body
            for step in trace.step_sequence():
                lines.append(f'  "{_esc(step)}";')
            for a, b in trace.edges():
                lines.append(f'  "{_esc(a)}" -> "{_esc(b)}";')
        lines.append("}")
        return "\n".join(lines)

    def get_image_data(self, dot_source: str | None = None, format: str = "png"):
        """Render via the ``dot`` binary when Graphviz is installed
        (reference: mr/trace.py:320-334). Raises ``RuntimeError`` when
        it isn't — callers fall back to serving the DOT source."""
        import shutil
        import subprocess

        if shutil.which("dot") is None:
            raise RuntimeError("graphviz 'dot' binary not installed")
        src = dot_source if dot_source is not None else self.draw_graph()
        p = subprocess.run(
            ["dot", f"-T{format}"], input=src.encode(),
            capture_output=True, check=False,
        )
        if p.returncode != 0:
            raise ValueError(f"dot failed ({p.returncode}): {p.stderr.decode()}")
        return format, p.stdout
