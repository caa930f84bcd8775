#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan audit of every batch query.

For each driver-contract query (streaming excluded — their returned
DataFrame is a materialized sink table), records the facts that matter
at 100 TB: shuffle count, broadcast count, join strategies, scans with
pushed filters and read schemas. Run from the repo root:

    python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

# scratch_dir/cut_lineage directories end in a run-random "-<12 hex>";
# stripped so that two runs at one commit write the same file
_RUN_SUFFIX = re.compile(r"-[0-9a-f]{12}$")
# a published segment scan lists <table>/seg=<s>/v=<N> directories:
# name it by the table, not by its trailing key=value levels
_LEVELS = re.compile(r"(/[^/]+=[^/]*)+$")

JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def main() -> None:
    from jobx_spark import plans as P
    from jobx_spark.plans.window_contract import WINDOW_BOUNDS
    from jobx_spark.queries import all_queries
    from jobx_spark.session import get_spark

    spark = get_spark("plan_audit", cpus="8")
    qs = all_queries()
    lines = [
        "# PLANS — physical-plan audit of the batch query surface",
        "",
        f"Auto-generated by `tools/plan_audit.py` at sf_dir={SF_DIR}.",
        "Shuffles exclude BroadcastExchange (broadcasts avoid shuffles).",
        "",
        "| query | shuffles | broadcasts | joins | scans (pushed filters / read cols) |",
        "|---|---|---|---|---|",
    ]
    window_rows: list[str] = []
    for name in sorted(qs):
        if name.startswith("stream_"):
            continue
        df = qs[name](spark, SF_DIR)
        plan = P.plan_str(df)
        nodes = P.node_names(plan)
        joins = sorted({n for n in nodes if n in JOIN_NODES})
        scans = []
        for s in P.scans(plan):
            first = s.location.split(", ... ")[0].rstrip("]")
            table = _LEVELS.sub("", first).rsplit("/", 1)[-1]
            table = _RUN_SUFFIX.sub("", table.replace(".parquet", ""))
            nf = len(s.pushed_filters)
            scans.append(f"{table}({nf}f/{len(s.read_columns)}c)")
        lines.append(
            f"| {name} | {P.count_shuffles(plan)} "
            f"| {P.count_nodes(plan, 'BroadcastExchange')} "
            f"| {', '.join(joins) or '—'} "
            f"| {', '.join(scans) or '—'} |"
        )
        for w in P.windows(plan):
            pk = ", ".join(w.partition_keys) or "(global)"
            ok = ", ".join(w.order_keys) or "—"
            if w.rank_limited is not None:
                bound = f"plan-bounded: WindowGroupLimit {w.rank_limited}"
            else:
                bound = WINDOW_BOUNDS.get(name, {}).get(
                    w.partition_keys, "**UNDECLARED**"
                )
            window_rows.append(f"| {name} | {pk} | {ok} | {bound} |")

    lines += [
        "",
        "# WINDOWS — window-partition audit of the batch surface",
        "",
        "WindowExec co-locates one partition-key value's rows in ONE task",
        "(VERDICT r7 #2: the plan-shape family the scan/join/shuffle/UDF",
        "audits can't see). Every batch window is either plan-bounded by",
        "a WindowGroupLimit (rank-limit pushdown) or carries a declared",
        "bound rationale from jobx_spark/plans/window_contract.py;",
        "tests/test_plan_audit.py fails on undeclared or stale entries.",
        "",
        "| query | partition keys | order keys | bound |",
        "|---|---|---|---|",
        *window_rows,
    ]

    # ---- driver-side actions (VERDICT r8 #3): every .collect()/
    # .toPandas()/... site in the package, statically scanned, against
    # the declared bound rationales in plans/collect_contract.py.
    from jobx_spark.plans.collect_contract import COLLECT_BOUNDS

    live_sites = P.collect_sites()
    collect_rows = []
    for key in sorted(set(live_sites) | set(COLLECT_BOUNDS)):
        rel, fn, action = key
        n = live_sites.get(key, 0)
        declared = COLLECT_BOUNDS.get(key)
        if declared is None:
            bound = "**UNDECLARED**"
        elif declared[0] != n:
            bound = f"**STALE** (declared {declared[0]}, live {n})"
        else:
            bound = declared[1]
        collect_rows.append(f"| {rel} | {fn} | .{action}() ×{n} | {bound} |")
    lines += [
        "",
        "# COLLECTS — driver-side-action audit of the package",
        "",
        "Every .collect()/.toPandas()-family call site pulls rows",
        "through the driver; each must be bounded by construction and",
        "carries its declared rationale from",
        "jobx_spark/plans/collect_contract.py (VERDICT r8 #3 — this was",
        "a hand audit in r6-r8; tests/test_plan_audit.py now fails on",
        "undeclared or stale entries, counts included).",
        "",
        "| file | function | action | bound |",
        "|---|---|---|---|",
        *collect_rows,
    ]

    # ---- streaming surface (VERDICT r4 #3): per-query state-store
    # operators + watermark, read from the executed micro-batch runs'
    # progress/plan via streaming.RUN_LOG. One row per started
    # streaming query (a gate query may run several phases).
    from jobx_spark import streaming as S

    lines += [
        "",
        "# STREAM_PLANS — state/watermark audit of the streaming surface",
        "",
        "One row per streaming run the query started (AvailableNow).",
        "state ops come from the final StreamingQueryProgress; a blank",
        "watermark on a stateful run means UNBOUNDED STATE in a",
        "continuous deployment — the 100 TB killer this table gates",
        "(tests/test_stream_plans.py pins every row's expectation).",
        "",
        "| query | run | state operators | watermark | stream joins |",
        "|---|---|---|---|---|",
    ]
    for name in sorted(qs):
        if not name.startswith("stream_"):
            continue
        S.RUN_LOG.clear()
        qs[name](spark, SF_DIR)
        for run in S.RUN_LOG:
            sjoins = sorted(
                {
                    n
                    for n in (
                        "StreamingSymmetricHashJoin",
                        "BroadcastHashJoin",
                        "SortMergeJoin",
                    )
                    if n in run["plan"]
                }
            )
            # a run with NO state operators is a stateless foreachBatch
            # (state lives in the sink) — say so explicitly instead of
            # an ambiguous dash (VERDICT r6 #8)
            state_cell = (
                ", ".join(run["state_operators"])
                or "stateless (foreachBatch; state in sink)"
            )
            lines.append(
                f"| {name} | {run['name'].rsplit('_', 2)[0]} "
                f"| {state_cell} "
                f"| {run['watermark'] or '—'} "
                f"| {', '.join(sjoins) or '—'} |"
            )
    S.RUN_LOG.clear()
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
