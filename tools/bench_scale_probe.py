#!/usr/bin/env python
"""Bench-row scale probe (VERDICT r12 #6/#7): run the heaviest bench
queries against an N×-replicated copy of sf0.1 at a given core count,
so the 8-vs-32-core scaling comparison has real data volume to measure
(at sf0.1 the per-query cost is fixture floor — job scheduling, Python
worker spin-up, plan construction — and core-count ratios read ≈1).

Replication remaps ids into disjoint ranges (id + rep·10^9), keeping
rep=0 as the original rows so probe/seed id conventions
(vec_id < N_QUERIES, centroid seed band) still hold; near-dup cluster
structure replicates, so pair-producers face REP× cliques — the worst
case. The replicated tables are written ONCE to a parquet dir and every
timed query computes from that parquet (bench methodology: noop sink,
min-of-REPS, same session config as bench.py via get_spark).

Usage:
    python tools/bench_scale_probe.py <out.json> [cpus] [rep] [queries...]
Defaults: cpus=32, rep=10, the built-in heavy list.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Heaviest data-bound rows of the r13 bench + one serve pair + one
# stream representative + the MR fan-out row (VERDICT #6: "top-10
# heaviest"; #7: serve-kernel scale evidence).
DEFAULT_QUERIES = [
    "ann_index_build",        # ordered before serve: serve times serving
    "ann_index_serve",
    "ann_ivf_trained_topk",
    "ann_ivf_pq_topk",
    "ann_pq_adc_topk",
    "dedup_jaccard_prefix",
    "dedup_lsh_s_curve",
    "dedup_semantic",
    "dedup_components",
    "dedup_incremental",
    "dedup_keep_canonical",
    "mr_engine_fanout_rekey",
    "mr_engine_user_value",
    "pipe_ewma_user_value",
    "pipe_dsir_sample",
    "multimodal_phash",
    "stream_sink_rollup",
]

REPS = int(os.environ.get("JOBX_PROBE_REPS", "2"))

# tables the probe queries read, each with the id column its replicas
# shift into disjoint ranges
TABLES = {
    "documents": "doc_id",
    "events": "event_id",
    "embeddings": "vec_id",
}


def replicate(spark, src: str, dst: str, rep: int) -> None:
    import shutil

    from jobx_spark.sources import replicate as replicate_table

    os.makedirs(dst, exist_ok=True)
    # embeddings are tiny (2,000 rows at sf0.1) — replicate them deeper
    # so the ANN family has real volume (JOBX_PROBE_EMB_REP, default
    # 8× the base factor)
    emb_rep = int(os.environ.get("JOBX_PROBE_EMB_REP", str(rep * 8)))
    for tbl, idc in TABLES.items():
        n_rep = emb_rep if tbl == "embeddings" else rep
        df = spark.read.parquet(os.path.join(src, f"{tbl}.parquet"))
        out = replicate_table(df, idc, n_rep).drop("rep")
        if tbl == "events":
            # the streaming file source globs on the exact file name
            # events.parquet, so this table must stay ONE FILE — stage
            # the write, then move the single part file.
            stage = os.path.join(dst, f"_stage_{tbl}")
            out.coalesce(1).write.mode("overwrite").parquet(stage)
            part = [p for p in os.listdir(stage) if p.endswith(".parquet")]
            assert len(part) == 1, part
            shutil.move(
                os.path.join(stage, part[0]),
                os.path.join(dst, f"{tbl}.parquet"),
            )
            shutil.rmtree(stage)
        else:
            # batch loaders take a path (file or directory) — a
            # directory named <tbl>.parquet with 32 part files keeps
            # scan parallelism honest (a single small file is ONE scan
            # split: the 10 MB embeddings replica read on one task and
            # flattened every ann-row core ratio in the first probe).
            out.repartition(32).write.mode("overwrite").parquet(
                os.path.join(dst, f"{tbl}.parquet")
            )
    # non-replicated side tables copied as-is (relational dims some
    # queries broadcast)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f.split(".")[0] not in TABLES:
            d = os.path.join(dst, f)
            if not os.path.exists(d):
                s = os.path.join(src, f)
                if os.path.isdir(s):
                    shutil.copytree(s, d)
                else:
                    shutil.copy2(s, d)


def main() -> None:
    out_path = sys.argv[1]
    cpus = sys.argv[2] if len(sys.argv) > 2 else "32"
    rep = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    names = sys.argv[4:] or DEFAULT_QUERIES

    from jobx_spark.session import get_spark

    spark = get_spark(f"scaleprobe_c{cpus}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    dst = os.environ.get(
        "JOBX_PROBE_DATA", f"/tmp/jobx_probe_rep{rep}"
    )
    if not os.path.exists(os.path.join(dst, "_REPLICA_DONE")):
        t0 = time.monotonic()
        replicate(spark, SF_DIR, dst, rep)
        open(os.path.join(dst, "_REPLICA_DONE"), "w").write("ok")
        print(
            f"# replicated {SF_DIR} x{rep} -> {dst} "
            f"in {time.monotonic() - t0:.1f}s",
            file=sys.stderr,
        )

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from jobx_spark.queries import all_queries

    qs = all_queries()
    qs["q01_pricing_summary"](spark, dst).count()  # warm JVM/workers

    timings: dict[str, float] = {}
    rows_seen: dict[str, int] = {}
    for name in names:
        best = None
        n = 0
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.monotonic()
            df = qs[name](spark, dst)
            obs = Observation()
            (
                df.observe(obs, F.count(F.lit(1)).alias("rows"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            t = time.monotonic() - t0
            n = obs.get["rows"]
            best = t if best is None else min(best, t)
        timings[name] = round(best, 3)
        rows_seen[name] = n
        print(f"# {name}: {timings[name]}s rows={n}", file=sys.stderr, flush=True)

    result = {
        "cpus": int(cpus),
        "rep": rep,
        "data_dir": dst,
        "reps": REPS,
        "timings": timings,
        "rows": rows_seen,
        "loadavg_end": os.getloadavg()[0],
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
