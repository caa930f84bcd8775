#!/usr/bin/env python3
"""jobx_spark benchmark.

Run from the root of a jobx_spark checkout:

    python3 perfbench/run.py --workload analytics_sf01 --seed 1 --seconds 20 --trace 0

Prints, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Inputs, oracle hashes and one record per run live under ``.perfbench/``
in the checkout; see perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import proc  # noqa: E402

WORKLOADS = ("analytics_sf01", "engine_http")
STATE = ".perfbench"
E2E_UNITS = {
    "setup_s": "s",
    "throughput_ops_per_min": "1/min",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def code_digest(root: str) -> str:
    """Digest of the Python sources of the program and of the benchmark:
    cached oracle hashes and recorded runs count only for the code that
    made them."""
    import gen

    here = os.path.dirname(os.path.abspath(__file__))
    return gen.digest(os.path.join(root, "jobx_spark"), ".py") + gen.digest(here, ".py")


def prepare(root: str, workload: str, seed: int, code: str):
    """Generate (or reuse) the inputs and expected results; return the
    workload. The base tables and their oracle hashes are made by the
    first run in a checkout, whichever workload it is, and again when
    the code they depend on changes."""
    import gen
    import workloads as W

    cache = os.path.join(root, STATE, "cache")
    base = os.path.join(cache, "base")
    done = os.path.join(base, "_DONE")
    made_by = gen.digest(os.path.dirname(gen.__file__), "gen.py")
    if not os.path.exists(done) or open(done).read() != made_by:
        shutil.rmtree(base, ignore_errors=True)
        gen.write_base(base)
        with open(done, "w") as fh:
            fh.write(made_by)
    expected = W.oracle_hashes(
        base, W.mix_names(W.SF01_MIX), os.path.join(cache, "oracle-sf01.json"), code
    )
    if workload == "analytics_sf01":
        return W.Analytics(W.SF01_MIX, base, expected, seed)
    return W.EngineHttp(seed)


def pin_env(root: str, work: str, trace: bool) -> dict:
    """Pin everything the program reads from its environment, and keep
    every write of the run inside ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("ckpt", "local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        # unset, tune_for_session would reset shuffle partitions to 32
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        # the Python workers import jobx_spark (and the warm-up function)
        "PYTHONPATH": os.pathsep.join(
            [root, os.path.dirname(os.path.abspath(__file__))]
            + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "JOBX_CHECKPOINT_DIR": dirs["ckpt"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        # every JVM (spark-submit's launcher too) keeps its temp files in
        # the work directory and writes no perf-data file to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    os.environ.pop("OMP_NUM_THREADS", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    if trace:
        env["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell",
        ])
    os.environ.update(env)
    return env, dirs


def calibrate(spark) -> dict:
    """Constant work, recorded with every result so that runs on a
    busier box can be told apart."""
    import numpy as np

    t0 = time.monotonic()
    spark.range(0, 64_000_000, 1, 8).selectExpr(
        "sum(id % 7) AS s", "sum(id * 3 % 11) AS t"
    ).collect()
    spark_s = time.monotonic() - t0
    a = np.arange(4_000_000, dtype=np.float64)
    t0 = time.monotonic()
    for _ in range(16):
        a = np.sqrt(a * 1.0000001 + 1.0)
    return {"spark_fixed_s": spark_s, "numpy_fixed_s": time.monotonic() - t0}


def stop_all(spark) -> None:
    """Stop the session, the JVM and every process under this one, and
    wait until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    jvm = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            jvm.wait(timeout=60)
        except Exception:  # noqa: BLE001
            jvm.kill()
            jvm.wait()
    me = os.getpid()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and set(proc.tree()) != {me}:
        time.sleep(0.2)
    for pid in set(proc.tree()) - {me}:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while set(proc.tree()) - {me}:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            time.sleep(0.1)


def untraced_p50(runs: str, workload: str, code: str) -> float | None:
    """Median ``latency_p50_s`` of the untraced runs of ``workload``
    recorded in this checkout by the same code (seeds only reorder ops
    or change request values, so any seed is a baseline), or None
    before the first."""
    import stats

    if not os.path.isdir(runs):
        return None
    p50s = []
    for f in os.listdir(runs):
        if f.startswith(f"{workload}-seed") and f.endswith("-trace0.json"):
            with open(os.path.join(runs, f)) as fh:
                r = json.load(fh)
            if r.get("code") == code and r["metrics"]["latency_p50_s"] is not None:
                p50s.append(r["metrics"]["latency_p50_s"])
    return stats.median(p50s) if p50s else None


def record_untraced_run(a) -> None:
    """Run this benchmark untraced, in a process of its own, so that it
    records the baseline a traced run compares itself with."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"]
    subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True)


def jvm_heap_mb(spark) -> dict:
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    return {"used": (rt.totalMemory() - rt.freeMemory()) / 2**20,
            "committed": rt.totalMemory() / 2**20, "max": rt.maxMemory() / 2**20}


def main(argv=None) -> int:
    a = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jobx_spark", "__init__.py")):
        print("perfbench: run it from the root of a jobx_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import gen
    import harness
    import layers

    runs = os.path.join(root, STATE, "runs")
    code = code_digest(root)
    # a traced run compares itself with the untraced runs of the same
    # code recorded here; before the first, it records one
    t0 = time.monotonic()
    baseline = None
    if a.trace:
        if untraced_p50(runs, a.workload, code) is None:
            record_untraced_run(a)
        baseline = untraced_p50(runs, a.workload, code)
    baseline_s = time.monotonic() - t0
    work = os.path.join(runs, f"work-{a.workload}-{a.seed}-{os.getpid()}")
    # before anything imports jobx_spark: it reads the pins at import
    env, dirs = pin_env(root, work, bool(a.trace))
    t0 = time.monotonic()
    workload = prepare(root, a.workload, a.seed, code)
    generate_s = time.monotonic() - t0
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "code": code, "generate_s": generate_s, "env": env,
              "loadavg_before": proc.loadavg()}

    from jobx_spark.session import get_spark

    with proc.PeakRss() as rss:
        t1 = time.monotonic()
        spark = get_spark(f"perfbench_{a.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t1
        tracer = layers.Tracer(spark=spark)
        t2 = time.monotonic()
        workload.setup(spark, tracer)
        warmup_s = time.monotonic() - t2
        setup_s = time.monotonic() - T_PROCESS - baseline_s - generate_s
        if a.trace:
            window = layers.TracedWindow(spark, tracer, dirs["ckpt"])
            with window:
                ops = harness.measure(workload, tracer, a.seconds, window.run_op)
        else:
            ops = harness.measure(workload, tracer, a.seconds)
        peak_rss = rss.peak
        record["processes_at_peak_rss"] = rss.at_peak
        record["jvm_heap_mb"] = jvm_heap_mb(spark)
        record["calibration"] = calibrate(spark)
        workload.teardown()
    stop_all(spark)

    record.update({"session_start_s": session_s, "warmup_s": warmup_s,
                   "loadavg_after": proc.loadavg()})
    e2e = harness.end_to_end(ops, setup_s, peak_rss)
    record["tail_percentile"] = e2e.pop("tail_percentile")
    if a.trace:
        metrics, units, extra = layers.per_layer(
            ops, tracer, window, dirs["eventlog"],
            {"session.start_s": session_s, "session.warmup_s": warmup_s},
        )
        p50 = e2e["latency_p50_s"]
        metrics["tracing.overhead_s"] = (
            None if p50 is None or baseline is None else p50 - baseline)
        record.update(extra, untraced_p50_s=baseline,
                      spans=[s.__dict__ for s in tracer.spans])
    else:
        metrics, units = e2e, E2E_UNITS
    record["ops"] = [r.__dict__ for r in ops]
    record["metrics"] = metrics
    record["wall_s"] = time.monotonic() - T_PROCESS
    gen.write_json(os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), record)
    shutil.rmtree(work, ignore_errors=True)

    failed = [r for r in ops if not r.ok]
    for r in failed:
        print(f"perfbench: FAILED {r.name}: {r.error}", file=sys.stderr)
    print(f"perfbench: {len(ops)} ops in the window, latency_tail_s is "
          f"p{record['tail_percentile']}", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
