"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------ percentile + tail
def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = list(rng.exponential(1.0, 37))
    for pct in (0, 10, 50, 75, 90, 95, 99, 100):
        assert stats.percentile(xs, pct) == pytest.approx(np.percentile(xs, pct))


@pytest.mark.parametrize(
    "n, pct",
    [(1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0),
     (99, 75.0), (40, 75.0), (39, 100.0), (20, 100.0), (1, 100.0)],
)
def test_tail_is_highest_ladder_percentile_with_ten_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct < 100:
        assert n * (100 - pct) / 100 >= stats.TAIL_MIN_BEYOND


def test_tail_value_and_small_sample_maximum():
    xs = [float(i) for i in range(1, 101)]
    assert stats.tail(xs) == (90.0, pytest.approx(np.percentile(xs, 90)))
    assert stats.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


# ------------------------------------------------------------- generator
def _write(tmp_path, name, seed):
    d = tmp_path / name
    os.makedirs(d)
    for t, table in gen.base_tables(sf=0.001, seed=seed).items():
        import pyarrow.parquet as pq

        pq.write_table(table, str(d / f"{t}.parquet"))
    return gen.digest(str(d))


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = _write(tmp_path, "a", 7)
    b = _write(tmp_path, "b", 7)
    c = _write(tmp_path, "c", 8)
    assert a == b
    assert a != c


def test_generated_schema_matches_query_tables():
    from jobx_spark.sources import TABLES

    t = gen.base_tables(sf=0.001)
    assert set(t) == set(TABLES)
    assert str(t["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(t["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert t["lineitem"].num_rows == 6000


def test_engine_requests_seeded_and_folded():
    a = gen.engine_requests(3, 6)
    assert a == gen.engine_requests(3, 6)
    assert a != gen.engine_requests(4, 6)
    assert a != gen.engine_requests(3, 6, stream=1)
    assert [j for j, _ in a] == ["flat", "flat", "fanout"] * 2
    assert len(a[0][1]) == 64 and len(a[2][1]) == 16
    assert gen.expected_pairs("flat", {"x": 9, "y": 17, "z": 4}) == [[1, 26], [4, 4]]
    assert gen.expected_pairs("fanout", {"x": 10, "y": 5}) == [["hi", 12], ["lo", 3]]


# ---------------------------------------------------------- output check
def _hash(pdf):
    from jobx_spark.oracle import result_hash

    return result_hash(_FakeFrame(pdf))


def test_result_hash_is_row_order_free_and_type_strict():
    df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    shuffled = df.iloc[[2, 0, 1]].reset_index(drop=True)
    assert _hash(df) == _hash(shuffled)
    as_float = df.assign(k=df["k"].astype(float))
    assert _hash(df) != _hash(as_float)


def test_oracle_hashes_are_recomputed_when_the_code_changes(tmp_path, monkeypatch):
    calls = []

    def compute(data_dir, names):
        calls.append(list(names))
        return {n: f"{n}-{len(calls)}" for n in names}

    monkeypatch.setattr(workloads, "compute_oracle_hashes", compute)
    path = str(tmp_path / "oracle.json")
    assert workloads.oracle_hashes("d", ["q"], path, "v1") == {"q": "q-1"}
    assert workloads.oracle_hashes("d", ["q"], path, "v1") == {"q": "q-1"}
    assert workloads.oracle_hashes("d", ["q"], path, "v2") == {"q": "q-2"}
    assert workloads.oracle_hashes("d", ["q", "r"], path, "v2") == {"q": "q-3", "r": "r-3"}
    assert len(calls) == 3


def test_tracing_baseline_counts_only_runs_of_the_same_code(tmp_path):
    import run

    def rec(name, code, p50):
        gen.write_json(str(tmp_path / name),
                       {"code": code, "metrics": {"latency_p50_s": p50}})

    rec("w-seed1-trace0.json", "new", 1.0)
    rec("w-seed2-trace0.json", "new", 3.0)
    rec("w-seed3-trace0.json", "old", 100.0)
    rec("w-seed4-trace1.json", "new", 100.0)
    rec("x-seed1-trace0.json", "new", 100.0)
    assert run.untraced_p50(str(tmp_path), "w", "new") == 2.0
    assert run.untraced_p50(str(tmp_path), "w", "other") is None


def test_code_digest_follows_the_sources(tmp_path):
    import run

    src = tmp_path / "jobx_spark"
    src.mkdir()
    (src / "a.py").write_text("x = 1\n")
    d1 = run.code_digest(str(tmp_path))
    (src / "notes.txt").write_text("not code")
    (src / "__pycache__").mkdir()
    (src / "__pycache__" / "a.cpython.pyc").write_bytes(b"\0")
    assert run.code_digest(str(tmp_path)) == d1
    (src / "a.py").write_text("x = 2\n")
    assert run.code_digest(str(tmp_path)) != d1


class _FakeWriter:
    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        time.sleep(0.01)


class _FakeFrame:
    write = _FakeWriter()

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 - Spark's name
        return self.pdf


class _FakeContext:
    def setJobGroup(self, *a):  # noqa: N802
        pass

    def setLocalProperty(self, *a):  # noqa: N802
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def _analytics(expected, build_s=0.0):
    pdf = pd.DataFrame({"k": [1, 2], "v": ["a", "b"]})

    def query(spark, data_dir):
        time.sleep(build_s)
        return _FakeFrame(pdf)

    w = workloads.Analytics(["good", "bad"], "/nonexistent", expected, seed=1)
    w.spark, w.qs = _FakeSpark(), {"good": query, "bad": query}
    return w, _hash(pdf)


def test_wrong_expected_hash_is_a_failed_op():
    w, right = _analytics({})
    w.expected = {"good": right, "bad": "0" * 64}
    w.tracer = layers.Tracer()
    recs = harness.measure(w, w.tracer, seconds=0.0)
    by = {r.name: r for r in recs}
    assert by["good"].ok and not by["bad"].ok
    assert "differs" in by["bad"].error
    m = harness.end_to_end(recs, 1.0, 0)
    # failed ops count as attempted but stay out of the latency figures
    assert m["latency_p50_s"] == by["good"].latency_s
    assert m["throughput_ops_per_min"] == pytest.approx(
        60.0 / (by["good"].latency_s + by["bad"].latency_s))


def test_an_exception_is_a_failed_op():
    def boom():
        raise RuntimeError("kaput")

    rec = harness.run_op(workloads.Op("x", boom, lambda r: True), 0, layers.Tracer())
    assert not rec.ok and "kaput" in rec.error
    m = harness.end_to_end([rec], 1.0, 0)
    assert m["latency_p50_s"] is None and m["throughput_ops_per_min"] == 0.0
    json.dumps(m, allow_nan=False)


def test_whole_units_only():
    w, right = _analytics({})
    w.expected = {"good": right, "bad": right}
    w.tracer = layers.Tracer()
    recs = harness.measure(w, w.tracer, seconds=0.05)
    assert len(recs) % 2 == 0 and all(r.ok for r in recs)
    # the seed shuffles each pass; both names appear once per unit
    for u in {r.unit for r in recs}:
        assert sorted(r.name for r in recs if r.unit == u) == ["bad", "good"]


# ---------------------------------------------------------------- layers
# build + exec spans must account for this share of an op's wall time
COVERAGE_MIN = 0.95


def test_layer_spans_cover_op_wall_time():
    w, right = _analytics({}, build_s=0.05)
    w.expected = {"good": right, "bad": right}
    tracer = layers.Tracer(enabled=True, spark=_FakeSpark())
    w.tracer = tracer
    recs = harness.measure(w, tracer, seconds=0.0)
    cover = layers.self_time_coverage(tracer.spans, "op", ("build", "exec"))
    assert len(cover) == len(recs) == 2
    assert all(COVERAGE_MIN <= c <= 1.0 for c in cover)
    names = {s.name for s in tracer.spans}
    assert names == {"op", "build", "exec"}
    assert all(s.parent == "op" for s in tracer.spans if s.name != "op")


def test_jobs_attributed_by_group_then_window():
    spans = [layers.Span("build", 10.0, 11.0, 0, "op"),
             layers.Span("http.post", 20.0, 22.0, 1, "op")]
    jobs = [layers.Job(0, "perfbench:5:exec", 10.5, [0]),
            layers.Job(1, None, 10.2, [1]),
            layers.Job(2, "some-stream-run-id", 21.0, [2]),
            layers.Job(3, None, 15.0, [3])]
    assert layers.attribute(jobs, spans, ("build", "http.post")) == [
        (5, "exec"), (0, "build"), (1, "http.post"), (None, None)]


def test_event_log_task_metrics(tmp_path):
    tm = {"Executor Run Time": 1500, "Executor CPU Time": 2 * 10**9,
          "JVM GC Time": 100, "Executor Deserialize Time": 30,
          "Result Serialization Time": 20, "Disk Bytes Spilled": 7,
          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
          "Input Metrics": {"Bytes Read": 99}}
    acc = [{"Name": "time to run Python workers", "Update": "250"},
           {"Name": "data sent to Python workers", "Update": "4096"}]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 5000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "perfbench:0:exec"}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": s,
           "Task End Reason": {"Reason": r}, "Task Info": {"Accumulables": acc},
           "Task Metrics": tm} for s, r in ((0, "Success"), (1, "ExceptionFailure"))],
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (job,) = layers.parse_event_log(str(p))
    assert (job.group, job.submit, job.tasks, job.failed_tasks) == (
        "perfbench:0:exec", 5.0, 2, 1)
    assert job.m["task_run_s"] == pytest.approx(3.0)
    assert job.m["task_cpu_s"] == pytest.approx(4.0)
    assert job.m["task_overhead_s"] == pytest.approx(0.1)
    assert job.m["shuffle_read_bytes"] == 6
    assert job.m["py_udf_s"] == pytest.approx(0.5)
    assert job.m["arrow_to_py_bytes"] == 8192
