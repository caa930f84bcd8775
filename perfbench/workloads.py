"""The workloads: what one op is, how it is checked, and how a run's
ops are ordered.

A workload hands the harness *units*: a pass over the query mix
(analytics) or two flat requests and one fan-out request (engine). A
unit is the smallest slice whose op multiset is the same in every run,
so runs that measure the same number of units are comparable op for op.
"""

from __future__ import annotations

import json
import os
import random
import urllib.request
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Callable

import gen

# Query mixes. A tuple is a group that stays together when the seed
# shuffles a pass (the index build publishes the artifact the serve
# row reads).
SF01_MIX = [
    "mr_engine_user_value",
    ("ann_index_build", "ann_index_serve"),
    "stream_stateful_user_stats",
    "dedup_lsh_s_curve",
    "q01_pricing_summary",
]
WORKFLOW = "bench"


@dataclass
class Op:
    name: str
    run: Callable[[], object]  # timed
    check: Callable[[object], bool]  # untimed


def mix_names(mix) -> list[str]:
    return [n for g in mix for n in (g if isinstance(g, tuple) else (g,))]


def shuffled_pass(mix, rng: random.Random) -> list[str]:
    groups = list(mix)
    rng.shuffle(groups)
    return mix_names(groups)


# --------------------------------------------------------- oracle hashes
def oracle_hashes(data_dir: str, names: list[str], path: str, code: str) -> dict[str, str]:
    """DuckDB oracle hash per query, cached at ``path`` under ``code``
    (the digest of the code the hashes depend on): recomputed when the
    code or the query set changes."""
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if cached.get("code") == code and set(names) <= set(cached["hashes"]):
            return cached["hashes"]
    hashes = compute_oracle_hashes(data_dir, names)
    gen.write_json(path, {"code": code, "hashes": hashes})
    return hashes


def compute_oracle_hashes(data_dir: str, names: list[str]) -> dict[str, str]:
    """``oracle.result_hash`` of every DuckDB oracle in ``names``: the
    same canonicalization the Spark side is hashed with."""
    from jobx_spark.oracle import duck_connect, result_hash
    from jobx_spark.queries import all_oracles

    sql = all_oracles()
    con = duck_connect(data_dir)
    return {n: result_hash(SimpleNamespace(toPandas=con.execute(sql[n]).df)) for n in names}


# ------------------------------------------------------------- analytics
class Analytics:
    """``qs[name](spark, data_dir)`` (build) plus a noop-sink write
    (exec), checked against the DuckDB oracle hash."""

    def __init__(self, mix, data_dir: str, expected: dict[str, str], seed: int):
        self.mix = mix
        self.data_dir = data_dir
        self.expected = expected
        self.seed = seed

    def setup(self, spark, tracer) -> None:
        from jobx_spark.queries import all_queries

        self.spark = spark
        self.tracer = tracer
        self.qs = all_queries()
        start_workers(spark)
        # build every query once, untimed: the JVM compiles the hot paths
        # and each query's first build in the session pays its own cold
        # start here, not wherever the seed puts it in the pass
        for name in mix_names(self.mix):
            self.qs[name](spark, self.data_dir)

    def unit(self, k: int) -> list[Op]:
        rng = random.Random(f"{self.seed}:{k}")
        return [self.op(n) for n in shuffled_pass(self.mix, rng)]

    def op(self, name: str) -> Op:
        def run():
            with self.tracer.phase("build"):
                df = self.qs[name](self.spark, self.data_dir)
            with self.tracer.phase("exec"):
                df.write.format("noop").mode("overwrite").save()
            return df

        def check(df) -> bool:
            from jobx_spark.oracle import result_hash

            return result_hash(df) == self.expected[name]

        return Op(name, run, check)

    def teardown(self) -> None:
        pass


def _import_in_worker(batches):
    from jobx_spark.queries import all_queries

    all_queries()  # imports every query module and what it uses
    yield from batches


def start_workers(spark) -> None:
    """Start one Python worker per core with the package imported."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(_import_in_worker, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


# ---------------------------------------------------------------- engine
# Reference-style source handlers (docstring metadata + body), the way
# jobs are registered over the reference's API.
HANDLERS = {
    "bucket": '''"""Bucket every value by v % 8.
**
{"handler_type": "mapper", "argument_spec": []}
"""
yield MrConfigureToReturn()
for k, v in arguments:
    yield (v % 8, v)
''',
    "spread": '''"""Give every argument its own child invocation.
**
{"handler_type": "mapper", "argument_spec": []}
"""
yield MrConfigureToMap("leaf")
for k, v in arguments:
    yield (k, v)
''',
    "split": '''"""Split a value into its remainder mod 3 and the rest.
**
{"handler_type": "mapper", "argument_spec": []}
"""
yield MrConfigureToReturn()
for k, v in arguments:
    yield ("lo", v % 3)
    yield ("hi", v - v % 3)
''',
    "total": '''"""Sum the values of every key.
**
{"handler_type": "reducer", "argument_spec": []}
"""
for k, vl in results:
    yield (k, sum(vl))
''',
}


def build_engine(spark):
    from jobx_spark.engine import Engine

    e = Engine(spark)
    e.create_workflow(WORKFLOW)
    for name, src in HANDLERS.items():
        e.register_handler(WORKFLOW, name, source_code=src)
    e.create_step(WORKFLOW, "flat_step", "bucket", "total")
    e.create_step(WORKFLOW, "top", "spread", "total")
    e.create_step(WORKFLOW, "leaf", "split", "total")
    e.create_job(WORKFLOW, "flat", "flat_step")
    e.create_job(WORKFLOW, "fanout", "top")
    return e


def _http(method: str, url: str, body: dict | None = None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url, data=data, method=method, headers={"Content-Type": "application/json"}
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        return resp.headers, resp.read()


def _canon(pairs) -> list:
    return sorted(([str(k), v] for k, v in pairs), key=lambda p: p[0])


class EngineHttp:
    """Blocking ``POST /job/<wf>/<job>`` to an in-process
    JobxHttpServer, then ``GET`` the request graph and ``DELETE`` the
    request; the result is checked against a pure-Python fold."""

    UNIT = 3  # flat, flat, fan-out
    # request latency keeps falling over the first units (JIT); without
    # these, a run on a faster host measures more, warmer units and its
    # median drops by more than the host's speed-up
    WARMUP_UNITS = 3
    N_REQUESTS = 600

    def __init__(self, seed: int):
        self.seed = seed
        self.requests = gen.engine_requests(seed, self.N_REQUESTS)

    def setup(self, spark, tracer) -> None:
        from jobx_spark.http_api import JobxHttpServer

        self.tracer = tracer
        self.server = JobxHttpServer(build_engine(spark)).start()
        # the first requests pay worker start, code generation and JIT
        for job, args in gen.engine_requests(self.seed, self.WARMUP_UNITS * self.UNIT, stream=1):
            self.request(job, args)

    def request(self, job: str, args: dict):
        base = self.server.url
        with self.tracer.span("http.post"):
            headers, body = _http("POST", f"{base}/job/{WORKFLOW}/{job}", {"arguments": args})
        rid = headers["X-MR-REQUEST-ID"]
        with self.tracer.span("http.get_graph"):
            _http("GET", f"{base}/request/{WORKFLOW}/{rid}")
        with self.tracer.span("http.delete"):
            _http("DELETE", f"{base}/request/{WORKFLOW}/{rid}")
        return json.loads(body)["result"]["pairs"]

    def unit(self, k: int) -> list[Op]:
        ops = []
        for job, args in self.requests[self.UNIT * k : self.UNIT * (k + 1)]:
            want = _canon(gen.expected_pairs(job, args))
            ops.append(Op(
                job,
                lambda job=job, args=args: self.request(job, args),
                lambda pairs, want=want: _canon(pairs) == want,
            ))
        return ops

    def teardown(self) -> None:
        self.server.stop()
