"""MapReduce-parity tests: the reference's five dev jobs re-expressed as
engine fixtures with seeded RNG, asserting the conservation invariants
from FIXTURES.md §A.4 (handlers re-implemented from their documented
semantics — dev/resources/handlers/{map,reduce}/test/*)."""

import random

import pytest

from jobx_spark.engine import Engine
from jobx_spark.handlers import MrConfigureToMap, MrConfigureToReturn


# --- handlers: semantics from FIXTURES.md A.3 (not copied code) -----------

def mapper_chunk(scope, arguments):
    """random_yield_grouped semantics: yield Return, then random chunks
    whose values sum to count = randrange(1, value); keys in [0, 9]."""
    yield MrConfigureToReturn()
    for _name, value in arguments:
        remaining = random.randrange(1, value)
        while remaining > 0:
            chunk = random.randint(1, remaining)
            yield (random.randint(0, 9), chunk)
            remaining -= chunk


def mapper_split(scope, arguments):
    """split semantics: write two session keys, fan out halves that sum
    to the argument."""
    scope.session_set("key1", 123)
    scope.session_set("key2", "uvw")
    yield MrConfigureToMap("step_chunk")
    for _name, value in arguments:
        yield (0, value // 2)
        yield (1, value // 2 + value % 2)


def reducer_sum(scope, results):
    """sum semantics: per key, sum of value-list, accumulated across
    duplicate keys."""
    totals = {}
    for k, value_list in results:
        totals[k] = totals.get(k, 0) + sum(value_list)
    for k in sorted(totals):
        yield (k, totals[k])


def reducer_noop(scope, results):
    for pair in results:
        yield pair


def reducer_multiply_with_session(scope, results):
    """multiply semantics incl. the mapper→reducer session visibility
    check (reads key2)."""
    tag = scope.session_get("key2")
    for k, value_list in results:
        product = 1
        for v in value_list:
            product *= v
        yield (k, [product, tag])


def reducer_tries_session_write(scope, results):
    scope.session_set("illegal", 1)
    yield (0, 0)


def mapper_boom(scope, arguments):
    yield MrConfigureToReturn()
    raise ValueError("boom in mapper")


@pytest.fixture()
def engine(spark):
    e = Engine(spark)
    e.create_workflow("wf")
    e.register_handler("wf", "chunk", fn=mapper_chunk, handler_type="mapper",
                       argument_spec=[("arg1", "int")])
    e.register_handler("wf", "split", fn=mapper_split, handler_type="mapper",
                       argument_spec=[("arg1", "int")])
    e.register_handler("wf", "sum", fn=reducer_sum, handler_type="reducer")
    e.register_handler("wf", "noop", fn=reducer_noop, handler_type="reducer")
    e.register_handler("wf", "multiply", fn=reducer_multiply_with_session,
                       handler_type="reducer")
    e.create_step("wf", "step_chunk", "chunk", "sum")
    e.create_step("wf", "step_split", "split", "noop")
    e.create_job("wf", "job5", "step_chunk")
    e.create_job("wf", "job4", "step_split")
    return e


def test_job5_single_step_conservation(engine):
    """FIXTURES A.4 #1: single-step chunk+sum; totals conserved, < arg."""
    req = engine.submit("wf", "job5", {"arg1": 144})
    pairs = req.result["pairs"]
    assert pairs, "expected non-empty result"
    total = sum(v for _, v in pairs)
    assert 0 < total < 144
    assert all(0 <= k <= 9 for k, _ in pairs)
    # seeded RNG → deterministic across runs
    req2 = engine.submit("wf", "job5", {"arg1": 144})
    assert req2.result["pairs"] == pairs


def test_job4_fanout_and_fold(engine):
    """FIXTURES A.4 #2 + #3: map→map→reduce→reduce; halves conserved;
    nesting preserved (noop parent reducer yields value-lists)."""
    req = engine.submit("wf", "job4", {"arg1": 144})
    pairs = req.result["pairs"]
    assert pairs
    # noop forwards (k, [v...]) — grouping must NOT flatten
    assert all(isinstance(v, list) for _, v in pairs)
    total = sum(sum(v) for _, v in pairs)
    assert 0 < total < 144
    assert all(0 <= k <= 9 for k, _ in pairs)
    # two levels of steps in the trace, with the fan-out edge
    assert ("step_split", "step_chunk") in req.trace.edges()
    assert req.trace.step_sequence() == ["step_split", "step_chunk"]


def combiner_presum(scope, results):
    """Custom combiner (SURVEY §2.1 #4): receives the raw map-result
    pair stream, pre-merges per key (sum), yields grouped pairs — the
    'groups similar or duplicate map output' contract of
    mr_kv_step_create:25."""
    totals = {}
    for k, v in results:
        totals[k] = totals.get(k, 0) + v
    for k in sorted(totals):
        yield (k, [totals[k]])


def mapper_modulo(scope, arguments):
    """Deterministic chunker: value units spread over keys 0-2 (RNG-free
    so the combiner-transparency comparison can be exact across jobs)."""
    yield MrConfigureToReturn()
    for _name, value in arguments:
        for i in range(value):
            yield (i % 3, 1 + i % 5)


def test_custom_combiner_transparent_to_reducer(engine):
    """A pre-summing combiner must not change the reduced totals
    (combiner transparency — the invariant that makes map-side combine
    legal), but it shrinks the grouped dataset to one value per key."""
    engine.register_handler("wf", "modchunk", fn=mapper_modulo,
                            handler_type="mapper",
                            argument_spec=[("arg1", "int")])
    engine.register_handler("wf", "presum", fn=combiner_presum,
                            handler_type="combiner")
    engine.create_step("wf", "step_mod_plain", "modchunk", "sum")
    engine.create_step("wf", "step_mod_comb", "modchunk", "sum", "presum")
    engine.create_job("wf", "job_mod_plain", "step_mod_plain")
    engine.create_job("wf", "job_mod_comb", "step_mod_comb")

    plain = engine.submit("wf", "job_mod_plain", {"arg1": 144}).result["pairs"]
    combined = engine.submit("wf", "job_mod_comb", {"arg1": 144}).result["pairs"]
    assert combined == plain
    assert sorted(k for k, _ in plain) == [0, 1, 2]
    assert sum(v for _, v in plain) == sum(1 + i % 5 for i in range(144))


def mapper_split_deep(scope, arguments):
    """split semantics but fanning out to another split step — exercises
    two levels of MrConfigureToMap recursion before the chunk leaf."""
    yield MrConfigureToMap("step_split_mid")
    for _name, value in arguments:
        yield (0, value // 2)
        yield (1, value // 2 + value % 2)


def test_three_level_fanout_and_fold(engine):
    """map→map→map→reduce: totals stay conserved through two fan-out
    levels and the post-order fold; the trace records the full chain."""
    engine.register_handler("wf", "split_deep", fn=mapper_split_deep,
                            handler_type="mapper",
                            argument_spec=[("arg1", "int")])
    engine.create_step("wf", "step_split_mid", "split", "noop")
    engine.create_step("wf", "step_split_top", "split_deep", "noop")
    engine.create_job("wf", "job_deep", "step_split_top")

    req = engine.submit("wf", "job_deep", {"arg1": 144})
    pairs = req.result["pairs"]
    assert pairs
    # two noop folds wrap the leaf's (k, total) pairs in value-lists —
    # nesting depth reflects the no-flatten default-combiner semantics.
    def flat_total(v):
        if isinstance(v, list):
            return sum(flat_total(x) for x in v)
        return v
    total = sum(flat_total(v) for _, v in pairs)
    assert 0 < total < 144
    assert req.trace.step_sequence() == [
        "step_split_top", "step_split_mid", "step_chunk"
    ]
    assert ("step_split_top", "step_split_mid") in req.trace.edges()
    assert ("step_split_mid", "step_chunk") in req.trace.edges()


def mapper_fs_write(scope, arguments):
    """random_yield_grouped's FS usage (FIXTURES A.3): mkdir + write a
    per-invocation work file through the injected FS verbs."""
    scope.fs.mkdir("tempdir")
    with scope.fs.open(f"tempdir/{scope.invocation_id}.txt", "w") as f:
        f.write(scope.invocation_id)
    yield MrConfigureToReturn()
    for _name, value in arguments:
        yield (0, value)


def reducer_fs_read(scope, results):
    """Reads back what the paired mapper wrote: shared-FS visibility
    across the map→reduce boundary (the reference's Tahoe-LAFS role)."""
    names = [n for n, _ in scope.fs.ls("tempdir")]
    for k, value_list in results:
        yield (k, [sum(value_list), len(names)])


def test_fs_verbs_shared_across_phases(engine, tmp_path):
    from jobx_spark.engine import Engine
    from jobx_spark.handlers import FsVerbs

    e2 = Engine(engine.spark, workdir=str(tmp_path))
    e2.catalog = engine.catalog
    engine.register_handler("wf", "fs_write", fn=mapper_fs_write,
                            handler_type="mapper",
                            argument_spec=[("arg1", "int")])
    engine.register_handler("wf", "fs_read", fn=reducer_fs_read,
                            handler_type="reducer")
    e2.create_step("wf", "step_fs", "fs_write", "fs_read")
    e2.create_job("wf", "job_fs", "step_fs")
    req = e2.submit("wf", "job_fs", {"arg1": 7})
    ((k, (total, n_files)),) = req.result["pairs"]
    assert (k, total) == (0, 7)
    assert n_files >= 1  # the mapper's work file is visible to the reducer

    # verb surface parity: mkdir/ls/cp/mv/stat/exists/isfile/isdir/rm/rmdir
    fs = FsVerbs(str(tmp_path))
    fs.mkdir("d")
    with fs.open("d/a.txt", "w") as f:
        f.write("x")
    fs.cp("d/a.txt", "d/b.txt")
    fs.mv("d/b.txt", "d/c.txt")
    assert fs.exists("d/a.txt") and fs.isfile("d/c.txt") and fs.isdir("d")
    assert fs.stat("d/a.txt").st_size == 1
    assert [n for n, _ in fs.ls("d")] == ["a.txt", "c.txt"]
    fs.rm("d/c.txt")
    fs.rmdir("d")
    assert not fs.exists("d")
    with pytest.raises(ValueError):
        fs.open("../escape.txt", "w")


def test_sessions_mapper_write_reducer_read(engine):
    """FIXTURES A.4 #4: session written by the mapper is readable in the
    paired (fold) reducer."""
    engine.create_step("wf", "step_split_mult", "split", "multiply")
    engine.create_job("wf", "job_mult", "step_split_mult")
    req = engine.submit("wf", "job_mult", {"arg1": 10})
    pairs = req.result["pairs"]
    assert pairs
    for _k, v in pairs:
        product, tag = v
        assert tag == "uvw"  # session value visible in reducer


def test_session_write_lockout_in_reducer(engine, spark):
    """FIXTURES A.4 #4: session writes from a reducer must raise."""
    engine.register_handler("wf", "bad_red", fn=reducer_tries_session_write,
                            handler_type="reducer")
    engine.create_step("wf", "step_bad", "chunk", "bad_red")
    engine.create_job("wf", "job_bad", "step_bad")
    with pytest.raises(Exception, match="session writes are disabled"):
        engine.submit("wf", "job_bad", {"arg1": 10})
    req = [r for r in engine._requests.values() if r.job_name == "job_bad"][-1]
    assert req.error and "session writes are disabled" in req.error
    assert req.failed_invocation_id


def test_handler_error_stamping(engine):
    """Handler exception → request.error + failed_invocation_id
    (reference: mr/job_engine.py:535-572)."""
    engine.register_handler("wf", "boom", fn=mapper_boom, handler_type="mapper")
    engine.create_step("wf", "step_boom", "boom", "sum")
    engine.create_job("wf", "job_boom", "step_boom")
    with pytest.raises(Exception, match="boom in mapper"):
        engine.submit("wf", "job_boom", {})
    req = [r for r in engine._requests.values() if r.job_name == "job_boom"][-1]
    assert req.error and "boom in mapper" in req.error
    assert req.failed_invocation_id
    assert req.is_done


def test_async_submit_with_file_writer(engine, tmp_path):
    """FIXTURES A.4 #5: async returns immediately; result goes to the
    sink, not the response."""
    out = tmp_path / "result.csv"
    req = engine.submit(
        "wf", "job5", {"arg1": 50}, blocking=False,
        result_writer="file", writer_options={"path": str(out)},
    )
    assert req.request_id  # returned before completion
    req.wait(timeout=120)
    assert req.error is None
    assert out.exists()
    lines = out.read_text().strip().splitlines()
    assert lines and all(len(line.split(" ")) == 2 for line in lines)
    assert req.result["n_pairs"] == len(lines)


def test_http_result_writer_posts_result(engine):
    """HTTP sink parity (reference: mr/result_writers/http.py:11-33):
    the JSON result and identifying headers arrive at the target URL,
    once, after completion."""
    import http.server
    import json as _json
    import threading

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((dict(self.headers), _json.loads(body)))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):  # keep test output quiet
            pass

    server = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{server.server_port}/result"
        req = engine.submit(
            "wf", "job5", {"arg1": 40}, blocking=False,
            result_writer="http", writer_options={"url": url},
        )
        req.wait(timeout=120)
        assert req.error is None
        assert len(received) == 1
        headers, body = received[0]
        assert headers["X-Mr-Request-Id"] == req.request_id
        assert headers["X-Mr-Workflow-Name"] == "wf"
        assert body["pairs"] and all(len(p) == 2 for p in body["pairs"])
        assert req.result["status"] == 200
    finally:
        server.shutdown()


def test_argument_casting_and_validation(engine):
    """SURVEY §1.1: argument_spec casts via builtin types; missing/extra
    arguments rejected."""
    req = engine.submit("wf", "job5", {"arg1": "144"})  # str → int cast
    assert req.result["pairs"]
    from jobx_spark.catalog import CatalogError

    with pytest.raises(CatalogError, match="missing"):
        engine.submit("wf", "job5", {})
    with pytest.raises(CatalogError, match="unexpected"):
        engine.submit("wf", "job5", {"arg1": 1, "nope": 2})


def test_source_code_handler_with_docstring_metadata(engine):
    """Reference-style registration: source string + docstring metadata
    (mr/handlers/sync.py:136-169), executed with injected scope."""
    src = '''"""Double each value.

**{"handler_type": "mapper", "argument_spec": [["arg1", "int"]]}
"""
yield MrConfigureToReturn()
for name, value in arguments:
    LOG("doubling %s" % name)
    yield (name, value * 2)
'''
    engine.register_handler("wf", "doubler", source_code=src)
    engine.create_step("wf", "step_double", "doubler", "noop")
    engine.create_job("wf", "job_double", "step_double")
    req = engine.submit("wf", "job_double", {"arg1": 21})
    assert req.result["pairs"] == [["arg1", [42]]]


def test_inline_result_envelope(engine):
    """FIXTURES A.4 #6: blocking result envelope is {'pairs': [[k, v]...]}."""
    req = engine.submit("wf", "job5", {"arg1": 20})
    assert set(req.result.keys()) == {"pairs"}
    assert all(isinstance(p, list) and len(p) == 2 for p in req.result["pairs"])


def test_workflow_scope_values_injected(spark):
    """Workflow-scoped extras reach every handler scope (the reference's
    WorkflowScopeFactory — test/scope/test_scope.py:4-20 returns
    {'test_scope_val': 99} and handlers read it as a global)."""
    eng = Engine(spark)
    eng.create_workflow("wf_scope", scope_values={"test_scope_val": 99})

    def mapper(scope, arguments):
        from jobx_spark.handlers import MrConfigureToReturn
        yield MrConfigureToReturn()
        yield ("val", scope.extra["test_scope_val"])

    def reducer(scope, results):
        for k, vl in results:
            yield (k, sum(vl) + scope.extra["test_scope_val"])

    eng.register_handler("wf_scope", "m", fn=mapper, handler_type="mapper")
    eng.register_handler("wf_scope", "r", fn=reducer, handler_type="reducer")
    eng.create_step("wf_scope", "s", "m", "r")
    eng.create_job("wf_scope", "j", "s")
    req = eng.submit("wf_scope", "j", {"x": 1})
    assert req.result["pairs"] == [["val", 198]]


def test_catalog_save_load_round_trip(spark, tmp_path):
    """Source-code handlers round-trip through the JSON snapshot and the
    reloaded catalog executes jobs (reference: all entities persist in
    etcd, mr/models/kv/model.py:370-385)."""
    from jobx_spark.catalog import Catalog

    src_mapper = '''
"""double each argument value.
**
{"handler_type": "mapper", "argument_spec": [["arg1", "int"]]}
"""
yield MrConfigureToReturn()
for k, v in arguments:
    yield (k, v * 2)
'''
    src_reducer = '''
"""sum values per key.
**
{"handler_type": "reducer", "argument_spec": []}
"""
for k, vl in results:
    yield (k, sum(vl))
'''
    eng = Engine(spark)
    eng.create_workflow("wfp", scope_values={"tag": 7})
    eng.register_handler("wfp", "dbl", source_code=src_mapper)
    eng.register_handler("wfp", "tot", source_code=src_reducer)
    eng.create_step("wfp", "s1", "dbl", "tot")
    eng.create_job("wfp", "j1", "s1")

    path = str(tmp_path / "catalog.json")
    eng.catalog.save(path)

    from jobx_spark.catalog import Catalog as C2
    eng2 = Engine(spark, catalog=C2.load(path))
    wf = eng2.catalog.get_workflow("wfp")
    assert wf.scope_values == {"tag": 7}
    req = eng2.submit("wfp", "j1", {"arg1": 21})
    assert req.result["pairs"] == [["arg1", 42]]


def _mapper_passthrough(scope, arguments):
    yield MrConfigureToReturn()
    for k, v in arguments:
        yield (k, v)


def test_submit_dataset_distributed_parquet_sink(spark, tmp_path):
    """Table-scale results bypass the driver: submit_dataset with a
    parquet writer writes the folded output via the executors and hands
    back a path + DataFrame — no pairs list is materialized inline."""
    from pyspark.sql import functions as F

    eng = Engine(spark)
    eng.create_workflow("wfd")
    eng.register_handler("wfd", "pass", fn=_mapper_passthrough, handler_type="mapper")
    eng.register_handler("wfd", "sum", fn=reducer_sum, handler_type="reducer")
    eng.create_step("wfd", "sd", "pass", "sum")
    eng.create_job("wfd", "jd", "sd")

    pairs = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("k"),
        F.lit("1").alias("v"),
    )
    out = str(tmp_path / "folded")
    req = eng.submit_dataset(
        "wfd", "jd", pairs, result_writer="parquet",
        writer_options={"path": out},
    )
    assert req.result["path"] == out
    assert req.result["format"] == "parquet"
    assert "pairs" not in req.result
    got = {
        int(r["k"]): int(r["v"]) for r in req.result_df.collect()
    }
    # 1000 ids mod 7: keys 0..5 get 143, key 6 gets 142
    assert got == {0: 143, 1: 143, 2: 143, 3: 143, 4: 143, 5: 143, 6: 142}
    assert req.result["n_pairs"] == 7


def test_submit_dataset_sink_decodes_string_keys(spark, tmp_path):
    """result_df follows the inline contract: DECODED k/v (ADVICE r2).
    String keys must read back as ``user_a``, not the JSON-quoted
    ``"user_a"`` — and not silently NULL under a cast."""
    from pyspark.sql import functions as F

    eng = Engine(spark)
    eng.create_workflow("wfs")
    eng.register_handler("wfs", "pass", fn=_mapper_passthrough, handler_type="mapper")
    eng.register_handler("wfs", "sum", fn=reducer_sum, handler_type="reducer")
    eng.create_step("wfs", "ss", "pass", "sum")
    eng.create_job("wfs", "js", "ss")

    pairs = spark.range(100).select(
        # JSON-encoded *string* keys per the pairs_df contract
        F.concat(F.lit('"user_'), (F.col("id") % 3).cast("string"), F.lit('"')).alias("k"),
        F.lit("1").alias("v"),
    )
    out = str(tmp_path / "folded_str")
    req = eng.submit_dataset(
        "wfs", "js", pairs, result_writer="parquet",
        writer_options={"path": out},
    )
    got = {r["k"]: int(r["v"]) for r in req.result_df.collect()}
    assert got == {"user_0": 34, "user_1": 33, "user_2": 33}


def _jobs_of(spark, group, fn):
    """Ids of the Spark jobs ``fn()`` runs, listed under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_submit_dataset_parquet_result_runs_no_job_after_the_write(
    spark, tmp_path
):
    """The parquet result path writes where the inline path collects,
    and runs nothing else: the read-back names its schema (no
    footer-listing job) and ``n_pairs`` comes from an Observation on
    the write (no count jobs over the files just written)."""
    from pyspark.sql import functions as F

    eng = Engine(spark)
    eng.create_workflow("wfj")
    eng.register_handler("wfj", "pass", fn=_mapper_passthrough, handler_type="mapper")
    eng.register_handler("wfj", "sum", fn=reducer_sum, handler_type="reducer")
    eng.create_step("wfj", "sj", "pass", "sum")
    eng.create_job("wfj", "jj", "sj")
    pairs = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("k"),
        F.lit("1").alias("v"),
    )

    _, inline_jobs = _jobs_of(
        spark, "dataset-inline",
        lambda: eng.submit_dataset("wfj", "jj", pairs, n_buckets=4),
    )
    req, parquet_jobs = _jobs_of(
        spark, "dataset-parquet",
        lambda: eng.submit_dataset(
            "wfj", "jj", pairs, n_buckets=4, result_writer="parquet",
            writer_options={"path": str(tmp_path / "folded")},
        ),
    )
    assert inline_jobs and len(parquet_jobs) <= len(inline_jobs)
    assert req.result["n_pairs"] == req.result_df.count() == 7


def _mapper_raises_on_13(scope, arguments):
    yield MrConfigureToReturn()
    for k, v in arguments:
        if v == 13:
            raise ValueError("boom on 13")
        yield (k, v)


def test_failed_submit_dataset_is_stamped(spark):
    """A failed dataset request is stamped like a failed submit: done,
    with the error and the invocation that raised."""
    import hashlib

    from pyspark.sql import functions as F

    eng = Engine(spark)
    eng.create_workflow("wfe")
    eng.register_handler("wfe", "raise13", fn=_mapper_raises_on_13, handler_type="mapper")
    eng.register_handler("wfe", "sum", fn=reducer_sum, handler_type="reducer")
    eng.create_step("wfe", "se", "raise13", "sum")
    eng.create_job("wfe", "je", "se")

    pairs = spark.range(20).select(
        (F.col("id") % 3).cast("string").alias("k"),
        F.col("id").cast("string").alias("v"),
    )
    with pytest.raises(Exception, match="boom on 13"):
        eng.submit_dataset("wfe", "je", pairs, n_buckets=4)
    [req] = eng.list_requests("wfe")
    assert req.is_done and req.finished_at is not None
    assert req.error and "boom on 13" in req.error
    root_inv = hashlib.sha1(b"wfe:je:dataset").hexdigest()
    assert req.failed_invocation_id.startswith(root_inv + ":")


def test_invocation_trace_and_graph(engine):
    """Invocation forensics parity (reference mr/trace.py:170-334):
    fan-out job records parent->child invocation edges with dataset
    counts, and the DOT render carries the reference's labels."""
    from jobx_spark.trace import InvocationGraph

    req = engine.submit("wf", "job4", {"arg1": 100})
    recs = req.trace.invocations
    assert recs, "expected invocation records"
    root = [r for r in recs if r.parent_inv is None]
    assert len(root) == 1
    assert root[0].n_args == 1 and root[0].n_mapped > 0
    # children reference the root
    children = [r for r in recs if r.parent_inv == root[0].inv]
    assert children and all(c.depth == 1 for c in children)
    assert all(c.n_reduced > 0 for c in children)

    dot = InvocationGraph(
        req,
        map_handler_names={"step_split": "split", "step_chunk": "chunk"},
        reduce_handler_names={"step_split": "noop", "step_chunk": "sum"},
    ).draw_graph()
    assert 'Q -> W [label="resolve workflow"]' in dot
    assert '[label="mapped to"]' in dot
    assert '[label="data reduced by"]' in dot or '[label="step reduced by"]' in dot
    assert '[label="stored to"]' in dot
    assert 'H "split"' in dot and 'H "chunk"' in dot


def test_forensics_cap_and_no_result_leakage(engine, monkeypatch):
    """r12 optimization pin: invocation forensics are emitted by phase 1
    as 'forensic' rows (no driver-side re-aggregation), so (a) the cap
    still truncates to the lexicographically-smallest invocation ids
    with the truncated flag set, and (b) forensic rows never leak into
    the request result."""
    import jobx_spark.engine as E
    import jobx_spark.trace as T

    monkeypatch.setattr(E, "INVOCATION_CAP", 3)
    monkeypatch.setattr(T, "INVOCATION_CAP", 3)
    # arg1=144 fans out 2 children at step_split → 1 root + 2 children
    # = 3 invocation records already, so a second fan-out request would
    # truncate; here the leaf chunk step's random fan-out is what
    # overflows the cap (step_chunk children are per-pair invocations).
    req = engine.submit("wf", "job4", {"arg1": 144})
    recs = req.trace.invocations
    assert len(recs) <= 3
    # records arrive in ascending inv order per step and respect room
    by_step = {}
    for r in recs:
        by_step.setdefault(r.step, []).append(r.inv)
    for invs in by_step.values():
        assert invs == sorted(invs)
    if req.trace.invocations_truncated:
        assert len(recs) == 3
    # field parity: root record of the first step has its argument
    root = [r for r in recs if r.step == "step_split"]
    assert root and root[0].n_args == 1 and root[0].n_mapped == 2
    assert root[0].arg_sample and root[0].arg_sample[0][1] == "144"
    # no leakage: the result is exactly the fold output, value-lists
    pairs = req.result["pairs"]
    assert pairs and all(isinstance(v, list) for _, v in pairs)
    assert sum(sum(v) for _, v in pairs) < 144


def test_request_sessions_capture(engine):
    """mr_get_request_sessions parity: sessions written by fan-out
    mappers are listed per invocation on the request trace, decoded."""
    req = engine.submit("wf", "job4", {"arg1": 50})
    sess = req.trace.sessions
    assert sess, "expected captured session rows"
    by_key = {}
    for inv, step, k, v in sess:
        assert step == "step_split"
        by_key[k] = v
    # mapper_split writes key1=123 (int) and key2="uvw" (str) — values
    # must come back decoded, not as JSON text
    assert by_key == {"key1": 123, "key2": "uvw"}


@pytest.mark.parametrize(
    "obj",
    [
        0, -7, 2**63, 1.5, 1e16, 1e-7, float("nan"), float("inf"),
        float("-inf"), "ünïcødé ✓", {"b": {"d": 1, "c": [2, "x"]}, "a": None},
        (1, ("two", 3.0)), [True, False, None],
    ],
)
def test_encode_matches_json_dumps(obj):
    import json

    from jobx_spark.engine import _encode

    assert _encode(obj) == json.dumps(obj, sort_keys=True, separators=(",", ":"))


@pytest.mark.parametrize(
    "text",
    [
        "0", "-7", str(2**63), "1.5", "1e16", "1e-07", "NaN", "Infinity",
        "-Infinity", '"\\u00fcn\\u00efc\\u00f8d\\u00e9 \\u2713"', '"ünïcødé ✓"',
        '{"a":null,"b":{"c":[2,"x"],"d":1}}', '[1,["two",3.0]]',
        "[true,false,null]", ' {"z": [ ] } ',
    ],
)
def test_decode_matches_json_loads(text):
    import json
    import math

    from jobx_spark.engine import _decode

    got, want = _decode(text), json.loads(text)
    if isinstance(want, float) and math.isnan(want):
        assert isinstance(got, float) and math.isnan(got)
    else:
        assert got == want and type(got) is type(want)


def test_decode_rejects_a_bom_like_json_loads():
    import json

    from jobx_spark.engine import _decode

    with pytest.raises(json.JSONDecodeError):
        json.loads('\ufeff{"a":1}')
    with pytest.raises(json.JSONDecodeError):
        _decode('\ufeff{"a":1}')


def test_submit_frontier_is_a_local_relation(engine, monkeypatch):
    """The request arguments reach the root step as a LocalRelation, so
    reading them runs no Python task."""
    frontiers = []
    run_step = Engine._run_step

    def spy(self, workflow_name, step_name, frontier, *args, **kwargs):
        frontiers.append(frontier)
        return run_step(self, workflow_name, step_name, frontier, *args, **kwargs)

    monkeypatch.setattr(Engine, "_run_step", spy)
    engine.submit("wf", "job5", {"arg1": 12})
    plan = frontiers[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan


def test_submit_runs_one_spark_job(engine, spark):
    """A blocking submit() is one Spark job: a flat root, and a fan-out
    root whose subtree fuses in-task once a warm request has measured
    the wave cost. Phase 1 of the root is one task over the driver's
    rows, and that one action also returns the result rows."""
    _, flat_jobs = _jobs_of(
        spark, "submit-flat", lambda: engine.submit("wf", "job5", {"arg1": 144})
    )
    assert len(flat_jobs) == 1

    engine.submit("wf", "job4", {"arg1": 10})  # measures the wave cost
    req, fan_jobs = _jobs_of(
        spark, "submit-fanout", lambda: engine.submit("wf", "job4", {"arg1": 144})
    )
    assert [f.decision for f in req.trace.fusion] == ["fused"]
    assert req.trace.sessions  # session capture ran no job either
    assert len(fan_jobs) == 1


def mapper_total(scope, arguments):
    yield MrConfigureToReturn()
    for _k, v in arguments:
        yield ("total", v)


def test_root_is_one_invocation_whatever_the_arrow_batch_size(spark):
    """More arguments than Arrow batch rows and than default partitions
    still reach the root's mapper as ONE invocation: one forensic
    record holding every argument, and one total (each extra
    invocation would add a 'total' pair)."""
    e = Engine(spark)
    e.create_workflow("wfb")
    e.register_handler("wfb", "total", fn=mapper_total, handler_type="mapper")
    e.register_handler("wfb", "sum", fn=reducer_sum, handler_type="reducer")
    e.create_step("wfb", "sb", "total", "sum")
    e.create_job("wfb", "jb", "sb")
    args = {f"a{i:02d}": i for i in range(64)}
    assert len(args) > spark.sparkContext.defaultParallelism

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        req = e.submit("wfb", "jb", args)
    finally:
        spark.conf.set(key, old)
    assert req.result["pairs"] == [["total", sum(args.values())]]
    roots = [r for r in req.trace.invocations if r.parent_inv is None]
    assert len(roots) == 1 and roots[0].n_args == 64
