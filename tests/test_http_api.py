"""HTTP façade e2e: submit jobs over HTTP (blocking + async) against a
live engine and fetch the invocation graph — the reference's primary
user surface (mr/views/job.py:33, mr/views/request.py:15)."""

import json
import urllib.error
import urllib.request

import pytest

from jobx_spark.engine import Engine
from jobx_spark.handlers import MrConfigureToReturn
from jobx_spark.http_api import JobxHttpServer


def _mapper_double(scope, arguments):
    yield MrConfigureToReturn()
    for k, v in arguments:
        yield (k, v * 2)


def _reducer_noop(scope, results):
    for pair in results:
        yield pair


@pytest.fixture(scope="module")
def server(spark):
    e = Engine(spark)
    e.create_workflow("wfh")
    e.register_handler("wfh", "dbl", fn=_mapper_double, handler_type="mapper",
                       argument_spec=[("arg1", "int")])
    e.register_handler("wfh", "noop", fn=_reducer_noop, handler_type="reducer")
    e.create_step("wfh", "s1", "dbl", "noop")
    e.create_job("wfh", "j1", "s1")
    srv = JobxHttpServer(e).start()
    yield srv
    srv.stop()


def _post(url, payload, timeout=120):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
    )
    resp = urllib.request.urlopen(req, timeout=timeout)
    return resp, json.loads(resp.read())


def test_index_banner(server):
    with urllib.request.urlopen(server.url + "/") as resp:
        assert resp.status == 200
        assert b"Reduce me" in resp.read()


def test_blocking_job_submit_returns_result(server):
    resp, body = _post(server.url + "/job/wfh/j1", {"arguments": {"arg1": 21}})
    assert resp.status == 200
    # noop reducer passes the grouped value-list through: 21*2 → [42]
    assert body["result"]["pairs"] == [["arg1", [42]]]
    assert resp.headers["X-MR-REQUEST-ID"]
    assert resp.headers["X-FULFILLED-BY"]


def test_async_submit_then_fetch_trace(server):
    resp, body = _post(
        server.url + "/job/wfh/j1?blocking=false", {"arguments": {"arg1": 5}}
    )
    assert resp.status == 200
    assert body["result"] is None
    rid = resp.headers["X-MR-REQUEST-ID"]
    assert rid

    # the async run records its trace; poll the graph endpoint
    import time

    deadline = time.time() + 120
    dot = ""
    while time.time() < deadline:
        with urllib.request.urlopen(f"{server.url}/request/wfh/{rid}") as g:
            assert g.status == 200
            assert g.headers["Content-Type"].startswith("text/vnd.graphviz")
            dot = g.read().decode()
        if "MI " in dot:  # invocation records landed (not just step events)
            break
        time.sleep(0.2)
    assert "digraph request" in dot
    assert '"s1"' in dot
    # invocation-level forensics: reference-shaped header chain, nodes
    # labelled with step/handler/invocation id and dataset counts
    assert 'Q -> W [label="resolve workflow"]' in dot
    assert 'S "s1" H "dbl" MI ' in dot
    assert "args=" in dot and "mapped=" in dot and "reduced=" in dot


def test_unknown_job_is_4xx_5xx_with_exception_headers(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/job/wfh/nope", {"arguments": {"arg1": 1}})
    err = exc_info.value
    assert err.code in (404, 500)
    assert err.headers["X-MR-EXCEPTION-TYPE"]


def test_missing_arguments_rejected(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        _post(server.url + "/job/wfh/j1", {})
    assert exc_info.value.code == 500
    assert "arguments" in json.loads(exc_info.value.read())["error"].lower()


def test_unknown_request_graph_404(server):
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(server.url + "/request/wfh/deadbeef")
    assert exc_info.value.code == 404


def test_request_of_another_workflow_is_404_on_every_route(server):
    """A request id read under a workflow it does not belong to is
    unknown there: 404 on the graph, flat list, result, sessions and
    DELETE routes, and the DELETE leaves the request in place."""
    resp, _ = _post(server.url + "/job/wfh/j1", {"arguments": {"arg1": 2}})
    rid = resp.headers["X-MR-REQUEST-ID"]
    for path in (
        f"/request/other/{rid}",
        f"/request/other/{rid}?format=flat",
        f"/result/other/{rid}",
        f"/sessions/other/{rid}",
    ):
        with pytest.raises(urllib.error.HTTPError) as exc_info:
            urllib.request.urlopen(server.url + path)
        assert exc_info.value.code == 404, path
    delete = urllib.request.Request(
        f"{server.url}/request/other/{rid}", method="DELETE"
    )
    with pytest.raises(urllib.error.HTTPError) as exc_info:
        urllib.request.urlopen(delete)
    assert exc_info.value.code == 404
    with urllib.request.urlopen(f"{server.url}/result/wfh/{rid}") as r:
        assert json.loads(r.read())["is_done"] is True


def test_cli_serve_over_saved_catalog(spark, tmp_path):
    """The CLI's serve path: a catalog built via the CRUD surface and
    saved to JSON comes back up behind the HTTP façade; a job submitted
    over the wire runs against it (reference: gunicorn launchers in
    setup.py + mr/app/main.py wiring)."""
    from jobx_spark.catalog import Catalog
    from jobx_spark.cli import serve

    src_mapper = '''
"""double each argument.
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
    cat = Catalog()
    cat.create_workflow("wfs", "served")
    from jobx_spark.catalog import Handler
    from jobx_spark.handlers import parse_docstring_metadata

    for name, src in (("dbl", src_mapper), ("tot", src_reducer)):
        meta = parse_docstring_metadata(src)
        cat.register_handler(Handler(
            workflow_name="wfs", name=name, handler_type=meta["handler_type"],
            source_code=src, argument_spec=meta["argument_spec"],
        ))
    cat.create_step("wfs", "s1", "dbl", "tot")
    cat.create_job("wfs", "j1", "s1")
    path = str(tmp_path / "cat.json")
    cat.save(path)

    srv = serve(Catalog.load(path), port=0)
    try:
        resp, body = _post(srv.url + "/job/wfs/j1", {"arguments": {"arg1": 7}})
        assert resp.status == 200
        assert body["result"]["pairs"] == [["arg1", 14]]
    finally:
        srv.stop()


def test_async_result_polling(server):
    """Submit async, poll GET /result until done, read the envelope."""
    import time

    resp, body = _post(
        server.url + "/job/wfh/j1?blocking=false", {"arguments": {"arg1": 4}}
    )
    rid = resp.headers["X-MR-REQUEST-ID"]
    deadline = time.time() + 120
    state = {}
    while time.time() < deadline:
        with urllib.request.urlopen(f"{server.url}/result/wfh/{rid}") as g:
            state = json.loads(g.read())
        if state["is_done"]:
            break
        time.sleep(0.2)
    assert state["is_done"] is True
    assert state["error"] is None
    assert state["result"]["pairs"] == [["arg1", [8]]]


def test_concurrent_blocking_submits(server):
    """Eight clients submit blocking jobs simultaneously: Spark
    schedules the jobs concurrently (FAIR-ish interleave on local),
    and every response carries its own request's correct result —
    no cross-request state bleed in the engine or the HTTP layer."""
    import concurrent.futures

    def one(i):
        resp, body = _post(
            server.url + "/job/wfh/j1", {"arguments": {"arg1": i}}, timeout=300
        )
        return i, resp.status, body["result"]["pairs"]

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(one, range(3, 11)))
    for i, status, pairs in results:
        assert status == 200
        assert pairs == [["arg1", [i * 2]]], f"wrong result for arg {i}"


def test_sessions_endpoint(server):
    """GET /sessions/<wf>/<rid>: sessions listing for a request
    (mr_get_request_sessions parity); empty-but-valid for a
    single-step job that writes none, 404 for unknown requests."""
    resp, body = _post(server.url + "/job/wfh/j1", {"arguments": {"arg1": 3}})
    rid = resp.headers["X-MR-REQUEST-ID"]
    with urllib.request.urlopen(server.url + f"/sessions/wfh/{rid}") as r:
        got = json.loads(r.read())
    assert r.status == 200
    assert got["request_id"] == rid
    assert got["sessions"] == [] and got["truncated"] is False
    try:
        urllib.request.urlopen(server.url + "/sessions/wfh/nope")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_invocation_flat_list(server):
    """GET /request/<wf>/<rid>?format=flat: flat invocation rows
    (mr_get_invocation_flat_list parity) from the same records the
    graph renders."""
    resp, body = _post(server.url + "/job/wfh/j1", {"arguments": {"arg1": 4}})
    rid = resp.headers["X-MR-REQUEST-ID"]
    with urllib.request.urlopen(
        server.url + f"/request/wfh/{rid}?format=flat"
    ) as r:
        got = json.loads(r.read())
    assert r.status == 200
    assert got["request_id"] == rid
    assert got["invocations"], "expected at least the root invocation"
    row = got["invocations"][0]
    assert set(row) == {
        "invocation", "parent", "step", "depth",
        "n_args", "n_mapped", "n_reduced",
    }
    assert row["step"] == "s1"


def test_ui_job_browser_lists_jobs(server):
    """Reference parity: GET /ui/job/ (mr/views/ui/job.py:17-19 renders
    submit_navigate.html) — the browser page links every catalog job."""
    with urllib.request.urlopen(server.url + "/ui/job/") as resp:
        assert resp.status == 200
        assert resp.headers["Content-Type"].startswith("text/html")
        body = resp.read().decode()
    assert '/ui/job/wfh/j1' in body


def test_ui_job_submit_form_renders_argument_spec(server):
    """Reference parity: GET /ui/job/<wf>/<job> (mr/views/ui/job.py:13-15
    renders submit.html) — our form is functional: one input per
    declared mapper argument, POSTing the API's JSON contract."""
    with urllib.request.urlopen(server.url + "/ui/job/wfh/j1") as resp:
        assert resp.status == 200
        body = resp.read().decode()
    assert 'name="arg1"' in body and 'data-type="int"' in body
    assert '/job/wfh/j1?blocking=true' in body  # posts to the API route


def test_ui_job_unknown_job_404(server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(server.url + "/ui/job/wfh/nope")
    assert ei.value.code == 404
