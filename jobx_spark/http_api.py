"""HTTP API façade over the engine — the reference's primary user
surface, re-expressed on the stdlib server.

Parity targets:
  * ``POST /job/<workflow>/<job>[?blocking=true|false]`` with a JSON
    body ``{"arguments": {...}}`` → ``{"result": ...}`` plus
    ``X-MR-REQUEST-ID`` / ``X-FULFILLED-BY`` headers, exception type/
    message surfaced in ``X-MR-EXCEPTION-*`` headers on failure
    (reference: mr/views/job.py:33-121).
  * ``GET /request/<workflow>/<request_id>`` → the request's invocation
    graph. The reference renders Graphviz PNG (mr/views/request.py:15-26,
    mr/trace.py:170-334); no ``dot`` binary exists in this environment,
    so the graph is served as DOT source (``text/vnd.graphviz``) with
    the traced step sequence — same information, renderable anywhere.
  * ``GET /`` index banner (mr/views/index.py:7-9).

Threaded stdlib ``http.server``: each HTTP request runs on its own
thread and calls straight into :class:`jobx_spark.engine.Engine`; Spark
is thread-safe for concurrent job submission (scheduler pools), so
blocking submits from multiple clients interleave exactly as the
reference's gevent workers did. A production deployment would front
this with a real WSGI/ASGI server — the HTTP *contract* is what's kept.
"""

from __future__ import annotations

import json
import socket
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from jobx_spark.engine import Engine

_HOSTNAME = socket.gethostname()


class _Handler(BaseHTTPRequestHandler):
    engine: Engine  # set by server factory

    # quiet the default stderr access log (tests run many requests)
    def log_message(self, fmt, *args):  # noqa: D102
        pass

    # ---------------------------------------------------------- helpers

    def _send_json(self, code: int, payload: dict, headers: dict | None = None):
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.send_header("X-FULFILLED-BY", _HOSTNAME)
        for k, v in (headers or {}).items():
            if v is not None:
                self.send_header(k, str(v).replace("\n", " ")[:512])
        self.end_headers()
        self.wfile.write(body)

    def _send_text(self, code: int, text: str, mimetype: str = "text/plain"):
        body = text.encode()
        self.send_response(code)
        self.send_header("Content-Type", mimetype)
        self.send_header("Content-Length", str(len(body)))
        self.send_header("X-FULFILLED-BY", _HOSTNAME)
        self.end_headers()
        self.wfile.write(body)

    # ------------------------------------------------------------ routes

    def _route(self):
        """(parsed url, decoded path segments). The path is split BEFORE
        unquoting so a %2F inside a name can't inject a path separator;
        each segment then decodes independently."""
        url = urlparse(self.path)
        return url, [unquote(p) for p in url.path.split("/") if p]

    def _request(self, workflow_name: str, request_id: str):
        """The workflow's request, or None after answering 404."""
        try:
            return self.engine.get_request(workflow_name, request_id)
        except KeyError:
            self._send_json(
                404,
                {"error": f"unknown request {request_id} in workflow {workflow_name}"},
            )
            return None

    def do_GET(self):  # noqa: N802 - http.server API
        url, parts = self._route()
        if not parts:
            self._send_text(200, "Map me. Reduce me.\n")
            return
        if parts[0] == "request" and len(parts) == 3:
            if "format=flat" in (url.query or ""):
                self._get_invocation_flat_list(parts[1], parts[2])
            else:
                self._get_request_graph(parts[1], parts[2])
            return
        if parts[0] == "result" and len(parts) == 3:
            self._get_result(parts[1], parts[2])
            return
        if parts[0] == "sessions" and len(parts) == 3:
            self._get_sessions(parts[1], parts[2])
            return
        if parts[0] == "requests" and len(parts) == 2:
            self._list_requests(parts[1])
            return
        if parts[0] == "invocation" and len(parts) == 3:
            self._get_invocation(parts[1], parts[2])
            return
        if parts[0] == "ui" and len(parts) >= 2 and parts[1] == "job":
            if len(parts) == 2:
                self._ui_job_browser()
                return
            if len(parts) == 4:
                self._ui_job_submit(parts[2], parts[3])
                return
        self._send_json(404, {"error": f"no route for GET {url.path}"})

    # ------------------------------------------------------------ HTML UI
    # The reference serves an HTML submit UI under /ui/job
    # (mr/views/ui/job.py:13-19: url_prefix='/ui/job', GET
    # /<workflow>/<job> renders templates/ui/job/submit.html, GET /
    # renders submit_navigate.html). Same two routes here; where the
    # reference's template is a placeholder ("Submit!"), this form is
    # functional: one input per declared mapper argument (the
    # argument_spec contract, mr/models/kv/handler.py:49-69), POSTed
    # as the same JSON body the API route takes.

    _UI_CSS = (
        "body{font-family:sans-serif;margin:2em;max-width:40em}"
        "label{display:block;margin:.5em 0 .1em}"
        "input{width:100%}pre{background:#f4f4f4;padding:1em}"
    )

    def _ui_job_browser(self):
        import html
        from urllib.parse import quote

        rows = []
        for wf in self.engine.catalog.list_workflows():
            for job in self.engine.catalog.list_jobs(wf.name):
                w, j = html.escape(wf.name), html.escape(job.name)
                # hrefs need URL-encoding (quote, safe='') on top of the
                # HTML-escaping used for display text: a name holding
                # '/', '?', '#', '%' or a space would otherwise produce
                # a broken link or route to the wrong path [ADVICE r6]
                wq = html.escape(quote(wf.name, safe=""))
                jq = html.escape(quote(job.name, safe=""))
                rows.append(
                    f'<li><a href="/ui/job/{wq}/{jq}">{w} / {j}</a>'
                    f" — {html.escape(job.description or '')}</li>"
                )
        self._send_text(
            200,
            "<!doctype html><html><head><title>Jobs</title>"
            f"<style>{self._UI_CSS}</style></head><body>"
            "<h1>Submit a job</h1><ul>"
            + ("".join(rows) or "<li>(no jobs registered)</li>")
            + "</ul></body></html>",
            "text/html",
        )

    def _ui_job_submit(self, workflow_name: str, job_name: str):
        import html
        from urllib.parse import quote

        try:
            job = self.engine.catalog.get_job(workflow_name, job_name)
            step = self.engine.catalog.get_step(
                workflow_name, job.initial_step_name
            )
            mapper = self.engine.catalog.get_handler(
                workflow_name, step.map_handler_name
            )
        except Exception as e:  # unknown workflow/job → 404 like the API
            self._send_json(404, {"error": str(e)})
            return
        w, j = html.escape(workflow_name), html.escape(job_name)
        # form action is a URL: percent-encode the path segments so
        # reserved characters in names can't re-route the POST
        wq = html.escape(quote(workflow_name, safe=""))
        jq = html.escape(quote(job_name, safe=""))
        fields = "".join(
            f'<label>{html.escape(name)} ({html.escape(typ)})</label>'
            f'<input name="{html.escape(name)}" data-type="{html.escape(typ)}">'
            for name, typ in mapper.argument_spec
        )
        script = """
<script>
document.querySelector('form').addEventListener('submit', async (ev) => {
  ev.preventDefault();
  const args = {};
  for (const inp of document.querySelectorAll('input[name]')) {
    const t = inp.dataset.type, v = inp.value;
    args[inp.name] = (t === 'int' || t === 'float') ? Number(v)
        : (t === 'list' || t === 'dict' || t === 'bool') ? JSON.parse(v) : v;
  }
  const resp = await fetch(document.querySelector('form').action, {
    method: 'POST', headers: {'Content-Type': 'application/json'},
    body: JSON.stringify({arguments: args})});
  document.querySelector('pre').textContent = await resp.text();
});
</script>"""
        self._send_text(
            200,
            "<!doctype html><html><head>"
            f"<title>Submit {w}/{j}</title>"
            f"<style>{self._UI_CSS}</style></head><body>"
            f"<h1>{w} / {j}</h1>"
            f"<p>{html.escape(job.description or '')}</p>"
            f'<form action="/job/{wq}/{jq}?blocking=true" method="post">'
            f"{fields}<p><button>Submit</button></p></form>"
            "<h2>Result</h2><pre>(none yet)</pre>"
            f"{script}</body></html>",
            "text/html",
        )

    def _list_requests(self, workflow_name: str):
        """Request registry listing — the shell's entry point into the
        read-side (the reference walks the request KV range)."""
        self._send_json(
            200,
            {
                "workflow": workflow_name,
                "requests": [
                    {
                        "request_id": r.request_id,
                        "job": r.job_name,
                        "is_done": r.is_done,
                        "error": r.error,
                        "created_at": r.created_at,
                    }
                    for r in self.engine.list_requests(workflow_name)
                ],
            },
        )

    def _get_invocation(self, workflow_name: str, invocation_id: str):
        """One invocation entity by id (reference: mr_kv_invocation_get,
        mr/models/kv/invocation.py) — searched across the workflow's
        traced requests; id prefixes are accepted like git short ids."""
        try:
            req, rec = self.engine.find_invocation(workflow_name, invocation_id)
        except KeyError:
            self._send_json(
                404, {"error": f"unknown invocation {invocation_id}"}
            )
            return
        self._send_json(
            200,
            {
                "request_id": req.request_id,
                "invocation": rec.inv,
                "parent": rec.parent_inv,
                "step": rec.step,
                "depth": rec.depth,
                "n_args": rec.n_args,
                "n_mapped": rec.n_mapped,
                "n_reduced": rec.n_reduced,
                "arg_sample": [list(kv) for kv in rec.arg_sample],
            },
        )

    def _get_sessions(self, workflow_name: str, request_id: str):
        """Sessions stored under a request's invocations (reference:
        mr_get_request_sessions over the SessionsTree). Fan-out-path
        sessions, capped like invocation forensics."""
        request = self._request(workflow_name, request_id)
        if request is None:
            return
        trace = request.trace
        self._send_json(
            200,
            {
                "request_id": request.request_id,
                "sessions": [
                    {"invocation": inv, "step": step, "key": k, "value": v}
                    for inv, step, k, v in (trace.sessions if trace else [])
                ],
                "truncated": bool(trace and trace.sessions_truncated),
            },
        )

    def _get_result(self, workflow_name: str, request_id: str):
        """Async-flow polling: the request's completion state and (when
        finished) its result envelope. The reference delivers async
        results only through result writers; polling is the natural
        HTTP companion and costs nothing (driver-side state lookup)."""
        request = self._request(workflow_name, request_id)
        if request is None:
            return
        self._send_json(
            200,
            {
                "request_id": request.request_id,
                "is_done": request.is_done,
                "error": request.error,
                "failed_invocation_id": request.failed_invocation_id,
                "result": request.result if request.is_done else None,
            },
        )

    def do_DELETE(self):  # noqa: N802 - http.server API
        url, parts = self._route()
        if parts and parts[0] == "request" and len(parts) == 3:
            self._delete_request(parts[1], parts[2])
            return
        self._send_json(404, {"error": f"no route for DELETE {url.path}"})

    def _delete_request(self, workflow_name: str, request_id: str):
        """Drop a finished request from the serving engine's registry
        (reference: mr_kv_request_cleanup, setup.py:52 — the last
        reference script with user-facing semantics)."""
        try:
            request = self.engine.cleanup_request(workflow_name, request_id)
        except KeyError:
            self._send_json(404, {"error": f"unknown request {request_id}"})
            return
        except ValueError as e:
            self._send_json(409, {"error": str(e)})
            return
        self._send_json(
            200,
            {
                "deleted": request.request_id,
                "job": request.job_name,
                "was_done": request.is_done,
            },
        )

    def do_POST(self):  # noqa: N802 - http.server API
        url, parts = self._route()
        if parts and parts[0] == "job" and len(parts) == 3:
            qs = parse_qs(url.query)
            blocking = qs.get("blocking", ["true"])[0] == "true"
            self._post_job(parts[1], parts[2], blocking)
            return
        self._send_json(404, {"error": f"no route for POST {url.path}"})

    def _post_job(self, workflow_name: str, job_name: str, blocking: bool):
        try:
            length = int(self.headers.get("Content-Length") or 0)
            data = json.loads(self.rfile.read(length) or b"{}")
            if not isinstance(data.get("arguments"), dict):
                raise ValueError("No arguments given")
            request = self.engine.submit(
                workflow_name,
                job_name,
                data["arguments"],
                blocking=blocking,
                context={"requester_ip": self.client_address[0]},
                result_writer=data.get("result_writer", "inline"),
                writer_options=data.get("writer_options"),
            )
        except KeyError as e:
            self._send_json(
                404,
                {"error": str(e)},
                {"X-MR-EXCEPTION-TYPE": type(e).__name__,
                 "X-MR-EXCEPTION-MESSAGE": str(e)},
            )
            return
        except Exception as e:  # noqa: BLE001 - surfaced per reference contract
            self._send_json(
                500,
                {"error": str(e)},
                {"X-MR-EXCEPTION-TYPE": type(e).__name__,
                 "X-MR-EXCEPTION-MESSAGE": str(e)},
            )
            return
        result = (request.result or {}) if blocking else None
        self._send_json(
            200,
            {"result": result},
            {"X-MR-REQUEST-ID": request.request_id},
        )

    def _get_invocation_flat_list(self, workflow_name: str, request_id: str):
        """Flat invocation listing (reference:
        mr_get_invocation_flat_list prints every invocation row of a
        request) — same records the graph renders, as plain JSON."""
        request = self._request(workflow_name, request_id)
        if request is None:
            return
        trace = request.trace
        recs = trace.invocations if trace else []
        self._send_json(
            200,
            {
                "request_id": request.request_id,
                "invocations": [
                    {
                        "invocation": r.inv,
                        "parent": r.parent_inv,
                        "step": r.step,
                        "depth": r.depth,
                        "n_args": r.n_args,
                        "n_mapped": r.n_mapped,
                        "n_reduced": r.n_reduced,
                    }
                    for r in recs
                ],
                "truncated": bool(trace and trace.invocations_truncated),
            },
        )

    def _get_request_graph(self, workflow_name: str, request_id: str):
        from jobx_spark.trace import InvocationGraph

        request = self._request(workflow_name, request_id)
        if request is None:
            return
        steps = self.engine.catalog.list_steps(workflow_name)
        graph = InvocationGraph(
            request,
            map_handler_names={s.name: s.map_handler_name for s in steps},
            reduce_handler_names={s.name: s.reduce_handler_name for s in steps},
        )
        dot = graph.draw_graph()
        # PNG when Graphviz is installed (the reference's image
        # response, mr/views/request.py:22-26); DOT source otherwise.
        try:
            fmt, image = graph.get_image_data(dot)
        except (RuntimeError, ValueError):
            self._send_text(200, dot + "\n", mimetype="text/vnd.graphviz")
            return
        body = image
        self.send_response(200)
        self.send_header("Content-Type", f"image/{fmt}")
        self.send_header("Content-Length", str(len(body)))
        self.send_header("X-FULFILLED-BY", _HOSTNAME)
        self.end_headers()
        self.wfile.write(body)


class JobxHttpServer:
    """Engine-backed HTTP server. ``port=0`` binds an ephemeral port
    (read it back from ``.port`` — how the tests run hermetically)."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1", port: int = 0):
        handler = type("BoundHandler", (_Handler,), {"engine": engine})
        self._httpd = ThreadingHTTPServer((host, port), handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "JobxHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="jobx-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)


class NotificationListener:
    """Notification sink for the handler-scope HTTP log hook —
    reference parity with `mr_http_notification_listen`
    (mr/resources/scripts): accepts python ``logging.HTTPHandler``
    POSTs (form-encoded log-record dicts, what the ``HTTP`` scope
    logger emits when ``JOBX_LOG_HTTP_HOOK`` is on) and prints
    ``timestamp  logger-name  LEVEL  message`` lines. Records are also
    kept on ``.records`` so tests and tooling can assert delivery."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0, out=None):
        import sys

        listener = self
        out = out or sys.stdout
        self.records: list[dict] = []

        class _NotifyHandler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):
                pass

            def do_POST(self):  # noqa: N802 - http.server API
                import datetime

                length = int(self.headers.get("Content-Length", 0))
                entry = parse_qs(self.rfile.read(length).decode())
                rec = {
                    "created": float(entry.get("created", ["0"])[0]),
                    "name": entry.get("name", ["?"])[0],
                    "levelname": entry.get("levelname", ["?"])[0],
                    "msg": entry.get("msg", [""])[0],
                }
                listener.records.append(rec)
                when = datetime.datetime.fromtimestamp(rec["created"])
                print(
                    f"{when.strftime('%Y-%m-%d %H:%M:%S')}  "
                    f"{rec['name'][:40]:<40}  {rec['levelname']:>9}  "
                    f"{rec['msg']}",
                    file=out,
                    flush=True,
                )
                self.send_response(200)
                self.send_header("Content-Type", "text/plain")
                self.end_headers()

        self._httpd = ThreadingHTTPServer((host, port), _NotifyHandler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "NotificationListener":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="jobx-notify", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)
