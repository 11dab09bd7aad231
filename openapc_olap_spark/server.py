"""Slicer-compatible HTTP façade (SURVEY.md §3.1-3.2; reference contract:
HOWTO.md:31-104, olap_server.py:1-14, slicer.ini, info.json).

A dependency-free WSGI app (stdlib ``wsgiref`` runs it; any WSGI container
can host it) exposing the reference's API over the Spark-backed QueryEngine:

    GET /info                       server info document (info.json shape)
    GET /cubes                      [{name, label}]            (HOWTO.md:31-33)
    GET /cube/<c>/model             cube model JSON            (HOWTO.md:69-71)
    GET /cube/<c>/facts             rows; cut/order/page/pagesize; format=csv
    GET /cube/<c>/aggregate         {summary, cells, total_cell_count}
    GET /cube/<c>/members/<dim>     distinct dimension values
    GET /cube/<c>/fact/<id>         single fact by stable id
    GET /cube/<c>/cell              cut echo + summary

Responses carry CORS (olap_server.py:4,8) and respect the hard 500-row cap
(slicer.ini:6). A request naming anything its cube does not declare, or a
negative page, is a 400 JSON error before any plan is built. The Spark
driver is the web process; executors do the work —
the same topology as the reference's server→PostgreSQL split (SURVEY.md §3.1).

``serve`` runs each request on its own thread. At most
``2 × sparkContext.defaultParallelism`` requests are in flight; one more is
answered ``503`` with a JSON error at once, never queued. Each request runs
in its own Spark job group, named by its ``X-Request-Id`` header verbatim
(or a generated id), so its jobs can be told apart and cancelled. A request
still running after ``REQUEST_DEADLINE_S`` has that group cancelled and is
answered ``503`` "deadline exceeded". Any other failure is a ``500`` JSON
error naming the exception type; its traceback goes to stderr with the
request id, never to the client.

A request's py4j proxies form reference cycles that pin its Catalyst plans in
the JVM until Python runs a full collection, so every request that plans
ends with ``gc.collect()``. ``serve`` freezes the set-up's objects first
(``gc.freeze``), which keeps that collection under a millisecond.

Answer cache. Every ``200`` answer (its encoded body and content type) is
kept in an LRU owned by the ``SlicerApp``, keyed by the request path and
its sorted first-value query parameters: the endpoint, cube, member
dimension or fact id, ``cut``, ``drilldown``, ``order``, ``page``,
``pagesize`` and ``format``, i.e. everything an answer depends on. The key
is the URL, not the ``QuerySpec``: a spec leaves out the endpoint and the
format, and the treemap site's repeats are byte-identical URLs. The sum of
the stored bodies stays within ``ANSWER_CACHE_BYTES``; there is no TTL. A
hit is looked up after the request takes its slot (so "server busy" still
holds) and before its job group and deadline timer: it makes no py4j
call, starts no thread and runs no Spark job. ``4xx``, ``500`` and ``503``
answers are never stored. The cache lives and dies with the app, whose
views ``serve`` registers once at set-up; a load written in place under a
running server stays unsupported, as before. When ``serve`` can switch
to a newly published cube version, that version joins the key.
"""

from __future__ import annotations

import csv
import gc
import io
import json
import socketserver
import sys
import threading
import traceback
import uuid
from collections import OrderedDict
from urllib.parse import parse_qs
from wsgiref.simple_server import WSGIServer
from wsgiref.simple_server import make_server as _make_server

from pyspark.errors import AnalysisException

from openapc_olap_spark.model import Cube
from openapc_olap_spark.query import JSON_RECORD_LIMIT, QueryEngine, QuerySpec

INFO = {"api_version": 2, "authentication": "none",
        "json_record_limit": JSON_RECORD_LIMIT}

# Kept below the 120 s HTTP timeout of slicer clients (perfbench/run.py).
REQUEST_DEADLINE_S = 60.0

# Bound on the summed body bytes the answer cache holds.
ANSWER_CACHE_BYTES = 64 * 2**20


class HttpError(Exception):
    def __init__(self, status: str, message: str):
        super().__init__(message)
        self.status = status


class AnswerCache:
    """Thread-safe LRU of ``200`` answers, ``key -> (body, content_type)``,
    whose bodies sum to at most ``ANSWER_CACHE_BYTES``."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._answers: OrderedDict[tuple, tuple[bytes, str]] = OrderedDict()
        self.bytes = 0

    def get(self, key: tuple) -> tuple[bytes, str] | None:
        with self._lock:
            answer = self._answers.get(key)
            if answer is not None:
                self._answers.move_to_end(key)
            return answer

    def put(self, key: tuple, answer: tuple[bytes, str]) -> None:
        if len(answer[0]) > ANSWER_CACHE_BYTES:
            return
        with self._lock:
            old = self._answers.pop(key, None)
            if old is not None:
                self.bytes -= len(old[0])
            self._answers[key] = answer
            self.bytes += len(answer[0])
            while self.bytes > ANSWER_CACHE_BYTES:
                _, (body, _) = self._answers.popitem(last=False)
                self.bytes -= len(body)


class SlicerApp:
    """WSGI callable implementing the slicer API over a QueryEngine."""

    def __init__(self, engine: QueryEngine) -> None:
        self.engine = engine
        self.registry = engine.registry
        self._sc = engine.spark.sparkContext
        self._slots = threading.BoundedSemaphore(
            2 * self._sc.defaultParallelism)
        self.answers = AnswerCache()

    # -- WSGI plumbing ------------------------------------------------------

    def __call__(self, environ, start_response):
        rid = environ.get("HTTP_X_REQUEST_ID") or uuid.uuid4().hex
        if self._slots.acquire(blocking=False):
            try:
                path = environ.get("PATH_INFO", "/")
                params = {k: v[0] for k, v in
                          parse_qs(environ.get("QUERY_STRING", "")).items()}
                key = (path, tuple(sorted(params.items())))
                cached = self.answers.get(key)
                if cached is not None:
                    status, (body, content_type) = "200 OK", cached
                else:
                    try:
                        status, body, content_type = self._answer(
                            path, params, rid)
                    finally:
                        gc.collect()
                    if status == "200 OK":
                        self.answers.put(key, (body, content_type))
            finally:
                self._slots.release()
        else:
            status, body, content_type = _error(
                "503 Service Unavailable", "server busy: too many requests")
        start_response(status, [
            ("Content-Type", content_type),
            ("Content-Length", str(len(body))),
            ("Access-Control-Allow-Origin", "*"),
        ])
        return [body]

    def _answer(self, path: str, params: dict,
                rid: str) -> tuple[str, bytes, str]:
        """Route one request in its own Spark job group, cancelled when the
        request outlives ``REQUEST_DEADLINE_S``."""
        # thread-local under PySpark's pinned-thread mode
        self._sc.setJobGroup(rid, path)
        expired = threading.Event()

        def expire():
            expired.set()
            self._sc.cancelJobGroup(rid)

        timer = threading.Timer(REQUEST_DEADLINE_S, expire)
        timer.daemon = True
        timer.start()
        try:
            return ("200 OK", *self._route(path, params))
        except HttpError as e:
            return _error(e.status, str(e))
        except KeyError as e:
            return _error("404 Not Found", f"not found: {e}")
        except Exception as e:
            if expired.is_set():
                return _error("503 Service Unavailable",
                              f"deadline exceeded ({REQUEST_DEADLINE_S:g} s)")
            # a registered cube whose table the load never wrote
            if (isinstance(e, AnalysisException)
                    and e.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"):
                return _error("404 Not Found",
                              f"cube has no loaded data: {path!r}")
            sys.stderr.write(f"request {rid} failed: {path}\n"
                             f"{traceback.format_exc()}")
            return _error("500 Internal Server Error",
                          f"internal error: {type(e).__name__} "
                          f"(request {rid})")
        finally:
            timer.cancel()

    # -- routing ------------------------------------------------------------

    def _route(self, path: str, q: dict) -> tuple[bytes, str]:
        parts = [p for p in path.split("/") if p]
        if parts == ["info"]:
            return self._json(INFO)
        if parts == ["cubes"]:
            return self._json(self.registry.list_cubes())
        if len(parts) >= 3 and parts[0] == "cube":
            if parts[1] not in self.registry:
                raise HttpError("404 Not Found", f"unknown cube {parts[1]!r}")
            cube = self.registry.get(parts[1])
            handler = {
                "model": self._model, "facts": self._facts,
                "aggregate": self._aggregate, "cell": self._cell_info,
            }.get(parts[2])
            if handler and len(parts) == 3:
                return handler(cube, q)
            if parts[2] == "members" and len(parts) == 4:
                return self._members(cube, parts[3], q)
            if parts[2] == "fact" and len(parts) == 4:
                return self._fact(cube, parts[3])
        raise HttpError("404 Not Found", f"no route for {path!r}")

    @staticmethod
    def _json(obj) -> tuple[bytes, str]:
        return json.dumps(obj, default=str).encode(), "application/json"

    @staticmethod
    def _csv(rows: list[dict], fieldnames: list[str]) -> tuple[bytes, str]:
        buf = io.StringIO()
        writer = csv.DictWriter(buf, fieldnames=fieldnames)
        writer.writeheader()
        writer.writerows(rows)
        return buf.getvalue().encode(), "text/csv"

    def _spec(self, cube: Cube, q: dict, facts: bool = False) -> QuerySpec:
        """Parse a request and check every name it uses against the cube."""
        try:
            spec = QuerySpec.from_params(
                cube.name, cut=q.get("cut"), drilldown=q.get("drilldown"),
                order=q.get("order"), page=q.get("page"),
                pagesize=q.get("pagesize"))
        except Exception as e:
            raise HttpError("400 Bad Request", f"bad query: {e}") from e
        if min(spec.page or 0, spec.pagesize or 0) < 0:
            raise HttpError("400 Bad Request",
                            "bad query: page and pagesize must be >= 0")
        dims = set(cube.dimensions)
        orderable = ({*dims, *cube.measures, cube.fact_id} if facts else
                     {*spec.drilldown, *(a.name for a in cube.aggregates)})
        for kind, names, allowed in (
                ("cut dimension", [c.dim for c in spec.cuts], dims),
                ("drilldown dimension", spec.drilldown, dims),
                ("order field", [t.field for t in spec.order], orderable)):
            for n in names:
                if n not in allowed:
                    raise HttpError("400 Bad Request",
                                    f"bad query: unknown {kind} {n!r}")
        return spec

    # -- endpoints ----------------------------------------------------------

    def _model(self, cube: Cube, q: dict) -> tuple[bytes, str]:
        return self._json(cube.to_model_dict())

    def _facts(self, cube: Cube, q: dict) -> tuple[bytes, str]:
        df = self.engine.facts(self._spec(cube, q, facts=True))
        rows = [r.asDict() for r in df.collect()]
        if q.get("format") == "csv":                       # S7 CSV export
            return self._csv(rows, df.columns)
        return self._json(rows)

    def _aggregate(self, cube: Cube, q: dict) -> tuple[bytes, str]:
        spec = self._spec(cube, q)
        env = self.engine.aggregate_envelope(spec)
        env["cell"] = [c.to_string() for c in spec.cuts]
        env["drilldown"] = list(spec.drilldown)
        if q.get("format") == "csv":
            # cubes' slicer serves aggregate CSV as the drilldown cells
            # (or the lone summary row when there is no drilldown)
            return self._csv(
                env["cells"] if spec.drilldown else [env["summary"]],
                [*spec.drilldown, *(a.name for a in cube.aggregates)])
        return self._json(env)

    def _members(self, cube: Cube, dim: str, q: dict) -> tuple[bytes, str]:
        spec = self._spec(cube, q)
        try:
            df = self.engine.members(cube.name, dim, spec.page, spec.pagesize)
        except ValueError as e:        # unknown dimension
            raise HttpError("404 Not Found", str(e)) from e
        return self._json([r[dim] for r in df.collect()])

    def _fact(self, cube: Cube, fact_id: str) -> tuple[bytes, str]:
        value: object = fact_id
        # fact ids are stable row numbers / integer keys where declared
        if fact_id.lstrip("-").isdigit():
            value = int(fact_id)
        try:
            rows = [r.asDict()
                    for r in self.engine.fact(cube.name, value).collect()]
        except ValueError as e:        # cube declares no fact_id column
            raise HttpError("404 Not Found", str(e)) from e
        if not rows:
            raise HttpError("404 Not Found", f"no fact {fact_id!r}")
        return self._json(rows[0])

    def _cell_info(self, cube: Cube, q: dict) -> tuple[bytes, str]:
        spec = self._spec(cube, q)
        env = self.engine.aggregate_envelope(
            QuerySpec(cube=cube.name, cuts=spec.cuts))
        return self._json({
            "cube": cube.name,
            "cell": [c.to_string() for c in spec.cuts],
            "summary": env["summary"],
        })


def _error(status: str, message: str) -> tuple[str, bytes, str]:
    return status, json.dumps({"error": message}).encode(), "application/json"


class ThreadingWSGIServer(socketserver.ThreadingMixIn, WSGIServer):
    """``wsgiref``'s server with a thread per request; ``SlicerApp`` bounds
    how many are in flight."""

    daemon_threads = True


def make_server(app: SlicerApp, host: str, port: int) -> ThreadingWSGIServer:
    return _make_server(host, port, app, server_class=ThreadingWSGIServer)


def serve(app: SlicerApp, host: str = "127.0.0.1", port: int = 5000) -> None:
    """Dev server (reference runs Flask's; production would front the WSGI
    app the same way openapc-olap.wsgi fronts the slicer)."""
    with make_server(app, host, port) as srv:
        # set-up is done: keep its objects out of every per-request collection
        gc.collect()
        gc.freeze()
        srv.serve_forever()
