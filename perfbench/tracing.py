"""Spans and Spark counters around the program's public calls (traced runs).

The program is not edited: ``Tracer.install`` wraps public methods of its
classes (and of ``DataFrame``/``DataFrameWriter``) from here. Spans are kept
in memory as ``[name, start_ns, end_ns, parent_index, request_id]`` and
written out when the worker exits. Each request runs in its own Spark job
group (its request id); job, stage and byte counts are read from Spark's
status store after serving ends, when the listener bus has drained and no
request is slowed by the reads.
"""

from __future__ import annotations

import functools
import os
import threading
import time

from openapc_olap_spark.etl.openapc import OpenAPCPipeline
from openapc_olap_spark.query import QueryEngine
from openapc_olap_spark.server import SlicerApp
from pyspark.sql import DataFrameWriter
# the classic (non-Connect) implementation, which defines collect/count
from pyspark.sql.classic.dataframe import DataFrame

# Status-store retention large enough that no job of a traced run is
# evicted before its counters are read at exit.
TRACE_CONFS = {"spark.ui.retainedJobs": "1000000",
               "spark.ui.retainedStages": "1000000"}

_WRAPPED = [
    (SlicerApp, "__call__"),
    (QueryEngine, "facts"), (QueryEngine, "cells"),
    (QueryEngine, "aggregate_envelope"), (QueryEngine, "members"),
    (QueryEngine, "fact"),
    (DataFrame, "collect"), (DataFrame, "count"),
    (OpenAPCPipeline, "build_all"), (OpenAPCPipeline, "write"),
    (OpenAPCPipeline, "institutional_manifest"),
    (OpenAPCPipeline, "check_validations"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[list] = []
        self.groups: list[str] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _begin(self, name: str, rid: str | None = None) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else -1
        if rid is None and parent >= 0:
            rid = self.spans[parent][4]
        with self._lock:
            self.spans.append([name, time.perf_counter_ns(), 0, parent, rid])
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def _end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter_ns()
        self._stack().pop()

    def span(self, name: str, rid: str | None = None):
        """Context manager for a span; children inherit its request id."""
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = tracer._begin(name, rid)

            def __exit__(self, *exc):
                tracer._end(self.idx)
        return _Span()

    def _wrap(self, fn, name_of):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer._begin(name_of(args))
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._end(idx)
        return traced

    def install(self) -> None:
        for cls, attr in _WRAPPED:
            name = f"{cls.__name__}.{attr}"
            setattr(cls, attr, self._wrap(getattr(cls, attr),
                                          lambda args, n=name: n))
        # writer spans carry the directory (= cube) they write
        for attr in ("parquet", "csv"):
            setattr(DataFrameWriter, attr, self._wrap(
                getattr(DataFrameWriter, attr),
                lambda args, a=attr:
                    f"DataFrameWriter.{a}:{os.path.basename(args[1])}"))

    # -- request scoping -------------------------------------------------------

    def job_group(self, spark, group: str) -> None:
        spark.sparkContext.setJobGroup(group, group)
        self.groups.append(group)

    def wsgi(self, app, spark):
        """Wrap the WSGI app: one span and one Spark job group per request,
        keyed by the client's ``X-Request-Id``."""
        tracer = self

        def traced_app(environ, start_response):
            rid = environ.get("HTTP_X_REQUEST_ID", "")
            with tracer.span("server.request", rid):
                tracer.job_group(spark, rid)
                return list(app(environ, start_response))
        return traced_app

    # -- counters ------------------------------------------------------------

    def counters(self, spark) -> dict[str, dict]:
        """Per job group registered since the last call: jobs, stages, tasks,
        input rows/bytes, shuffle bytes, output rows/bytes and executor GC
        time, read from the status store."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        groups, self.groups = self.groups, []
        out = {}
        for group in dict.fromkeys(groups):
            c = dict.fromkeys(("jobs", "stages", "tasks", "input_rows",
                               "input_bytes", "shuffle_bytes", "output_rows",
                               "output_bytes", "gc_ms"), 0)
            for job_id in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                c["jobs"] += 1
                for sid in info.stageIds:
                    st = store.lastStageAttempt(sid)
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["input_rows"] += st.inputRecords()
                    c["input_bytes"] += st.inputBytes()
                    c["shuffle_bytes"] += (st.shuffleReadBytes()
                                           + st.shuffleWriteBytes())
                    c["output_rows"] += st.outputRecords()
                    c["output_bytes"] += st.outputBytes()
                    c["gc_ms"] += st.jvmGcTime()
            out[group] = c
        return out
