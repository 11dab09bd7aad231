"""The repository benchmark: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload treemap|explore --seed N --seconds S --trace 0|1

Run from the root of a checkout. A run:
1. generates the seeded OpenAPC-shaped corpus (corpus.py; cached per seed
   under perfbench/.work), and makes sure the served cubes exist: the
   program's load of the fixed ``SERVED_SEED`` corpus, built once per
   program version;
2. starts the program in a fresh process (worker.py), which sets the
   slicer server up cold over the served cubes (``setup_s``), loads the
   seed's corpus into a fresh directory (``load_s``), then serves;
3. drives the server over HTTP with the workload's closed-loop traffic mix
   (mixes.py, parameters drawn from the seed) for a warm-up plus
   ``--seconds``, and until every client has sent its required requests,
   then stops serving;
4. checks every answer (shape and paging invariants always, a fixed sample
   against DuckDB over the raw CSVs), that every required request shape was
   sent, and the row count of every cube the load wrote (oracle.py);
5. prints each metric by name and unit, the environment, and as the last
   line ``{"correct", "attempted", "failed", "metrics"}`` with the
   end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``).
"""

from __future__ import annotations

import argparse
import collections
import csv
import hashlib
import http.client
import io
import json
import os
import platform
import queue
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
from mixes import MIXES, REQUIRED_SHAPES, Req  # noqa: E402
from oracle import (ADDITIVE, AGGREGATES, STATIC, Oracle, close, cut_holds,  # noqa: E402
                    parse_cuts, same_record)

WARMUP_S = 3.0
RUN_DEADLINE_S = 170.0
TAIL_ALLOWANCE_S = 40.0     # required requests past the window, stop, checks
BUILD_DEADLINE_S = 600.0
SERVED_SEED = 0             # corpus of the cubes both workloads serve
# Host speed. The shared host has been seen to run this VM's CPUs 1.5x
# slower for minutes at a time, in CPU time as much as in wall time, which
# no number of seeds averages out. So each run times a fixed CPU-bound loop
# on every core, twice before the program starts and twice after it exits,
# and reports its times and rates as if the loop had taken REF_NOMINAL_S
# (about its time on an idle 4-core host); the raw values are saved too.
REF_LOOP = ("import time\nt = time.perf_counter()\ns = 0\n"
            "for i in range(2_000_000):\n    s += i * i\n"
            "print(time.perf_counter() - t)")
REF_NOMINAL_S = 0.35
CUBES = ["openapc", "openapc_ac", "bpc", "transformative_agreements", "combined",
         "deal", "doi_lookup"]

E2E_UNITS = {
    "setup_s": "s", "load_s": "s", "load_cpu_s": "s", "cpu_ms_per_req": "ms",
    "stored_bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB", "live_heap_mb": "MB", "req_per_s": "1/s", "req_p50_ms": "ms",
    "req_p95_ms": "ms", "aggregate_p50_ms": "ms", "aggregate_p95_ms": "ms",
    "facts_p50_ms": "ms", "facts_p95_ms": "ms", "lookup_p50_ms": "ms",
    "lookup_p95_ms": "ms",
}


@dataclass
class Response:
    status: int
    body: bytes

    @property
    def json(self):
        if not hasattr(self, "_json"):
            try:
                self._json = json.loads(self.body)
            except ValueError:
                self._json = None
        return self._json


@dataclass
class Record:
    rid: str
    req: Req
    resp: Response
    start: float
    latency_s: float


# -- the program process --------------------------------------------------------

def host_ref_s() -> float:
    """Mean time of REF_LOOP run at once on every core."""
    procs = [subprocess.Popen([sys.executable, "-c", REF_LOOP], stdout=subprocess.PIPE,
                              text=True) for _ in range(_nproc())]
    return statistics.mean(float(p.communicate()[0]) for p in procs)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


class Worker:
    """worker.py in its own process group, so it and its JVM are stopped
    together."""

    def __init__(self, run_dir: str, args: list[str]) -> None:
        self.log_path = os.path.join(run_dir, "worker.log")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        # local[nproc]; otherwise the program's own configuration
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(_nproc()),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
                   TMPDIR=tmp,
                   JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        cmd = [sys.executable, os.path.join(HERE, "worker.py"), *args]
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.log,
                                     cwd=run_dir, env=env, start_new_session=True)
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.decode().strip())
        self.lines.put(None)

    def wait_ready(self, timeout: float) -> None:
        end = time.monotonic() + timeout
        while True:
            try:
                line = self.lines.get(timeout=max(0.1, end - time.monotonic()))
            except queue.Empty:
                raise RuntimeError("program not ready in time") from None
            if line == "READY":
                return
            if line is None:
                raise RuntimeError(f"program exited early ({self.proc.wait()})")

    def end_serving(self) -> None:
        """SIGTERM the server until the worker says SERVED (or exits)."""
        # A SIGTERM that lands while the server is still finishing a request
        # (its access log line) is swallowed by wsgiref's error handler; one
        # that lands while it waits for the next request stops it. So repeat.
        for _ in range(120):
            if self.proc.poll() is not None:
                return
            self.proc.send_signal(signal.SIGTERM)
            try:
                if self.lines.get(timeout=0.5) in ("SERVED", None):
                    return
            except queue.Empty:
                pass

    def finish(self, timeout: float) -> int | None:
        """Wait up to ``timeout`` for the worker to exit, then make sure
        nothing of its process group survives. The exit code, or None when
        it had to be killed."""
        try:
            code = self.proc.wait(timeout=max(0.1, timeout))
        except subprocess.TimeoutExpired:
            code = None
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        end = time.monotonic() + 20
        while _group_alive(self.proc.pid) and time.monotonic() < end:
            time.sleep(0.1)
        self.log.close()
        return code

    def log_tail(self, n: int = 30) -> str:
        with open(self.log_path, errors="replace") as f:
            return "".join(f.readlines()[-n:])


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def _program_digest(root: str) -> str:
    """Hash of the program's package files: served cubes are rebuilt when
    the program changes."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "openapc_olap_spark")
    for d, dirs, files in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for name in sorted(files):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def served_cubes(root: str, work: str, corpus_dir: str) -> str:
    """The cubes the workloads serve: the program's load of the
    ``SERVED_SEED`` corpus, built once per program version and reused."""
    out = os.path.join(work, "served",
                       f"{_program_digest(root)}-x{corpus.SCALE}-s{SERVED_SEED}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        worker = Worker(tmp, ["--root", root, "--build", "--corpus", corpus_dir,
                              "--out", os.path.join(tmp, "cubes")])
        code = worker.finish(BUILD_DEADLINE_S)
        if code != 0:
            raise RuntimeError(f"building the served cubes failed ({code})\n"
                               + worker.log_tail())
        for junk in ("tmp", "spark-local"):
            shutil.rmtree(os.path.join(tmp, junk), ignore_errors=True)
        os.rename(tmp, out)
    return os.path.join(out, "cubes")


# -- the client -----------------------------------------------------------------

def _get(port: int, url: str, rid: str) -> tuple[Response, float]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    t0 = time.perf_counter()
    try:
        conn.request("GET", url, headers={"X-Request-Id": rid})
        r = conn.getresponse()
        resp = Response(r.status, r.read())
    except (OSError, http.client.HTTPException) as e:
        resp = Response(0, str(e).encode())
    finally:
        conn.close()
    return resp, time.perf_counter() - t0


def _wait_up(port: int, timeout: float) -> None:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        resp, _ = _get(port, "/info", "up")
        if resp.status == 200:
            return
        time.sleep(0.2)
    raise RuntimeError("server did not answer /info")


def drive(clients: list, port: int, deadline: float) -> list[Record]:
    """Closed loop: each client thread sends its next request only after the
    previous answer, until ``deadline``; required requests are sent even
    after it."""
    out: list[list[Record]] = [[] for _ in clients]

    def loop(cid: int) -> None:
        plan, resp = clients[cid], None
        for seq in range(10 ** 9):
            try:
                req = plan.send(resp) if seq else next(plan)
            except StopIteration:
                return
            start = time.perf_counter()
            if start >= deadline and not req.required:
                return
            rid = f"c{cid}-{seq}"
            resp, latency = _get(port, req.url, rid)
            out[cid].append(Record(rid, req, resp, start, latency))

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(clients))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for recs in out for r in recs]


# -- answer checks ---------------------------------------------------------------

def _parse(rec: Record):
    if rec.req.params.get("format") == "csv":
        return list(csv.DictReader(io.StringIO(rec.resp.body.decode())))
    return rec.resp.json


def _check_shape(req: Req, got, orc: Oracle) -> str | None:
    parts = [p for p in req.path.split("/") if p]
    endpoint = parts[2] if len(parts) > 2 else parts[0]
    size = min(int(req.params.get("pagesize") or 500), 500)
    cuts = parse_cuts(req.params.get("cut"))
    if endpoint == "aggregate":
        if not (isinstance(got, dict) and isinstance(got.get("cells"), list)
                and isinstance(got.get("summary"), dict)
                and isinstance(got.get("total_cell_count"), int)):
            return "malformed aggregate envelope"
        cells = got["cells"]
        if len(cells) > size:
            return f"{len(cells)} cells over the page size {size}"
        if cells and not req.params.get("page") and got["total_cell_count"] == len(cells):
            ctype = orc.cubes[parts[1]][0]
            for name, _ in AGGREGATES[ctype]:
                if name in ADDITIVE and not close(
                        sum(c[name] or 0 for c in cells), got["summary"].get(name)):
                    return f"cells do not add up to the summary for {name}"
    elif endpoint == "facts":
        if not isinstance(got, list) or len(got) > size:
            return "facts page malformed or over the page size"
        for row in got:
            for cut in cuts:
                if not cut_holds(cut, row.get(cut[1])):
                    return f"row violates cut {cut}"
    elif endpoint == "members":
        if not isinstance(got, list) or len(got) > size or len(set(map(str, got))) != len(got):
            return "members malformed"
    elif endpoint == "fact":
        if not (isinstance(got, dict) and req.expect_row is not None
                and same_record(got, req.expect_row)):
            return "fact differs from the facts row it was taken from"
    elif endpoint == "model":
        if not (isinstance(got, dict) and got.get("name") == parts[1]
                and isinstance(got.get("dimensions"), list)):
            return "malformed model"
    return None


def _canon(row: dict, cols: list[str]) -> tuple:
    return tuple(f"{row.get(c):.4f}" if isinstance(row.get(c), float)
                 else str(row.get(c)) for c in cols)


def _check_answer(req: Req, got, want: dict) -> str | None:
    if "names" in want:
        names = sorted(c.get("name") for c in got) if isinstance(got, list) else None
        return None if names == want["names"] else "cube list differs"
    if "members" in want:
        return None if got == want["members"] else "members differ"
    if "rows" in want:
        if len(got) != want["rows"]:
            return f"{len(got)} fact rows, expected {want['rows']}"
        if got and set(got[0]) != set(want["columns"]):
            return f"fact columns {sorted(got[0])} differ"
        if "facts" in want and req.params.get("format") != "csv":
            cols = want["columns"][:-1]
            a = sorted(got, key=lambda r: _canon(r, cols))
            b = sorted(want["facts"], key=lambda r: _canon(r, cols))
            if not all(same_record(x, y, cols) for x, y in zip(a, b)):
                return "fact rows differ"
        return None
    if got["total_cell_count"] != want["total_cell_count"]:
        return f"total_cell_count {got['total_cell_count']} != {want['total_cell_count']}"
    if set(got["summary"]) != set(want["summary"]) or not same_record(
            got["summary"], want["summary"]):
        return "summary differs"
    if len(got["cells"]) != len(want["cells"]) or not all(
            same_record(x, y) for x, y in zip(got["cells"], want["cells"])):
        return "cells differ"
    return None


def check(records: list[Record], orc: Oracle) -> list[tuple[Record, str]]:
    """Every answer: status, parse, shape; sampled ones also against DuckDB."""
    failures, answers = [], {}
    for rec in records:
        if rec.resp.status != 200:
            failures.append((rec, f"HTTP {rec.resp.status}"))
            continue
        try:
            got = _parse(rec)
            err = "unparseable body" if got is None else _check_shape(rec.req, got, orc)
            if err is None and rec.req.checked:
                key = rec.req.url
                if key not in answers:
                    answers[key] = orc.answer(rec.req.path, {
                        k: str(v) for k, v in rec.req.params.items()})
                if answers[key] is not None:
                    err = _check_answer(rec.req, got, answers[key])
        except (KeyError, TypeError, ValueError, AttributeError) as e:
            err = f"malformed answer: {e!r}"
        if err:
            failures.append((rec, err))
    return failures


# -- metrics ------------------------------------------------------------------------

def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def _latency_stats(latencies: list[float]) -> dict:
    n = len(latencies)
    top = 100.0 * (1 - 10 / n) if n >= 20 else None
    return {"n": n, "p50": pct(latencies, 50), "p95": pct(latencies, 95),
            "supported_pct": top, "at_supported_pct": pct(latencies, top) if top else None}


def end_to_end(w: dict, records: list[Record], timed: list[Record], clients: int,
               input_bytes: int, speed: float):
    """The end-to-end metrics, times and rates scaled by ``speed`` (nominal
    over measured host reference time), and the raw ones."""
    def lat(cat):
        # a category the measured window missed falls back to the warm-up too
        sample = [r for r in timed if r.req.category == cat] or \
            [r for r in records if r.req.category == cat]
        return [r.latency_s * 1000 for r in sample]
    stats = {"req": _latency_stats([r.latency_s * 1000 for r in timed])}
    stats.update({cat: _latency_stats(lat(cat)) for cat in ("aggregate", "facts", "lookup")
                  if lat(cat)})
    metrics = {
        "setup_s": w["setup"]["total"],
        "load_s": w["load_s"], "load_cpu_s": w["load_cpu_s"],
        "cpu_ms_per_req": w["serve_cpu_s"] * 1000 / len(records),
        "stored_bytes_per_input_byte": w["stored_bytes"] / input_bytes,
        "peak_rss_mb": w["peak_rss_kb"] / 1024.0,
        "live_heap_mb": w["live_heap_mb"],
        # Little's law for a closed loop without think time: throughput is
        # clients / mean latency. Over every request of the run, warm-up
        # included, like cpu_ms_per_req: a run holds only 13-18 requests, and
        # counting completions in a window would add its edge effects.
        "req_per_s": clients * 1000 / statistics.mean(r.latency_s * 1000 for r in records),
    }
    for cat, s in stats.items():
        metrics[f"{cat}_p50_ms"], metrics[f"{cat}_p95_ms"] = s["p50"], s["p95"]
    scale = {"s": speed, "ms": speed, "1/s": 1 / speed}
    adjusted = {k: v * scale.get(E2E_UNITS[k], 1.0) for k, v in metrics.items()}
    return adjusted, metrics, stats


def _span_tree(spans: list[list]):
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        children.setdefault(s[3], []).append(i)
    dur = lambda i: (spans[i][2] - spans[i][1]) / 1e6  # noqa: E731  (ms)
    self_ms = lambda i: dur(i) - sum(dur(c) for c in children.get(i, []))  # noqa: E731
    return dur, self_ms


def per_layer(w: dict, timed: list[Record], input_bytes: int) -> tuple[dict, dict]:
    spans, counters = w["spans"], w["request_counters"]
    dur, self_ms = _span_tree(spans)
    by_rid: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        if s[4]:
            by_rid.setdefault(s[4], []).append(i)
    per_req = {k: [] for k in ("self", "wait", "plan", "exec")}
    totals = dict.fromkeys(("jobs", "stages", "tasks", "input_rows", "input_bytes",
                            "shuffle_bytes"), 0)
    rows_returned = 0
    for rec in timed:
        idx = by_rid.get(rec.rid, [])
        names = {i: spans[i][0] for i in idx}
        top = [i for i in idx if names[i] == "server.request"]
        per_req["wait"].append(rec.latency_s * 1000 - sum(dur(i) for i in top))
        per_req["self"].append(sum(self_ms(i) for i in idx
                                   if names[i] == "SlicerApp.__call__"))
        per_req["plan"].append(sum(self_ms(i) for i in idx
                                   if names[i].startswith("QueryEngine.")))
        per_req["exec"].append(sum(
            dur(i) for i in idx if names[i] in ("DataFrame.collect", "DataFrame.count")
            and spans[spans[i][3]][0] not in ("DataFrame.collect", "DataFrame.count")))
        c = counters.get(rec.rid, {})
        for k in totals:
            totals[k] += c.get(k, 0)
        got = rec.resp.json
        rows_returned += max(1, len(got["cells"]) if isinstance(got, dict) and "cells" in got
                             else len(got) if isinstance(got, list) else 1)
    n = max(1, len(timed))
    etl_spans = [i for i, s in enumerate(spans) if s[4] == "etl"]
    first = lambda name: next((dur(i) / 1000 for i in etl_spans  # noqa: E731
                               if spans[i][0] == name), 0.0)
    etl = w["etl_counters"]
    setup = w["setup"]
    m = {
        "session.import_s": setup["import"],
        "session.get_spark_s": setup["get_spark"],
        "catalog.register_cube_tables_s": setup["register_cube_tables"],
        "catalog.load_manifest_s": setup["load_manifest"],
        "catalog.build_registry_s": setup["build_registry"],
        "server.self_ms": statistics.median(per_req["self"]),
        "server.response_bytes": sum(len(r.resp.body) for r in timed) / n,
        "server.wait_ms": statistics.median(per_req["wait"]),
        "query.plan_ms": statistics.median(per_req["plan"]),
        "query.exec_ms": statistics.median(per_req["exec"]),
        "query.jobs_per_req": totals["jobs"] / n,
        "query.stages_per_req": totals["stages"] / n,
        "query.tasks_per_req": totals["tasks"] / n,
        "query.input_rows_per_req": totals["input_rows"] / n,
        "query.input_bytes_per_req": totals["input_bytes"] / n,
        "query.shuffle_bytes_per_req": totals["shuffle_bytes"] / n,
        "query.rows_examined_per_row_returned": totals["input_rows"] / max(1, rows_returned),
        "etl.build_all_s": first("OpenAPCPipeline.build_all"),
        **{f"etl.write_s.{c}": first(f"DataFrameWriter.parquet:{c}") for c in CUBES},
        "etl.manifest_write_s": first("DataFrameWriter.csv:institutional_cubes"),
        "etl.check_validations_s": first("OpenAPCPipeline.check_validations"),
        "etl.jobs": etl["jobs"], "etl.stages": etl["stages"], "etl.tasks": etl["tasks"],
        "etl.shuffle_bytes": etl["shuffle_bytes"],
        "etl.csv_bytes_read_per_input_byte": etl["input_bytes"] / input_bytes,
        "etl.bytes_written": w["stored_bytes"], "etl.files_written": w["stored_files"],
        "etl.rows_written": etl["output_rows"],
        "etl.gc_ms": w["load_gc_ms"], "spark.gc_ms": w["serve_gc_ms"],
        "jvm.peak_heap_used_mb": w["jvm_peak_mb"]["heap"],
        "jvm.peak_nonheap_used_mb": w["jvm_peak_mb"]["non_heap"],
    }
    # self time per span name over the measured requests and the load
    layer_self: dict[str, float] = {}
    rids = {r.rid for r in timed} | {"etl"}
    for i, s in enumerate(spans):
        if s[4] in rids:
            key = s[0].split(":")[0]
            layer_self[key] = layer_self.get(key, 0.0) + self_ms(i)
    return m, layer_self


def declared(root: str) -> dict:
    """BENCHMARK.json: the metrics a run must print, with their units."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


# -- the run -----------------------------------------------------------------------

def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(MIXES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    t_begin = time.monotonic()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "openapc_olap_spark", "__init__.py")):
        print("perfbench: no openapc_olap_spark package in the current directory; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    phases = {}

    def phase(name: str) -> None:
        phases[name] = round(time.monotonic() - t_begin, 2)

    corpus_dir, meta = corpus.ensure(a.seed, os.path.join(work, "corpora"))
    served_corpus, _ = corpus.ensure(SERVED_SEED, os.path.join(work, "corpora"))
    phase("corpus")
    try:
        served = served_cubes(root, work, served_corpus)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    phase("served_cubes")
    refs = [host_ref_s() for _ in range(2)]
    # the run's own time limit counts from here: only the first run in a
    # checkout builds the served cubes
    t_run = time.monotonic()
    left = lambda: RUN_DEADLINE_S - (time.monotonic() - t_run)  # noqa: E731
    port = _free_port()
    worker = Worker(run_dir, [
        "--root", root, "--corpus", corpus_dir, "--out", os.path.join(run_dir, "cubes"),
        "--served", served, "--port", str(port),
        "--trace", str(a.trace), "--result", os.path.join(run_dir, "worker.json")])
    try:
        worker.wait_ready(left() - a.seconds - WARMUP_S - TAIL_ALLOWANCE_S)
        _wait_up(port, 30)
        phase("program_ready")
        # built while the server waits, so no set-up shares the host with it
        orc = Oracle(served_corpus)
        nclients = 1 if a.workload == "treemap" else _nproc()
        plans = MIXES[a.workload](orc, nclients, a.seed)
        loaded = Oracle(corpus_dir)
        phase("oracle_and_plan")
        t_measure = time.perf_counter() + WARMUP_S
        records = drive(plans, port, t_measure + a.seconds)
        phase("traffic")
        worker.end_serving()
    except BaseException as e:
        worker.finish(0)
        if not isinstance(e, RuntimeError):
            raise
        print(f"perfbench: {e}\n{worker.log_tail()}", file=sys.stderr)
        return 1
    code = worker.finish(left())
    refs += [host_ref_s() for _ in range(2)]
    phase("program_stopped")
    try:
        with open(os.path.join(run_dir, "worker.json")) as f:
            w = json.load(f)
    except (OSError, ValueError):
        print(f"perfbench: the program wrote no result ({code})\n{worker.log_tail()}",
              file=sys.stderr)
        return 1

    # every answer, every required shape, then the stored row count of
    # every cube
    failures = [f"{r.req.url}: {err}" for r, err in check(records, orc)]
    shapes = collections.Counter(r.req.shape for r in records)
    failures += [f"no {shape} request was sent"
                 for shape in sorted(REQUIRED_SHAPES[a.workload] - set(shapes))]
    failures += loaded.check_stored(os.path.join(run_dir, "cubes"))
    attempted = len(records) + len(STATIC)
    phase("checked")
    timed = [r for r in records if r.start >= t_measure]
    if not timed:
        print("perfbench: no request in the measured window", file=sys.stderr)
        return 1
    speed = REF_NOMINAL_S / statistics.median(refs)
    e2e, raw, stats = end_to_end(w, records, timed, nclients, meta["input_bytes"], speed)
    seen, repeats = set(), 0
    for r in records:
        repeats += r.start >= t_measure and r.req.url in seen
        seen.add(r.req.url)
    env = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "warmup_s": WARMUP_S, "trace": a.trace, "nproc": _nproc(),
        "python": platform.python_version(), **{f"spark_{k}": v for k, v in w["spark"].items()},
        "loop": "closed, no think time", "clients": nclients,
        "corpus_scale": meta["scale"], "corpus_sizes": meta["sizes"],
        "corpus_input_bytes": meta["input_bytes"],
    }
    details = {
        "latency_ms": stats,
        "repeat_share": repeats / len(timed),
        "checked_answers": sum(r.req.checked for r in records),
        "failures": failures[:20],
        "shapes": dict(sorted(shapes.items())),
        "setup_s": w["setup"],
        "phases_s": phases,
        "host_ref_s": refs, "raw_end_to_end": raw,
        "requests": [[r.rid, r.req.category, round(r.start - t_measure, 4),
                      round(r.latency_s * 1000, 3), r.resp.status] for r in records],
    }
    result = {"env": env, "end_to_end": e2e, "details": details}
    if a.trace:
        layers, layer_self = per_layer(w, timed, meta["input_bytes"])
        result.update(per_layer=layers, layer_self_ms=layer_self, counters={
            "etl": w["etl_counters"],
            "requests": {r.rid: w["request_counters"].get(r.rid, {}) for r in records}})
    spec = declared(root)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(E2E_UNITS)
    values = {**e2e, **result.get("per_layer", {})}
    shown = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [k for k in shown if k not in values]
    if missing:
        print(f"perfbench: no samples for {', '.join(missing)}", file=sys.stderr)
        return 1

    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(os.path.join(run_dir, "cubes"), ignore_errors=True)

    print("env " + json.dumps(env, sort_keys=True))
    for cat, s in stats.items():
        extra = (f", p{s['supported_pct']:.1f}={s['at_supported_pct']:.2f} ms"
                 if s["supported_pct"] else "")
        print(f"raw latency {cat}: n={s['n']}, p50={s['p50']:.2f} ms, "
              f"p95={s['p95']:.2f} ms{extra}")
    print(f"host reference loop {statistics.median(refs):.4f} s (samples "
          f"{', '.join(f'{r:.4f}' for r in refs)}): times and rates below are "
          f"scaled by {speed:.4f}")
    print("run phases (s since start) " + json.dumps(phases))
    print("requests per shape " + json.dumps(details["shapes"]))
    print(f"repeat share {details['repeat_share']:.3f}; "
          f"{details['checked_answers']} answers checked against DuckDB; "
          f"{len(STATIC)} stored cubes counted; "
          f"error_rate {len(failures) / attempted:.4f}")
    for line in details["failures"]:
        print("FAILED " + line)
    gated = {m["name"] for m in spec["end_to_end"]}
    for name, value in values.items():
        print(f"{name:44s} {value:16.4f} {units[name]}"
              + ("" if name in gated or "." in name else "   (reported, not gated)"))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in shown},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
