"""Program side of one benchmark run: a cold server set-up, a timed cube
load, then the slicer HTTP server.

It runs in its own process, started by run.py, so the server's Spark driver
shares no interpreter lock with the client threads and its peak RSS is the
program's alone. Untraced, it makes the public calls that
``python -m openapc_olap_spark serve`` and ``... load`` make, with the
program's own configuration: ``get_spark`` -> ``register_cube_tables`` ->
``load_manifest`` -> ``build_openapc_registry``; ``OpenAPCPipeline.write``;
``SlicerApp`` served by ``server.serve``.

Protocol: sets the server up cold over --served (timed), loads --corpus into
--out (timed), then prints ``READY`` on stdout once it is about to listen on
--port;
on SIGTERM it stops serving, prints ``SERVED``, writes its result JSON to
--result and exits. With --build it only loads --corpus into --out.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()   # before the program's modules are imported

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402


class _Stop(Exception):
    pass


def _process_tree(pid: int) -> list[list[str]]:
    """/proc/<pid>/stat fields (after the command name) of ``pid`` and all
    its descendants: the Python driver and its JVM."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            stats[int(d)] = fields
            children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        if p in stats:
            out.append([str(p)] + stats[p])
    return out


def _tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by the process tree."""
    ticks = sum(int(f[12]) + int(f[13]) for f in _process_tree(pid))
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_peak_rss_kb(pid: int) -> int:
    """Peak RSS (VmHWM) summed over the process tree."""
    total = 0
    for fields in _process_tree(pid):
        try:
            with open(f"/proc/{fields[0]}/status") as f:
                total += next((int(line.split()[1]) for line in f
                               if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total


def _jvm_gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())


def _jvm_peak_mb(spark) -> dict[str, float]:
    """Peak used bytes of the JVM's heap and non-heap memory pools since it
    started, in MB (each pool's own peak, summed)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out = {"HEAP": 0.0, "NON_HEAP": 0.0}
    for pool in mf.getMemoryPoolMXBeans():
        out[pool.getType().name()] += pool.getPeakUsage().getUsed() / 2 ** 20
    return {"heap": out["HEAP"], "non_heap": out["NON_HEAP"]}


def _jvm_live_heap_mb(spark) -> float:
    """Heap the JVM still holds after a full collection: what the program
    retains (registries, caches, persisted frames, Spark's own state)."""
    jvm = spark.sparkContext._jvm
    # The first collection makes Spark's cleaner drop the blocks, broadcasts
    # and shuffles nothing references any more; the second frees them.
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return usage.getHeapMemoryUsage().getUsed() / 2 ** 20


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under a cube directory, Spark's hidden and
    marker files excluded."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for name in files:
            if name.startswith((".", "_")):
                continue
            nbytes += os.path.getsize(os.path.join(d, name))
            nfiles += 1
    return nbytes, nfiles


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--root", required=True,
                   help="checkout holding the openapc_olap_spark package")
    p.add_argument("--corpus", required=True, help="raw CSVs to load")
    p.add_argument("--out", required=True, help="fresh directory the load writes")
    p.add_argument("--build", action="store_true",
                   help="only load --corpus into --out, then exit")
    p.add_argument("--served", help="cube directory to serve")
    p.add_argument("--port", type=int)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--result")
    a = p.parse_args()

    # -- cold set-up, timed from the first import: what `serve` does before
    # it listens ---------------------------------------------------------------
    clock = time.perf_counter
    sys.path.insert(0, a.root)
    from openapc_olap_spark.catalog import (
        build_openapc_registry, load_manifest, register_cube_tables)
    from openapc_olap_spark.etl.openapc import InputPaths, OpenAPCPipeline
    from openapc_olap_spark.query import QueryEngine
    from openapc_olap_spark.server import SlicerApp, serve
    from openapc_olap_spark.session import get_spark
    if a.build:
        spark = get_spark(app_name="openapc-load")
        OpenAPCPipeline(spark, InputPaths.under(a.corpus)).write(a.out)
        os._exit(0)
    confs, tracer = {}, None
    if a.trace:
        from tracing import TRACE_CONFS, Tracer
        tracer = Tracer()
        confs.update(TRACE_CONFS)
        tracer.install()

    t0 = clock()
    spark = get_spark(app_name="openapc-serve", extra_confs=confs)
    t1 = clock()
    register_cube_tables(spark, a.served)
    t2 = clock()
    manifest = load_manifest(spark, a.served)
    t3 = clock()
    registry = build_openapc_registry(manifest)
    t4 = clock()
    res: dict = {"setup": {
        "total": t4 - T_START, "import": t0 - T_START, "get_spark": t1 - t0,
        "register_cube_tables": t2 - t1, "load_manifest": t3 - t2,
        "build_registry": t4 - t3}}

    # -- the nightly job, in the still-young JVM -------------------------------
    # The load registers no tables and sets no configuration, so it can share
    # the server's session; what it persisted is dropped before serving.
    gc0, cpu0 = _jvm_gc_ms(spark), _tree_cpu_s(os.getpid())
    if tracer:
        tracer.job_group(spark, "etl")
    with tracer.span("load", "etl") if tracer else nullcontext():
        t0 = clock()
        OpenAPCPipeline(spark, InputPaths.under(a.corpus)).write(a.out)
        res["load_s"] = clock() - t0
    res["load_cpu_s"] = _tree_cpu_s(os.getpid()) - cpu0
    res["load_gc_ms"] = _jvm_gc_ms(spark) - gc0
    res["stored_bytes"], res["stored_files"] = _dir_stats(a.out)
    if tracer:
        res["etl_counters"] = tracer.counters(spark)["etl"]

    # -- serving -----------------------------------------------------------------
    spark.catalog.clearCache()
    app = SlicerApp(QueryEngine(spark, registry))
    if tracer:
        app = tracer.wsgi(app, spark)

    # run.py repeats SIGTERM until it reads SERVED (a SIGTERM that lands
    # while wsgiref finishes a request is swallowed by its error handler);
    # once serving has ended, later ones are ignored.
    serving = True

    def stop(signum, frame):
        if serving:
            raise _Stop()

    signal.signal(signal.SIGTERM, stop)
    gc0, cpu0 = _jvm_gc_ms(spark), _tree_cpu_s(os.getpid())
    print("READY", flush=True)
    try:
        serve(app, "127.0.0.1", a.port)
    except _Stop:
        serving = False
    signal.signal(signal.SIGTERM, signal.SIG_IGN)
    print("SERVED", flush=True)
    res["serve_cpu_s"] = _tree_cpu_s(os.getpid()) - cpu0
    res["serve_gc_ms"] = _jvm_gc_ms(spark) - gc0
    if tracer:
        res["request_counters"] = tracer.counters(spark)
        res["spans"] = tracer.spans

    res["peak_rss_kb"] = _tree_peak_rss_kb(os.getpid())
    res["jvm_peak_mb"] = _jvm_peak_mb(spark)
    res["live_heap_mb"] = _jvm_live_heap_mb(spark)
    conf = spark.conf
    res["spark"] = {
        "version": spark.version,
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": conf.get("spark.driver.memory", "default"),
    }
    with open(a.result, "w") as f:
        json.dump(res, f)
    # run.py stops this process group once the result is written; skipping
    # spark.stop() saves its second or so on every run.
    os._exit(0)


if __name__ == "__main__":
    main()
