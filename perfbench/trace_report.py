"""Traced-run report: self time per layer, tracing overhead, and which Spark
counters repeat exactly.

    python3 perfbench/trace_report.py --workload treemap --seed 1 --seconds 6

Runs ``run.py`` once untraced and twice traced with the same seed, from the
root of a checkout, then prints:
- self time per span name (layer boundary) in the first traced run,
- the tracing overhead: traced minus untraced ``req_p50_ms`` and ``load_s``
  (and the steadier ``req_per_s``, ``cpu_ms_per_req``, ``load_cpu_s``),
- the Spark counters (jobs, stages, tasks, rows, bytes) of the load and of
  each request both traced runs made that read the same, and those that do not.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E_UNITS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if done.returncode != 0:
        sys.exit(f"trace_report: {' '.join(cmd)} failed ({done.returncode})")
    path = os.path.join(HERE, ".work", "results", f"{workload}-s{seed}-t{trace}.json")
    with open(path) as f:
        return json.load(f)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    a = p.parse_args()
    plain = _run(a.workload, a.seed, a.seconds, 0)
    traced = [_run(a.workload, a.seed, a.seconds, 1) for _ in range(2)]

    print(f"self time per layer, {a.workload}, seed {a.seed} (measured requests "
          "and the load; ms):")
    for name, ms in sorted(traced[0]["layer_self_ms"].items(), key=lambda kv: -kv[1]):
        print(f"  {name:44s} {ms:12.1f}")

    print("tracing overhead (traced minus untraced):")
    for m in ("req_p50_ms", "req_per_s", "cpu_ms_per_req", "load_s", "load_cpu_s"):
        base, with_trace = plain["end_to_end"][m], traced[0]["end_to_end"][m]
        print(f"  {m:20s} {with_trace - base:+12.4f} {E2E_UNITS[m]} "
              f"({(with_trace - base) / base:+.1%} of {base:.4f})")

    first, second = (t["counters"] for t in traced)
    common = sorted(set(first["requests"]) & set(second["requests"]))
    same, differ = [], []
    for key in first["etl"]:
        (same if first["etl"][key] == second["etl"][key] else differ).append(
            (f"etl.{key}", first["etl"][key], second["etl"][key]))
    for key in first["requests"][common[0]] if common else []:
        a_ = [first["requests"][r].get(key) for r in common]
        b_ = [second["requests"][r].get(key) for r in common]
        (same if a_ == b_ else differ).append(
            (f"request.{key}", sum(x or 0 for x in a_), sum(x or 0 for x in b_)))
    print(f"Spark counters over the load and the {len(common)} requests both "
          "traced runs made:")
    print("  equal in both runs: " + (", ".join(n for n, _, _ in same) or "none"))
    for name, x, y in differ:
        print(f"  differs: {name:36s} {x:14d} {y:14d}")


if __name__ == "__main__":
    main()
