#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of the same code agree?

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workload NAME ...]

Runs ``BENCHMARK.json``'s command ``--runs`` times per workload and set,
each run with another seed (set k uses seeds k*1000+1, k*1000+2, ...),
with ``--trace 0`` and the file's ``run_seconds``.  Per set, workload and
end-to-end metric it reports the median and the spread (the first-to-
third quartile distance over the median, ``statistics.quantiles(n=4)``),
and per later set whether its median is worse than the first set's by
more than the metric's bound.  A spread above its bound fails, above a
third of it is flagged.  Exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    log_dir = os.path.join(ROOT, ".perfbench", "logs")
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{workload}-seed{seed}.err"), "w") as f:
        f.write(proc.stderr)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else float("inf")


def worse_by(metric: dict, first: float, later: float) -> float:
    """Share of ``first`` by which ``later`` is worse (≤ 0 when not worse)."""
    delta = later - first if metric["better"] == "lower" else first - later
    return delta / first if first else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append", help="default: every workload")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    metrics = bench["end_to_end"]
    ok = True
    report = {}
    for w in workloads:
        medians: list[dict[str, float]] = []
        for k in range(args.sets):
            results = [run_once(bench, w, k * 1000 + i + 1) for i in range(args.runs)]
            wrong = [r for r in results if not r["correct"] or r["failed"]]
            if wrong:
                ok = False
                print(f"{w} set {k}: {len(wrong)} runs with failed operations", flush=True)
            med = {}
            for m in metrics:
                values = [r["metrics"][m["name"]]["value"] for r in results]
                med[m["name"]] = statistics.median(values)
                s = spread(values)
                status = "ok"
                if s > m["bound"]:
                    status, ok = "FAIL spread > bound", False
                elif s > m["bound"] / 3:
                    status = "flag spread > bound/3"
                if k > 0:
                    drift = worse_by(m, medians[0][m["name"]], med[m["name"]])
                    if drift > m["bound"]:
                        status, ok = f"FAIL median worse by {drift:.1%}", False
                print(
                    f"{w:<18} set {k} {m['name']:<16} median {med[m['name']]:12.4f} {m['unit']:<5} "
                    f"spread {s:6.1%} (bound {m['bound']:.0%})  {status}",
                    flush=True,
                )
                report.setdefault(w, {}).setdefault(m["name"], []).append({"values": values, "spread": s})
            medians.append(med)
    out = os.path.join(ROOT, ".perfbench", "steadiness.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(("steady" if ok else "NOT steady") + f"; values in {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
