"""Stability check: alternated sets of benchmark runs of the same code.

    python3 perfbench/stability.py [--workloads a,b] [--runs 10] [--sets 2]

Runs ``--sets`` sets of ``--runs`` runs per workload, alternating the sets
run by run (A1 B1 A2 B2 ...) so that a slow stretch of the host hits
every set alike; run i (from 1) of every set uses seed i. Every run is
untraced. Then prints, per workload and end-to-end metric:

- each set's median and quartiles (``statistics.quantiles(n=4)``) and
  its spread, the inter-quartile range as a share of the median;
- the set-to-set difference of the medians, as a share of the first
  set's median, against the metric's bound from BENCHMARK.json;
- the share of failed queries per set;
- each run's host steal share.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {' '.join(cmd)}")
    rec_line = next(ln for ln in lines if ln.startswith("record "))
    with open(os.path.join(ROOT, rec_line.split(" ", 1)[1])) as f:
        record = json.load(f)
    record["result"] = json.loads(lines[-1])
    return record


def _stats(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    runs: dict[tuple[str, int], list[dict]] = {}
    for i in range(1, a.runs + 1):
        for s in range(a.sets):
            for w in workloads:
                r = _one(w, i, bench["run_seconds"])
                runs.setdefault((w, s), []).append(r)
                res = r["result"]
                print(f"set {s} run {i} {w} seed {i}: correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} "
                      f"steal_share={r['steal_share']:.4f}", flush=True)
    for w in workloads:
        print(f"\n== {w}")
        for s in range(a.sets):
            rs = runs[(w, s)]
            share = sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
            steal = " ".join(f"{r['steal_share']:.3f}" for r in rs)
            print(f"set {s}: failed share {share:.6f}; steal share per run: {steal}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            per_set = [
                [r["result"]["metrics"][name]["value"] for r in runs[(w, s)]]
                for s in range(a.sets)
            ]
            cells = []
            base = None
            for vals in per_set:
                med, q1, q3, spread = _stats(vals)
                base = med if base is None else base
                diff = (med - base) / base if base else 0.0
                if m["better"] == "higher":
                    diff = -diff
                cells.append(f"med {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                             f"spread {spread:.3f} worse-by {diff:+.3f}")
            worst = max(_stats(v)[3] for v in per_set)
            flag = f" bound {bound} (spread/bound {worst / bound:.2f})"
            print(f"  {name:28s} " + " | ".join(cells) + flag)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
