#!/usr/bin/env python3
"""Steadiness of the benchmark's end-to-end metrics.

Usage (from the repository root):
  python3 perfbench/steady.py [--runs 10] [--seed0 1000] [--traced 0]

Runs every workload `--runs` times, each run with its own seed, in
alternating workload order, and prints per workload and metric the median,
the first and third quartiles (statistics.quantiles, n=4), the spread
(quartile distance over the median) against the metric's bound, and the
share of failed operations. With --traced N it also makes N traced runs per
workload and reports tracing overhead: the traced run's end-to-end figures
minus the untraced medians. Results also go to perfbench/.work/steady.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} failed")
    sys.stderr.write("".join(l + "\n" for l in p.stderr.splitlines() if "seed=" in l or "CHECK" in l))
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = ["timing_catalog", "corpus_batch", "stream_ingest"]

    results = {w: [] for w in workloads}
    for i in range(args.runs):
        for w in (workloads if i % 2 == 0 else workloads[::-1]):
            results[w].append(run(w, args.seed0 + i, spec["run_seconds"], 0))
    traced = {w: [run(w, args.seed0 + args.runs + j, spec["run_seconds"], 1) for j in range(args.traced)]
              for w in workloads}

    summary = {}
    print(f"{'workload':15} {'metric':13} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for w, rs in results.items():
        summary[w] = {"runs": len(rs), "correct": all(r["correct"] for r in rs),
                      "failed_share": sorted({r["failed"] / r["attempted"] for r in rs}),
                      "metrics": {}}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            spread = (q3 - q1) / med
            summary[w]["metrics"][m] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                                        "values": vals}
            print(f"{w:15} {m:13} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:7.3f} {bounds[m]:6.2f}")
        for t in traced[w]:
            # the traced run prints per-layer metrics; its end-to-end figures
            # are in the trace file it writes
            summary[w].setdefault("traced_layers", []).append(t["metrics"])
        print(f"{w:15} correct={summary[w]['correct']} failed share={summary[w]['failed_share']}")
    for w in workloads:
        for j in range(args.traced):
            f = BENCH / ".work" / f"trace-{w}-{args.seed0 + args.runs + j}.json"
            e2e = json.loads(f.read_text())["end_to_end_traced"]
            over = {m: e2e[m] - summary[w]["metrics"][m]["median"] for m in bounds}
            summary[w].setdefault("trace_overhead", []).append(over)
            print(f"{w:15} tracing overhead (traced - untraced median): " +
                  " ".join(f"{m}={v:+.4g}" for m, v in over.items()))
    (BENCH / ".work").mkdir(exist_ok=True)
    (BENCH / ".work" / "steady.json").write_text(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
