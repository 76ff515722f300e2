#!/usr/bin/env python3
"""graft benchmark: one command, three workloads, outputs checked.

Usage (from the repository root):
  python3 perfbench/run.py --workload {timing_catalog|corpus_batch|stream_ingest}
                           --seed N --seconds S --trace {0|1}

Builds graft together with the harness (perfbench/build.sbt) on first use,
generates the workload's inputs from the seed (gen.py), runs the workload
in one JVM for about S seconds of steady passes, checks every dumped output
against computations made apart from graft (checks.py), and prints one JSON
line: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The traced run also writes its spans and every layer number to
perfbench/.work/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
BUILD = BENCH / ".build"
WORKLOADS = ("timing_catalog", "corpus_batch", "stream_ingest")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((BENCH / "harness").rglob("*.scala"))
    for f in files + [BENCH / "build.sbt", BENCH / "project" / "build.properties"]:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft + harness once per source state; returns the classpath."""
    stamp = sources_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness (sbt compile)")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(cp, workload, data, out, work, seconds, trace):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
        "--workload", workload, "--data", str(data), "--out", str(out), "--work", str(work),
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--cores", str(cores())]
    # graft's own settings stay at their defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    with open(work / "jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL)

        def stop(signum, _frame):  # never leave the JVM behind
            p.kill()
            p.wait()
            raise SystemExit(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("workload JVM timed out")
    if rc != 0 or not (out / "result.json").exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"workload JVM failed (exit {rc})")
    for line in (work / "jvm.log").read_text().splitlines():
        if line.startswith("[perfbench]"):
            log(line[len("[perfbench] "):])
    return json.loads((out / "result.json").read_text())


def end_to_end(res, truth):
    steady = [s for s in res["samples"] if s["pass"] >= 1]
    steady_pass = statistics.median(res["pass_s"][1:])
    ops = sorted(s["s"] for s in steady)
    return {
        "setup_s": res["setup_s"],
        "first_pass_s": res["pass_s"][0],
        "rows_per_s": sum(truth["rows"].values()) / steady_pass,
        "op_p50_s": statistics.median(ops),
        "peak_rss_mb": res["peak_rss_mb"],
    }, {"op_samples": len(ops), "steady_passes": len(res["pass_s"]) - 1,
        "op_p90_s": statistics.quantiles(ops, n=10)[-1] if len(ops) >= 100 else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep inputs and outputs in .work")
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise SystemExit(f"graft sources not found under {ROOT / 'src'}: run from a repository checkout")

    cp = build()
    sys.path.insert(0, str(BENCH))
    import checks
    import gen

    work = WORK / f"{args.workload}-{args.seed}"
    if work.exists():
        shutil.rmtree(work)
    data, out = work / "data", work / "out"
    truth = gen.generate(args.workload, args.seed, data)
    res = run_jvm(cp, args.workload, data, out, work, args.seconds, args.trace == 1)

    problems, wrong = checks.check(args.workload, data, out / "outputs", truth, res["passes"] - 1)
    for p in problems:
        log(f"CHECK FAILED {p}")
    for op in wrong:
        log(f"failed (wrong output on fixed inputs): {op}")
    e2e, extra = end_to_end(res, truth)
    log(f"{args.workload} seed={args.seed} " + " ".join(f"{k}={v:.4g}" for k, v in e2e.items()) +
        f" samples={extra['op_samples']} passes={extra['steady_passes']} op_p90_s={extra['op_p90_s']}")

    if args.trace:
        layers = dict(res["layers"])
        layer = {"timing_catalog": "queries", "corpus_batch": "operators",
                 "stream_ingest": "streaming"}[args.workload]
        steady = [s for s in res["samples"] if s["pass"] >= 1]
        for op in sorted({s["op"] for s in steady}):
            layers.setdefault(f"{layer}.{op}_s",
                              statistics.median(s["s"] for s in steady if s["op"] == op))
        layers.update(checks.layer_extras(args.workload, data, out / "outputs", truth,
                                          res["passes"] - 1))
        missing = [k for k in PER_LAYER if k not in layers]
        if missing:
            raise SystemExit(f"traced run did not measure {missing}")
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
        report = {"workload": args.workload, "seed": args.seed, "end_to_end_traced": e2e,
                  "layers": layers, "spans": res["spans"]}
        (WORK / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(report, indent=1))
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": len(res["failed_ops"]) + len(wrong), "metrics": metrics}))


if __name__ == "__main__":
    main()
