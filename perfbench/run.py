#!/usr/bin/env python3
"""ETL engine benchmark: one workload, one fresh JVM, one result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (sbt, once per source state),
then runs `perfbench.Main` in a fresh JVM on the sf0.001 fixture tables kept
in perfbench/data. The harness sets up a Spark session (tables warmed, the
workload's shared stages built, on a fresh warehouse), makes one untimed pass
that writes every result to parquet and one untimed warm-up pass, and then
times passes over the workload's declared queries, in an order set by the
seed, each fully materialized into the workload's sink, for S seconds. This
script checks the first pass's results against DuckDB with tools/parity.py,
prints every metric by name and unit, and ends with one JSON line.
`--trace 1` adds Spark and streaming listeners on every other timed pass and
reports the per-layer metrics instead; the span tree and the per-query
records go to .bench_build/trace/.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

ROOT = Path.cwd()
WORK = ROOT / ".bench_build"
# Byte copies of the sf0.001 fixture tables (TESTDATA.md), the smallest
# scale the engine is verified on. The tables are the same in every run;
# --seed sets the order the queries run in, so a dependence on order shows
# across seeds while the work stays the same.
DATA = HERE / "data" / "sf0.001"
# The heap cap Bench runs with (SPARK_DRIVER_MEM's default); the heap grows
# as the engine needs it, so peak_rss_mb follows the engine's memory use.
MAX_HEAP = "8g"
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
WORKLOADS = ("star_analytics", "etl_write")

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (the list Spark's launcher adds by itself).
ADD_OPENS = [o for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for o in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest() -> str:
    h = hashlib.sha256()
    files = sorted(p for d in (ROOT / "src" / "main", HERE / "src") for p in d.rglob("*") if p.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile engine + harness with sbt unless this source state is built;
    return the runtime classpath."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = sources_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        die("build failed")
    WORK.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(digest)
    return lines[-1].strip()


def proc_stat_steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(classpath: str, run_dir: Path, data_dir: Path, args, cores: int) -> dict:
    (run_dir / "tmp").mkdir(parents=True)
    cmd = (["java", f"-Xmx{MAX_HEAP}", "-XX:-UsePerfData",
            *ADD_OPENS, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-cp", classpath, "perfbench.Main",
            "--run-dir", str(run_dir), "--data", str(data_dir), "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores)])
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also when this script is interrupted or terminated
            p.kill()
            p.wait()
    # the engine keeps per-process scratch files under a fixed /tmp path
    shutil.rmtree(f"/tmp/graft_scratch/p{p.pid}", ignore_errors=True)
    result = run_dir / "result.json"
    if code != 0 or not result.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
        die(f"harness JVM exited with {code}")
    return json.loads(result.read_text())


def load_parity():
    spec = importlib.util.spec_from_file_location("parity", ROOT / "tools" / "parity.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def main() -> None:
    # turn SIGTERM into an exit, so cleanup runs and the JVM is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/parity.py"):
        if not (ROOT / need).is_file():
            die(f"{need} not found: run from the root of a full checkout")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME is not set")

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    steal0, wall0 = proc_stat_steal_s(), time.time()
    try:
        res = run_jvm(classpath, run_dir, DATA, args, cores)
        mismatches = metrics.oracle_check(load_parity(), str(DATA), res, run_dir / "verify")
        # keep the raw measurements; the run directory itself can be large
        raw = WORK / "results" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        raw.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(run_dir / "result.json", raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    provenance = {"seed": args.seed, "steal_s": proc_stat_steal_s() - steal0,
                  "wall_s": time.time() - wall0, "loadavg": os.getloadavg()}

    summary = metrics.summarize(res, mismatches)
    out = metrics.trace_metrics(res) if args.trace else summary["end_to_end"]
    if args.trace:
        # the construct and exec self times must account for each traced
        # pass's wall time within the tracing overhead (or 10 ms, when the
        # passes happen to time alike), or the per-layer split cannot be
        # trusted
        gap = metrics.unaccounted_s(res)
        print(f"span check: construct + exec self times miss a traced pass's wall time "
              f"by at most {gap:.6f} s")
        if abs(gap) > max(abs(out["trace.overhead_s"][0]), 0.01):
            summary["correct"] = False
        trace_dir = WORK / "trace"
        trace_dir.mkdir(parents=True, exist_ok=True)
        path = trace_dir / f"{args.workload}-seed{args.seed}.json"
        path.write_text(json.dumps(metrics.trace_dump(res, out, provenance), indent=1))
        print(f"trace written to {path.relative_to(ROOT)}")
    metrics.report(args.workload, summary, out, provenance)
    print(json.dumps({
        "correct": summary["correct"], "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
