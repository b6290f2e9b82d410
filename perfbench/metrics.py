"""Turns the harness's raw measurements into the benchmark's metrics."""
import statistics

import pandas as pd

MODULES = ("Aggregations", "EtlOps", "Filters", "Flagships", "Joins", "Multimodal", "ScalarFns",
           "SetOps", "Sources", "Streaming", "TextOps", "TypedOps", "VectorOps", "Windows")
SHARED = ("text", "vec", "graph", "win")
MB = 1e6


def pct(values, q: float) -> float:
    """q-th percentile (0..100) by linear interpolation between order statistics."""
    v = sorted(values)
    x = (len(v) - 1) * q / 100.0
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def oracle_check(parity, data_dir: str, res: dict, verify_dir) -> dict:
    """Compare each oracle query's verified output with DuckDB using the
    repository's own comparator; returns {query: reason} for mismatches."""
    con = parity.connect(data_dir)
    bad = {}
    for name, sql in sorted(res["oracle_sql"].items()):
        try:
            sdf = pd.read_parquet(verify_dir / name)
        except Exception as e:  # a missing output is a mismatch, not a crash
            bad[name] = f"spark output unreadable: {e}"
            continue
        try:
            ddf = con.execute(sql).df()
        except Exception as e:
            bad[name] = f"oracle SQL error: {e}"
            continue
        diff = parity.compare(name, sdf, ddf)
        if diff:
            bad[name] = diff
    return bad


def _passes(res: dict, traced: bool):
    return [p for p in res["passes"] if p["traced"] == traced]


def summarize(res: dict, mismatches: dict) -> dict:
    """End-to-end metrics from the untraced passes, plus the failure census.
    batch_s sums each query's median timed execution: a query's minimum
    over a few passes swings with rare lucky executions and its mean with
    bursts of host contention, while its median holds. The query
    percentiles are over every timed query execution. peak_rss_mb is
    printed but is not an end-to-end metric: the JVM grows its heap by
    its own pacing, so VmHWM differs by a fifth between identical runs."""
    passes = _passes(res, False)
    timed = [r for r in res["queries"] if not r["traced"]]
    q_times = [r["construct_s"] + r["exec_s"] for r in timed]
    by_query = {}
    for r, t in zip(timed, q_times):
        by_query.setdefault(r["query"], []).append(t)
    runs = res["verify_queries"] + res["warmup_queries"] + res["queries"]
    threw = {}
    for r in runs:
        if not r["ok"]:
            threw.setdefault(r["query"], r["error"])
    failed = sum(not r["ok"] for r in runs) + len(mismatches)
    oracle = set(res["oracle_sql"])
    return {
        "end_to_end": {
            "setup_s": (res["setup_s"], "s"),
            "batch_s": (sum(statistics.median(v) for v in by_query.values()), "s"),
            "query_p50_s": (pct(q_times, 50), "s"),
            "query_p85_s": (pct(q_times, 85), "s"),
        },
        "peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
        "fail_frac": failed / len(runs),
        "out_mb": statistics.median(p["out_bytes"] for p in passes) / MB,
        "out_files": statistics.median(p["out_files"] for p in passes),
        "n_queries": len(by_query),
        "n_samples": len(q_times),
        "n_passes": len(passes),
        "pass_walls": [p["wall_s"] for p in passes],
        "verify_s": res["verify_s"],
        "attempted": len(runs),
        "failed": failed,
        "correct": failed == 0,
        "threw": threw,
        "mismatches": mismatches,
        "unchecked": sorted({r["query"] for r in res["verify_queries"]} - oracle),
        "checked": len(oracle),
    }


def self_times(spans) -> dict:
    """Span id -> duration minus the time its direct children cover."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end_s"] - s["start_s"])
    return {s["id"]: (s["end_s"] - s["start_s"]) - child.get(s["id"], 0.0) for s in spans}


def unaccounted_s(res: dict) -> float:
    """Largest share of a traced pass's measured wall time that the
    construct and exec spans of its queries do not cover: time the harness
    spent around the engine's layers, which the per-layer split would miss."""
    st = self_times(res["spans"])
    parent = {s["id"]: s["parent"] for s in res["spans"]}
    gaps = []
    for p in _passes(res, True):
        covered = sum(st[s["id"]] for s in res["spans"]
                      if s["name"] in ("construct", "exec")
                      and parent.get(s["parent"]) == p["span"])
        gaps.append(p["wall_s"] - covered)
    return max(gaps)


def layer_self_times(spans) -> dict:
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def overhead_s(res: dict) -> float:
    """Tracing overhead: median traced pass wall minus median untraced."""
    return (statistics.median(p["wall_s"] for p in _passes(res, True))
            - statistics.median(p["wall_s"] for p in _passes(res, False)))


def _span_s(res: dict, name: str) -> float:
    return sum(s["end_s"] - s["start_s"] for s in res["spans"] if s["name"] == name)


def trace_metrics(res: dict) -> dict:
    """Per-layer metrics: medians over the traced passes; set-up layers are
    their span's duration."""
    passes = _passes(res, True)
    n = len(passes)
    cores = res["cores"]
    by_pass = {p["pass"]: {} for p in passes}
    for key, c in res["counters"].items():
        p, _, _q = key.partition("/")
        if int(p) in by_pass:
            tot = by_pass[int(p)]
            for k, v in c.items():
                tot[k] = tot.get(k, 0) + v
    recs = [r for r in res["queries"] if r["traced"]]

    def med(f):
        return statistics.median(f(p) for p in passes)

    def ctr(p, k):
        return by_pass[p["pass"]].get(k, 0)

    def qsum(p, f):
        return sum(f(r) for r in recs if r["pass"] == p["pass"])

    n_queries = len({r["query"] for r in recs})
    m = {
        "tables.warm_s": (_span_s(res, "tables.warm"), "s"),
        "tables.scan_mb": (med(lambda p: ctr(p, "input_b")) / MB, "MB"),
        "tables.scan_rows": (med(lambda p: ctr(p, "input_rows")), "count"),
        "construct.total_s": (med(lambda p: qsum(p, lambda r: r["construct_s"])), "s"),
        "construct.jobs": (med(lambda p: ctr(p, "construct_jobs")), "count"),
    }
    for s in SHARED:
        m[f"shared.{s}_s"] = (_span_s(res, f"shared.{s}"), "s")
    m["shared.cached_mb"] = (res["cached_b"] / MB, "MB")
    for mod in MODULES:
        m[f"exec.{mod}_s"] = (med(lambda p: qsum(p, lambda r: r["exec_s"] if r["module"] == mod else 0.0)), "s")
    m.update({
        "spark.jobs": (med(lambda p: ctr(p, "jobs")), "count"),
        "spark.stages": (med(lambda p: ctr(p, "stages")), "count"),
        "spark.tasks": (med(lambda p: ctr(p, "tasks")), "count"),
        "spark.jobs_per_query": (med(lambda p: ctr(p, "jobs")) / max(1, n_queries), "count"),
        "spark.sched_delay_s": (med(lambda p: ctr(p, "sched_delay_ms")) / 1e3, "s"),
        "spark.task_run_s": (med(lambda p: ctr(p, "task_run_ms")) / 1e3, "s"),
        "spark.task_cpu_s": (med(lambda p: ctr(p, "task_cpu_ns")) / 1e9, "s"),
        "spark.core_util": (med(lambda p: ctr(p, "task_run_ms") / 1e3 / (p["wall_s"] * cores)), "ratio"),
        "spark.shuffle_write_mb": (med(lambda p: ctr(p, "shuffle_write_b")) / MB, "MB"),
        "spark.shuffle_read_mb": (med(lambda p: ctr(p, "shuffle_read_b")) / MB, "MB"),
        "spark.spill_mb": (med(lambda p: ctr(p, "spill_b")) / MB, "MB"),
        "spark.gc_s": (med(lambda p: ctr(p, "gc_ms")) / 1e3, "s"),
        "spark.result_mb": (med(lambda p: ctr(p, "result_b")) / MB, "MB"),
        "spark.failed_tasks": (med(lambda p: ctr(p, "failed_tasks")), "count"),
        "stream.batches": (res["stream"]["batches"] / n, "count"),
        "stream.batch_s": (res["stream"]["batch_ms"] / 1e3 / n, "s"),
        "sink.records": (med(lambda p: ctr(p, "records_written")), "count"),
        "sink.out_mb": (med(lambda p: p["out_bytes"]) / MB, "MB"),
        "sink.out_files": (med(lambda p: p["out_files"]), "count"),
        "trace.overhead_s": (overhead_s(res), "s"),
    })
    return m


def trace_dump(res: dict, layer: dict, provenance: dict) -> dict:
    """The traced run's artifact: span tree with self times, one record per
    traced query execution, and the tracing overhead."""
    st = self_times(res["spans"])
    records = []
    for r in res["queries"]:
        if not r["traced"]:
            continue
        c = res["counters"].get(f"{r['pass']}/{r['query']}", {})
        records.append({
            "pass": r["pass"], "query": r["query"], "module": r["module"], "ok": r["ok"],
            "construct_s": r["construct_s"], "exec_s": r["exec_s"],
            "jobs": c.get("jobs", 0), "stages": c.get("stages", 0), "tasks": c.get("tasks", 0),
            "shuffle_read_b": c.get("shuffle_read_b", 0),
            "shuffle_write_b": c.get("shuffle_write_b", 0),
            "spill_b": c.get("spill_b", 0), "rows": c.get("records_written", 0)})
    return {
        "workload": res["workload"], "provenance": provenance,
        "overhead_s": overhead_s(res),
        "metrics": {k: v for k, (v, _u) in layer.items()},
        "layer_self_s": layer_self_times(res["spans"]),
        "spans": [dict(s, self_s=st[s["id"]]) for s in res["spans"]],
        "queries": records,
    }


def report(workload: str, summary: dict, shown: dict, provenance: dict) -> None:
    """Human-readable lines: every metric by name and unit, then the
    failure census, then provenance. The JSON result line follows."""
    print(f"workload {workload}: {summary['n_queries']} queries x {summary['n_passes']} "
          f"timed passes (query percentiles over n={summary['n_samples']} executions)")
    for k, (v, u) in {**summary["end_to_end"], **shown}.items():
        print(f"  {k} = {v:.6g} {u}")
    print(f"  fail_frac = {summary['fail_frac']:.6g} ratio ({summary['failed']} of "
          f"{summary['attempted']} query executions threw or mismatched)")
    print(f"  peak_rss_mb = {summary['peak_rss_mb']:.6g} MB")
    print(f"  out_mb = {summary['out_mb']:.6g} MB")
    print(f"  out_files = {summary['out_files']:.6g} count")
    print(f"oracle: {summary['checked'] - len(summary['mismatches'])}/{summary['checked']} match DuckDB; "
          f"unchecked (no oracle): {', '.join(summary['unchecked']) or 'none'}")
    for n, why in summary["mismatches"].items():
        print(f"  MISMATCH {n}: {why}")
    for n, why in summary["threw"].items():
        print(f"  FAILED {n}: {why}")
    print(f"phases: setup {summary['end_to_end']['setup_s'][0]:.3f} s, untimed verification pass "
          f"{summary['verify_s']:.3f} s, timed passes {[round(w, 3) for w in summary['pass_walls']]} s")
    print("provenance: " + ", ".join(f"{k}={v}" for k, v in provenance.items()))
