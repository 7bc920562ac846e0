"""Per-layer metrics and tables from a traced run's span tree.

    python3 perfbench/report.py .perfbench/traces/*.json
    python3 perfbench/report.py --overhead UNTRACED.json TRACED.json

The first form prints the per-layer table of each dumped trace.  The
second reads two result lines (the last stdout line of an untraced and a
traced run of one workload) and prints the tracing overhead: traced
minus untraced median iteration wall.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from spans import Trace, covered

MB = float(1 << 20)

LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.construct_s": "s",
    "plans.build_s": "s",
    "plans.driver_job_s": "s",
    "plans.driver_jobs": "count",
    "plans.driver_cpu_s": "s",
    "plans.appended_frac": "fraction",
    "operators.construct_s": "s",
    "operators.execute_s": "s",
    "operators.exec_cpu_s": "s",
    "operators.shuffle_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.gc_s": "s",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "sources.scan_mb": "MB",
    "sources.write_mb": "MB",
    "sources.write_files": "count",
    "functions.pyworker_cpu_s": "s",
    "functions.python_mb": "MB",
    "host.steal_s": "s",
    "host.jvm_sys_s": "s",
    "bench.gen_s": "s",
    "bench.trace_iter_p50_s": "s",
}


def appended_frac(rows: dict[str, list[dict]]) -> float:
    """Useful outcomes / attempts: batch documents the ingest cycle
    appended, from its summary row (0 when the cycle did not run)."""
    cyc = (rows.get("pipeline_ingest_cycle") or [{}])[0]
    return cyc["n_appended"] / cyc["n_batch"] if cyc.get("n_batch") else 0.0


def window_metrics(trace: Trace, iteration: int) -> dict[str, float]:
    """Sum the windows and jobs under one iteration span into layer
    metrics.  Eager keys' construction is the ``plans`` layer: its wall
    splits into jobs submitted inside the window (``driver_job_s``, the
    union of their intervals) and the rest (``build_s``, the window's
    self time), so construct_s == build_s + driver_job_s exactly."""
    m = {n: 0.0 for n in (
        "plans.construct_s", "plans.build_s", "plans.driver_job_s", "plans.driver_jobs",
        "plans.driver_cpu_s", "operators.construct_s", "operators.execute_s",
        "operators.exec_cpu_s", "operators.shuffle_mb", "operators.spill_mb",
        "operators.gc_s", "operators.stages", "operators.tasks", "operators.failed_tasks",
        "sources.scan_mb", "sources.write_mb", "functions.python_mb",
    )}
    for k in trace.children(iteration):
        key = trace.spans[k]
        for w in trace.children(k):
            win = trace.spans[w]
            jobs = [trace.spans[j].attrs for j in trace.children(w)]
            cpu_s = sum(j["executorCpuTime"] for j in jobs) / 1e9
            if win.kind == "construct" and key.attrs["eager"]:
                intervals = [(trace.spans[j].start, trace.spans[j].end) for j in trace.children(w)]
                m["plans.construct_s"] += win.dur
                m["plans.driver_job_s"] += covered(intervals, win.start, win.end)
                m["plans.build_s"] += trace.self_time(w)
                m["plans.driver_jobs"] += len(jobs)
                m["plans.driver_cpu_s"] += cpu_s
            elif win.kind == "construct":
                m["operators.construct_s"] += win.dur
            else:
                m["operators.execute_s"] += win.dur
                m["operators.exec_cpu_s"] += cpu_s
            m["functions.python_mb"] += win.attrs.get("python_bytes", 0.0) / MB
            for j in jobs:
                m["operators.shuffle_mb"] += j["shuffleWriteBytes"] / MB
                m["operators.spill_mb"] += j["diskBytesSpilled"] / MB
                m["operators.gc_s"] += j["jvmGcTime"] / 1000
                m["operators.stages"] += j["stages"]
                m["operators.tasks"] += j["numCompleteTasks"] + j["numFailedTasks"]
                m["operators.failed_tasks"] += j["numFailedTasks"] + j["stage_retries"]
                m["sources.scan_mb"] += j["inputBytes"] / MB
                m["sources.write_mb"] += j["outputBytes"] / MB
    return m


def layer_metrics(trace: Trace, it) -> dict[str, float]:
    """All per-iteration layer metrics of a run.Iteration ``it``."""
    m = window_metrics(trace, it.span)
    c0, c1 = it.cpu
    m["functions.pyworker_cpu_s"] = c1.worker_s - c0.worker_s
    m["host.steal_s"] = c1.steal_s - c0.steal_s
    m["host.jvm_sys_s"] = c1.jvm_sys_s - c0.jvm_sys_s
    m["sources.write_files"] = it.files
    m["plans.appended_frac"] = appended_frac(it.rows)
    return m


def print_table(title: str, trace: Trace, file=sys.stdout) -> None:
    """Span time and self time per layer, summed over the iterations,
    then each key's construct / driver-job / execute split."""
    rows: dict[str, list[float]] = {}
    per_key: dict[str, list[float]] = {}
    for i, s in enumerate(trace.spans):
        layer = s.kind
        if s.kind == "construct":
            eager = trace.spans[s.parent].attrs["eager"]
            layer = "construct (plans)" if eager else "construct (operators)"
        r = rows.setdefault(layer, [0, 0.0, 0.0])
        r[0] += 1
        r[1] += s.dur
        r[2] += trace.self_time(i)
        if s.kind in ("construct", "execute"):
            k = per_key.setdefault(trace.spans[s.parent].name, [0.0, 0.0, 0.0])
            if s.kind == "construct":
                k[0] += s.dur
                k[1] += s.dur - trace.self_time(i)
            else:
                k[2] += s.dur
    print(f"== {title}: per-layer spans (self = span - child coverage)", file=file)
    print(f"{'layer':24s} {'spans':>6s} {'span s':>9s} {'self s':>9s}", file=file)
    for layer in ("iteration", "key", "construct (plans)", "construct (operators)",
                  "execute", "job"):
        if layer in rows:
            n, span, own = rows[layer]
            print(f"{layer:24s} {n:6d} {span:9.3f} {own:9.3f}", file=file)
    print(f"{'key':32s} {'construct s':>11s} {'in jobs s':>10s} {'execute s':>10s}", file=file)
    for key, (c, j, e) in per_key.items():
        print(f"{key:32s} {c:11.3f} {j:10.3f} {e:10.3f}", file=file)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="*", help="span-tree JSON files")
    ap.add_argument("--overhead", nargs=2, metavar=("UNTRACED", "TRACED"),
                    help="result-line files of an untraced and a traced run")
    args = ap.parse_args()
    for path in args.traces:
        print_table(os.path.basename(path), Trace.load(path))
    if args.overhead:
        vals = []
        for path in args.overhead:
            with open(path) as fh:
                vals.append(json.loads(fh.read().strip().splitlines()[-1])["metrics"])
        untraced = vals[0]["iter_p50_s"]["value"]
        traced = vals[1]["bench.trace_iter_p50_s"]["value"]
        print(f"tracing overhead: {traced - untraced:+.3f} s per iteration "
              f"({traced:.3f} traced - {untraced:.3f} untraced)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
