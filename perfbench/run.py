"""Benchmark: one workload per run, over inputs no earlier iteration saw.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 9 --trace 0

Workloads (``extract``, ``ingest``), their keys, input shapes
and pinned settings are defined in ``perfbench/spec.json``.  Each
iteration generates its own input directory from (seed, iteration)
before the clock starts, then for every key constructs the DataFrame
(``registry.load_all()[key].spark(spark, dir)``) and drains it through
the ``noop`` sink.  Off the clock, outputs are checked against the DuckDB
oracles and every store derived from the input is deleted.  The
workload's ``warm_iterations`` untimed iterations precede the timed ones,
which run until ``--seconds`` of iteration wall have elapsed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns the
Spark UI on, snapshots its ``/api/v1`` jobs and stages whenever a
construct or execute window closes, prints the per-layer metrics (and a
per-layer table on stderr) and writes the span tree to
``.perfbench/traces/<workload>-s<seed>.json``.  The last stdout line is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_FILES = ("mergeextractor_spark/registry.py", "tools/selfcheck.py", "tools/make_golden.py")


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


@dataclass
class Iteration:
    wall: float = 0.0
    gen_s: float = 0.0
    cpu: tuple = ()             # (before, after) process-tree samples
    rows: dict = field(default_factory=dict)   # small outputs, per key
    bad: list = field(default_factory=list)    # keys that failed
    files: int = 0              # files of derived stores, before cleaning
    span: int | None = None     # iteration span in the trace


class Loop:
    """Runs iterations of one workload against a ``program`` adapter
    (``SparkProgram``; tests pass a fake).  It refuses to run an iteration
    over an input directory, or while stores derived from an input
    survive, that an earlier iteration of this process saw."""

    def __init__(self, workload: str, seed: int, shape: dict, work: str, program,
                 sample=lambda: None, trace=None) -> None:
        self.workload, self.seed, self.shape = workload, seed, shape
        self.work, self.program = work, program
        self.sample, self.trace = sample, trace
        self.seen: set[str] = set()

    def input_dir(self, it: int) -> str:
        return os.path.join(self.work, "in", f"{self.workload}-s{self.seed}-i{it}")

    def run(self, it: int, check: bool = True) -> Iteration:
        from gen import generate

        d = self.input_dir(it)
        if d in self.seen or os.path.exists(d):
            raise RuntimeError(f"input {d} was already used in this process")
        leftovers = self.program.derived_files()
        if leftovers:
            raise RuntimeError(f"stores of an earlier input survive: {leftovers[:3]}")
        self.seen.add(d)
        r = Iteration()
        t0 = time.time()
        generate(self.shape, self.seed, it, d)
        r.gen_s = time.time() - t0
        t_check = time.time()
        try:
            if self.trace is not None:
                from spans import Span

                r.span = self.trace.add(Span(f"iteration {it}", "iteration", 0.0, 0.0))
            c0 = self.sample()
            t0 = time.time()
            try:
                frames = self.program.iterate(d, self.trace, r.span)
            except Exception:
                traceback.print_exc()
                print(f"iteration {it}: the program raised", file=sys.stderr)
                r.wall, r.bad = time.time() - t0, [("<program>", "raised")]
                return r
            t1 = time.time()
            r.wall, r.cpu = t1 - t0, (c0, self.sample())
            if r.span is not None:
                self.trace.spans[r.span].start, self.trace.spans[r.span].end = t0, t1
            r.files = len(self.program.derived_files())
            t_check = time.time()
            if check:
                r.bad, r.rows = self.program.check(d, frames)
                for key, problem in r.bad:
                    print(f"iteration {it}: {key}: {problem}", file=sys.stderr)
            return r
        finally:
            t_clean = time.time()
            self.program.clean(d)
            shutil.rmtree(d)
            print(f"iteration {it}: gen {r.gen_s:.2f} s, wall {r.wall:.2f} s, "
                  f"check {t_clean - t_check:.2f} s, "
                  f"clean {time.time() - t_clean:.2f} s", file=sys.stderr)


class SparkProgram:
    """The program under test: a Spark session plus the query registry."""

    def __init__(self, spark, reg, keys: list[str], work: str, status=None,
                 check_every: int = 1) -> None:
        self.spark, self.reg, self.keys, self.status = spark, reg, keys, status
        self.work, self.check_every = work, check_every
        self.warehouse = os.path.join(work, "warehouse")

    def iterate(self, d: str, trace, parent: int | None) -> dict:
        """On the clock: construct and drain every key over ``d``."""
        frames = {}
        for key in self.keys:
            t0 = time.time()
            df = self.reg[key].spark(self.spark, d)
            t1 = time.time()
            if trace is not None:
                from spans import Span

                k = trace.add(Span(key, "key", t0, t0, parent, {"eager": self.reg[key].eager}))
                self.status.close_window(trace, trace.add(Span("construct", "construct", t0, t1, k)))
                t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            if trace is not None:
                e = trace.add(Span("execute", "execute", t1, time.time(), k))
                self.status.close_window(trace, e)
                trace.spans[k].end = time.time()
            frames[key] = df
        return frames

    def check(self, d: str, frames: dict) -> tuple[list, dict]:
        """Off the clock: check every key's output.  The keys are checked
        concurrently (each check is a few small Spark jobs and a DuckDB
        query, mostly fixed overhead), which keeps a run within its
        budget."""
        from concurrent.futures import ThreadPoolExecutor

        def one(key):
            try:
                return check_output(self.reg[key], frames[key], d, self.work,
                                    self.check_every)
            except Exception:
                traceback.print_exc()
                return "the check raised", []

        bad, rows = [], {}
        with ThreadPoolExecutor(max_workers=len(frames) or 1) as pool:
            for key, (problem, rows[key]) in zip(frames, pool.map(one, frames)):
                if problem:
                    bad.append((key, problem))
        return bad, rows

    def _scratch_roots(self) -> list[str]:
        from mergeextractor_spark.operators import _util

        return [r for r in (self.warehouse, _util._SCRATCH_ROOT) if r and os.path.isdir(r)]

    def derived_files(self) -> list[str]:
        return [os.path.join(dp, f) for r in self._scratch_roots()
                for dp, _, fs in os.walk(r) for f in fs]

    def clean(self, d: str) -> None:
        """Off the clock: drop every cached block and every store derived
        from ``d``, and forget the loader's handles on ``d``."""
        from mergeextractor_spark.operators._util import drain_persistent_rdds
        from mergeextractor_spark.sources import fixtures

        drain_persistent_rdds(self.spark)
        for root in self._scratch_roots():
            for name in os.listdir(root):
                p = os.path.join(root, name)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
        memo = fixtures._DF_MEMO.get(self.spark, {})
        for k in [k for k in memo if k[0] == d]:
            del memo[k]
        fixtures._TUNED.get(self.spark, set()).discard(d)


def check_output(q, df, d: str, work: str, every: int = 1) -> tuple[str | None, list[dict]]:
    """Compare ``df`` with ``q``'s DuckDB oracle over the tables in ``d``
    (a rows-only key must return rows); returns (problem or None, the
    output as records when it is small).  ``every`` > 1 compares only the
    documents with ``doc_id % every == 0``, on both sides: valid for keys
    whose output rows each depend on one document alone."""
    import duckdb
    from pyspark.sql import functions as F
    from selfcheck import norm_rows

    from mergeextractor_spark.operators._util import golden_path

    if every > 1:
        df = df.filter(F.col("doc_id") % every == 0)
    pdf = df.toPandas()
    rows = list(pdf.itertuples(index=False, name=None))
    records = pdf.to_dict("records") if len(pdf) <= 100 else []
    if q.oracle is None:
        return (None if rows else "rows-only key returned no rows"), records
    con = duckdb.connect()
    oracle, golden = q.oracle, None
    try:
        for f in os.listdir(d):
            name = f.removesuffix(".parquet")
            where = f" WHERE doc_id % {every} = 0" if name == "documents" else ""
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{d}/{f}'{where}")
        if golden_path(q.key) in oracle:
            golden = _golden_for(q.key, con, d, work)
            oracle = oracle.replace(golden_path(q.key), golden)
        o = con.execute(oracle).df()
    finally:
        con.close()
        if golden:
            os.remove(golden)
    orows = list(o.itertuples(index=False, name=None))
    if sorted(pdf.columns) != sorted(o.columns):
        return f"columns {sorted(pdf.columns)} != oracle {sorted(o.columns)}", records
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}", records
    if norm_rows(list(pdf.columns), rows) != norm_rows(list(o.columns), orows):
        return "values differ from the oracle", records
    return None, records


def _golden_for(key: str, con, d: str, work: str) -> str:
    """A golden oracle looks rows up by md5(text) of the fixture texts;
    rebuild its table for this input with the repository's own
    ``tools/make_golden.golden_<key>``."""
    import make_golden
    import pandas as pd

    texts = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    path = os.path.join(work, "tmp", f"golden-{os.path.basename(d)}-{key}.parquet")
    pd.DataFrame(getattr(make_golden, f"golden_{key}")(texts)).to_parquet(path)
    return path


def _setup_env(spec: dict, work: str) -> None:
    """Pin the program's settings before pyspark or the package is imported."""
    for sub in ("local", "tmp", "warehouse", "in"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(spec["session"]["env"])
    local = os.path.join(work, "local")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    for p in (ROOT, os.path.join(ROOT, "tools"), HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop(tree: list[int]) -> None:
    """Stop the session, then wait until the JVM and every process it
    forked (``tree``: the Python workers) have exited."""
    import subprocess

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in tree if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def measure(spec: dict, workload: str, seed: int, seconds: float, traced: bool,
            work: str) -> dict:
    """One run; returns the result object printed as the last line."""
    import procstat

    wl = spec["workloads"][workload]
    t0 = time.perf_counter()
    from pyspark import SparkContext

    from mergeextractor_spark.registry import load_all
    from mergeextractor_spark.session import get_spark

    confs = dict(spec["session"]["confs"])
    confs.update(spec["session"]["traced_confs" if traced else "untraced_confs"])
    confs["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    # keep the JVM's scratch, and its perf-data file, out of /tmp
    confs["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    me = os.getpid()
    try:
        spark = get_spark(f"perfbench-{workload}", confs)
        reg = load_all()
        start_s = time.perf_counter() - t0
        jvm = SparkContext._gateway.proc.pid
        trace = status = None
        if traced:
            from spans import SparkStatus, Trace

            trace, status = Trace(), SparkStatus(spark)
        program = SparkProgram(spark, reg, wl["keys"], work, status,
                               wl.get("check_every_nth_doc", 1))
        loop = Loop(workload, seed, wl["input"], work, program,
                    sample=lambda: procstat.sample(me, jvm))
        warm_s = sum(loop.run(-i, check=False).wall for i in range(wl["warm_iterations"]))
        loop.trace = trace
        timed: list[Iteration] = []
        while sum(r.wall for r in timed) < seconds:
            timed.append(loop.run(len(timed) + 1))
        peak_mb = procstat.rss_mb(me)
    finally:
        _stop([p for p in procstat.descendants(me) if p != me])

    walls = [r.wall for r in timed]
    cpus = [r.cpu[1].user_s - r.cpu[0].user_s for r in timed if r.cpu]
    ok = [r for r in timed if not r.bad]
    if traced:
        import report

        per_iter = [report.layer_metrics(trace, r) for r in ok]
        metrics = dict.fromkeys(report.LAYER_UNITS, 0.0)
        metrics.update({n: statistics.median(m[n] for m in per_iter)
                        for n in (per_iter[0] if per_iter else ())})
        metrics.update({
            "session.start_s": start_s,
            "session.warm_s": warm_s,
            "session.peak_rss_mb": peak_mb,
            "bench.gen_s": statistics.median(r.gen_s for r in timed),
            "bench.trace_iter_p50_s": statistics.median(walls),
        })
        units = report.LAYER_UNITS
        path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-s{seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        trace.dump(path)
        report.print_table(workload, trace, file=sys.stderr)
    else:
        metrics = {
            "setup_s": start_s + warm_s,
            "iter_p50_s": statistics.median(walls),
            "docs_per_s": wl["input"]["docs"] * len(timed) / sum(walls),
            "cpu_s_per_iter": statistics.median(cpus) if cpus else 0.0,
        }
        units = {"setup_s": "s", "iter_p50_s": "s", "docs_per_s": "1/s", "cpu_s_per_iter": "s"}
    failed = len(timed) - len(ok)
    return {
        "correct": failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"program files not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    # a terminated run still stops the JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _setup_env(spec, work)
    try:
        result = measure(spec, args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
