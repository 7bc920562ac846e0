"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import generate  # noqa: E402
from report import window_metrics  # noqa: E402
from run import Loop, load_spec  # noqa: E402
from spans import Span, Trace, _bytes  # noqa: E402

SPEC = load_spec()
TINY = {"docs": 40, "words": [5, 12]}


def _digest(d: str) -> dict[str, str]:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_same_seed_and_iteration_give_identical_bytes(tmp_path, workload):
    shape = SPEC["workloads"][workload]["input"]
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sizes = generate(shape, 7, 1, a)
    generate(shape, 7, 1, b)
    assert _digest(a) == _digest(b)
    assert list(sizes) == ["documents"] and sizes["documents"]["rows"] == shape["docs"]


@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_seeds_and_iterations_give_distinct_inputs(tmp_path, workload):
    shape = SPEC["workloads"][workload]["input"]
    digests = []
    for seed, it in ((7, 1), (8, 1), (7, 2)):
        d = str(tmp_path / f"s{seed}i{it}")
        generate(shape, seed, it, d)
        digests.append(_digest(d)["documents.parquet"])
    assert len(set(digests)) == 3


def test_ingest_input_plants_exact_and_near_duplicates(tmp_path):
    shape = SPEC["workloads"]["ingest"]["input"]
    generate(shape, 7, 1, str(tmp_path))
    docs = f"'{tmp_path}/documents.parquet'"
    n, distinct = duckdb.sql(f"SELECT count(*), count(DISTINCT text) FROM {docs}").fetchone()
    exact = n - distinct
    # near copies share their predecessor's first word but not its text
    near = duckdb.sql(f"""
        SELECT count(*) FROM {docs} a JOIN {docs} b ON b.doc_id = a.doc_id - 1
        WHERE a.text <> b.text
          AND len(string_split(a.text, ' ')) = len(string_split(b.text, ' '))
          AND split_part(a.text, ' ', 2) = split_part(b.text, ' ', 2)
          AND split_part(a.text, ' ', 3) = split_part(b.text, ' ', 3)
    """).fetchone()[0]
    for got, rate in ((exact, shape["exact_dup_rate"]), (near, shape["near_dup_rate"])):
        assert 0.5 * rate * n <= got <= 1.5 * rate * n


def _windows(trace: Trace) -> int:
    it = trace.add(Span("iteration 1", "iteration", 0.0, 20.0))
    k = trace.add(Span("pipeline_ingest_cycle", "key", 0.0, 14.0, it, {"eager": True}))
    c = trace.add(Span("construct", "construct", 0.0, 10.0, k))
    job = dict.fromkeys(("executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
                         "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
                         "diskBytesSpilled", "numCompleteTasks", "numFailedTasks",
                         "stages", "stage_retries"), 0)
    # overlapping jobs (a thread pool), and one that outlives the window
    for lo, hi in ((1.0, 3.0), (2.0, 4.0), (8.0, 12.0)):
        trace.add(Span("job", "job", lo, hi, c, dict(job, executorCpuTime=1e9, stages=1)))
    e = trace.add(Span("execute", "execute", 10.0, 14.0, k))
    trace.add(Span("job", "job", 10.5, 13.5, e, dict(job, numCompleteTasks=4, stages=1)))
    lz = trace.add(Span("text_quality_score", "key", 14.0, 20.0, it, {"eager": False}))
    trace.add(Span("construct", "construct", 14.0, 14.5, lz))
    trace.add(Span("execute", "execute", 14.5, 20.0, lz))
    return it


def test_construct_wall_is_build_plus_driver_jobs():
    trace = Trace()
    m = window_metrics(trace, _windows(trace))
    assert m["plans.construct_s"] == pytest.approx(10.0)
    assert m["plans.driver_job_s"] == pytest.approx(3.0 + 2.0)  # [1,4] and [8,10]
    assert m["plans.build_s"] == pytest.approx(5.0)
    assert m["plans.construct_s"] == pytest.approx(m["plans.build_s"] + m["plans.driver_job_s"])
    assert m["plans.driver_jobs"] == 3
    assert m["plans.driver_cpu_s"] == pytest.approx(3.0)
    assert m["operators.construct_s"] == pytest.approx(0.5)
    assert m["operators.execute_s"] == pytest.approx(4.0 + 5.5)
    assert m["operators.stages"] == 4 and m["operators.tasks"] == 4


def test_dumped_trace_keeps_self_times(tmp_path):
    trace = Trace()
    it = _windows(trace)
    trace.dump(str(tmp_path / "t.json"))
    again = Trace.load(str(tmp_path / "t.json"))
    assert [again.self_time(i) for i in range(len(again.spans))] == \
        [trace.self_time(i) for i in range(len(trace.spans))]
    assert window_metrics(again, it) == window_metrics(trace, it)


def test_sql_size_metrics_parse():
    assert _bytes("5.8 MiB") == pytest.approx(5.8 * (1 << 20))
    assert _bytes("total (min, med, max (stageId: taskId))\n1,024.0 B (1.0 B, 2.0 B, 3.0 B)") == 1024.0
    assert _bytes("") == 0.0


class _FakeProgram:
    """Writes a store derived from each input; records what it read."""

    def __init__(self, root: str, leave_stores: bool = False) -> None:
        self.warehouse = os.path.join(root, "warehouse")
        os.makedirs(self.warehouse)
        self.read: list[str] = []
        self.leave_stores = leave_stores

    def iterate(self, d, trace, parent):
        assert os.listdir(self.warehouse) == [], "a store of an earlier input survived"
        self.read.append(d)
        with open(os.path.join(self.warehouse, f"store_{os.path.basename(d)}"), "w") as fh:
            fh.write(d)
        return {"k": d}

    def check(self, d, frames):
        return [], {}

    def derived_files(self):
        return [os.path.join(self.warehouse, f) for f in os.listdir(self.warehouse)]

    def clean(self, d):
        if not self.leave_stores:
            for f in self.derived_files():
                os.remove(f)


def test_no_iteration_reads_an_earlier_input_or_its_stores(tmp_path):
    program = _FakeProgram(str(tmp_path))
    loop = Loop("tiny", 3, TINY, str(tmp_path / "work"), program)
    results = [loop.run(it) for it in range(5)]
    assert all(not r.bad and r.files == 1 for r in results)
    assert len(set(program.read)) == len(program.read) == 5
    assert not any(os.path.exists(d) for d in program.read)  # deleted after use
    with pytest.raises(RuntimeError, match="already used"):
        loop.run(2)


def test_surviving_stores_stop_the_next_iteration(tmp_path):
    loop = Loop("tiny", 3, TINY, str(tmp_path / "work"), _FakeProgram(str(tmp_path), True))
    loop.run(0)
    with pytest.raises(RuntimeError, match="survive"):
        loop.run(1)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result line."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    for line in p.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
