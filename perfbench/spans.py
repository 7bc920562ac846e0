"""Spans of a traced benchmark run and the Spark statistics attached to them.

The span tree is iteration -> key -> construct / execute -> Spark job.
Window spans (construct, execute) are timed by the benchmark around its
calls into the program; job spans come from the Spark UI's ``/api/v1``
endpoint, snapshotted when a window closes, and are attributed to the
window their *submission time* falls in.  Job descriptions are not used:
jobs that a key submits from its own thread pool do not inherit the
calling thread's description.

A span's self time is its duration minus the part of it that its
children cover, so a construct window splits exactly into plan building
(self time) and driver-run jobs (child coverage).
"""

from __future__ import annotations

import json
import re
import urllib.request
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone


@dataclass
class Span:
    name: str
    kind: str  # iteration | key | construct | execute | job
    start: float
    end: float
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Trace:
    """In-memory span store; ``dump`` writes it out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._kids: dict[int | None, list[int]] = {}

    def add(self, span: Span) -> int:
        self.spans.append(span)
        idx = len(self.spans) - 1
        self._kids.setdefault(span.parent, []).append(idx)
        return idx

    def children(self, idx: int | None) -> list[int]:
        """Indices of the spans whose parent is ``idx`` (``None``: roots)."""
        return self._kids.get(idx, [])

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        kids = [self.spans[c] for c in self.children(idx)]
        return s.dur - covered([(c.start, c.end) for c in kids], s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)

    @classmethod
    def load(cls, path: str) -> "Trace":
        t = cls()
        with open(path) as fh:
            for d in json.load(fh):
                t.add(Span(**d))
        return t


def _ts(s: str) -> float:
    return datetime.strptime(s.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _bytes(value: str) -> float:
    """A SQL size metric: ``'5.8 MiB'``, or a multi-task summary whose
    second line starts with the total."""
    m = _SIZE.search(value.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


# stage counters summed per window; executorCpuTime is in nanoseconds
STAGE_FIELDS = (
    "executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
    "shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled",
    "diskBytesSpilled", "numCompleteTasks", "numFailedTasks",
)


class SparkStatus:
    """Reads jobs, stages and SQL executions from the live Spark UI.  No
    background polling: ``close_window`` is called when a window ends."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[int] = set()
        # SQL executions before this index are finished and attributed
        self._sql_offset = 0
        # the UI's first REST request initialises its handlers (~1.5 s);
        # pay that here, not inside the first traced window
        self._get("jobs")
        self._get("stages")
        self._get("sql?details=true&planDescription=false&length=1")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=30) as r:
            return json.load(r)

    def close_window(self, trace: Trace, window: int) -> None:
        """Attach every job submitted inside ``trace.spans[window]`` as a
        child span carrying its stages' counters, and the window's bytes
        to and from Python workers as a window attribute."""
        self._bus.waitUntilEmpty()  # the UI store lags the scheduler
        w = trace.spans[window]
        for job in sorted(self._get("jobs"), key=lambda j: j["jobId"]):
            if job["jobId"] in self._seen_jobs or "completionTime" not in job:
                continue
            sub = _ts(job["submissionTime"])
            if not (w.start <= sub <= w.end):
                continue
            self._seen_jobs.add(job["jobId"])
            agg = dict.fromkeys(STAGE_FIELDS, 0)
            agg["stages"] = agg["stage_retries"] = 0
            for sid in job["stageIds"]:
                # a stage this job skipped ran, and is counted, in the
                # earlier job that submitted it
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                for st in self._get(f"stages/{sid}"):
                    if (st["status"] not in ("COMPLETE", "FAILED")
                            or _ts(st["submissionTime"]) < sub):
                        continue
                    agg["stages"] += st["attemptId"] == 0
                    agg["stage_retries"] += st["attemptId"] > 0
                    for f in STAGE_FIELDS:
                        agg[f] += st.get(f, 0)
            trace.add(Span(f"job {job['jobId']}", "job", sub,
                           _ts(job["completionTime"]), window, agg))
        py = 0.0
        done, offset = True, self._sql_offset
        for i, ex in enumerate(self._get(
            f"sql?details=true&planDescription=false&length=1000000&offset={offset}"
        )):
            sub = _ts(ex["submissionTime"])
            done = done and ex["status"] != "RUNNING" and sub <= w.end
            if done:  # nothing up to here can fall in a later window
                self._sql_offset = offset + i + 1
            if ex["status"] == "RUNNING" or not (w.start <= sub <= w.end):
                continue
            for node in ex.get("nodes", ()):
                for m in node.get("metrics", ()):
                    if m["name"] in _PY_BYTES:
                        py += _bytes(m["value"])
        w.attrs["python_bytes"] = py
