"""Per-operator tracing from outside the engine, plus /proc sampling.

``OpTracer`` wraps one operator call at a time. It reads the jobs and
stages the call ran from Spark's own status REST API (the UI server of
the traced session) and the CPU the Python workers burned from /proc,
and keeps one record per call. Ops never overlap, so every job
submitted inside an op's wall-clock window belongs to that op; this
also catches jobs an operator launches from its own helper threads,
which a thread-local job group would miss.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import os
import threading
import time
import urllib.request
from collections import defaultdict
from datetime import datetime, timezone

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

#: per-op fields, in output order
OP_FIELDS = ("wall_s", "driver_gap_s", "jobs", "stages", "executor_cpu_s",
             "shuffle_bytes", "task_skew")


def _proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, command name, stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s[s.rindex(")") + 2:].split()
        out[int(d)] = (int(rest[1]), s[s.index("(") + 1:s.rindex(")")], rest)
    return out


def _descendants(root: int) -> list[tuple[str, list[str]]]:
    """(command name, stat fields) of every process below ``root``."""
    table = _proc_table()
    kids = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        kids[ppid].append(pid)
    out, todo = [], list(kids[root])
    while todo:
        pid = todo.pop()
        out.append(table[pid][1:])
        todo.extend(kids[pid])
    return out


def child_rss_bytes() -> int:
    """RSS of every process below this one: the Spark JVM and the
    Python workers it forks."""
    return sum(int(r[21]) for _, r in _descendants(os.getpid())) * _PAGE


def worker_cpu_s() -> float:
    """User+system CPU seconds of the Python workers below this
    process, including workers that already exited (their parents'
    cutime)."""
    return sum(
        int(r[11]) + int(r[12]) + int(r[13]) + int(r[14])
        for comm, r in _descendants(os.getpid()) if comm.startswith("python")
    ) / _CLK


class RssSampler:
    """Peak of :func:`child_rss_bytes`, sampled every 0.1 s on a thread
    until stopped."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, child_rss_bytes())
            self._stop.wait(0.1)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, child_rss_bytes())


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class OpTracer:
    """Records :data:`OP_FIELDS` for every traced call of every op."""

    def __init__(self, spark):
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("tracing needs spark.ui.enabled=true")
        self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._seen_job = max((j["jobId"] for j in self._get("/jobs")), default=-1)
        self.calls: dict[str, list[dict[str, float]]] = defaultdict(list)

    def _get(self, path: str):
        with urllib.request.urlopen(self._api + path, timeout=30) as r:
            return json.load(r)

    def _settled_jobs(self, lo: float, hi: float) -> list[dict]:
        """Jobs submitted in [lo, hi], once the status store, which the
        listener bus updates asynchronously, has seen all of them end."""
        deadline, last = time.time() + 10, None
        while time.time() < deadline:
            time.sleep(0.05)
            jobs = [j for j in self._get("/jobs") if j["jobId"] > self._seen_job]
            ids = sorted(j["jobId"] for j in jobs)
            if ids == last and all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs):
                break
            last = ids
        if jobs:
            self._seen_job = max(j["jobId"] for j in jobs)
        return [j for j in jobs if lo <= _ts(j["submissionTime"]) <= hi]

    @contextlib.contextmanager
    def op(self, name: str):
        cpu0 = worker_cpu_s()
        lo, p0 = time.time() - 0.001, time.perf_counter()
        yield
        wall = time.perf_counter() - p0
        hi = time.time() + 0.001
        cpu = worker_cpu_s() - cpu0
        jobs = self._settled_jobs(lo, hi)
        stages = [
            st
            for sid in sorted({s for j in jobs for s in j["stageIds"]})
            for st in self._get(f"/stages/{sid}?details=false")
            if st["status"] == "COMPLETE"
        ]
        spans = [(_ts(s["submissionTime"]), _ts(s["completionTime"])) for s in stages]
        skew = 0.0
        if stages:
            longest = max(stages, key=lambda s: _ts(s["completionTime"])
                          - _ts(s["submissionTime"]))
            q = self._get(f"/stages/{longest['stageId']}/{longest['attemptId']}"
                          "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
            skew = q[1] / max(q[0], 1.0)
        self.calls[name].append({
            "wall_s": wall,
            "driver_gap_s": max(0.0, wall - _covered(spans, lo, hi)),
            "jobs": len(jobs),
            "stages": len(stages),
            "executor_cpu_s": cpu + sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_bytes": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                                 for s in stages),
            "task_skew": skew,
        })

    def metrics(self) -> dict[str, float]:
        """``<op>.<field>``: the median over the op's calls."""
        return {
            f"{name}.{f}": statistics.median(c[f] for c in calls)
            for name, calls in self.calls.items()
            for f in OP_FIELDS
        }
