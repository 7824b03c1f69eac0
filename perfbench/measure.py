"""Measurement helpers: percentiles, spans, process-tree CPU and RSS,
and stage metrics from Spark's status REST API."""

from __future__ import annotations

import json
import os
import threading
import urllib.request
from datetime import datetime, timezone

# --- percentiles ------------------------------------------------------------


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile with at least ``beyond`` samples above it,
    as (percentile, value); None when there are too few samples.

    With the samples sorted, the value at 0-based index n - 1 - beyond has
    exactly ``beyond`` samples after it, and (index + 1) / n of the samples
    at or below it."""
    n = len(samples)
    if n <= beyond:
        return None
    k = n - 1 - beyond
    return 100.0 * (k + 1) / n, sorted(samples)[k]


def tail(samples: list[float], min_percentile: float = 90.0) -> tuple[float, float]:
    """The reported tail, as (percentile, value): the ``tail_percentile``
    rule when it reaches ``min_percentile``, else the maximum, reported as
    percentile 100. Below 100 samples the rule lands under the 90th
    percentile, where a slowdown of the slowest operations cannot show."""
    rule = tail_percentile(samples)
    if rule is not None and rule[0] >= min_percentile:
        return rule
    return 100.0, max(samples)


# --- spans ------------------------------------------------------------------


class Spans:
    """Spans kept in memory: name, start, end, parent and run id. Times
    are seconds from ``time.time()``, so they line up with Spark's job
    submission times."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.items.append(
            {"id": len(self.items), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return len(self.items) - 1

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it covered by its children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.items:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {s["id"]: self_time(s["start"], s["end"], children.get(s["id"], []))
                for s in self.items}

    def dump(self, path: str, **extra) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump({"run": self.run_id, **extra,
                       "spans": [{**s, "self_s": selfs[s["id"]]} for s in self.items]}, f)


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Duration of [start, end] not covered by the union of the children,
    each clipped to the interval."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


# --- process tree -----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start past the last ')'.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    root = os.getpid()
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                parent[int(d)] = int(st[1])
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s() -> float:
    """CPU seconds of this process tree: utime + stime of each process in it
    now, plus those of its reaped children.

    The tree is listed at each call, so the difference of two readings
    counts a process that started between them (the Python workers the
    JVM forks on the first UDF) from 0. A process that ended between them
    was reaped by its parent in the tree, whose children's times then hold
    all of its CPU, and the first reading's share is subtracted with it."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> dict[int, float]:
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE / 2**20
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the RSS of this process tree on a thread while active;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_by_pid: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids = tree_pids()
        n = 0
        while not self._stop.is_set():
            if n % 20 == 0:
                pids = tree_pids()
            by_pid = rss_mb(pids)
            if sum(by_pid.values()) > self.peak_mb:
                self.peak_mb = sum(by_pid.values())
                self.peak_by_pid = by_pid
            n += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- Spark status REST API --------------------------------------------------


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def wait_listener(spark, timeout_ms: int = 10_000) -> None:
    """Let the listener bus deliver every event posted so far, so the
    status store holds the jobs that just ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class StageBook:
    """Reads job and stage metrics from the status REST API. Each call
    returns the jobs that started since the previous call, each with the
    summed metrics of the stages it ran. A completed stage is booked once,
    to the first job that ran it; later jobs list it again as skipped."""

    def __init__(self, spark):
        self.spark = spark
        self.next_job = 0
        self.booked: set[int] = set()

    def new_jobs(self) -> list[dict]:
        wait_listener(self.spark)
        jobs = sorted((j for j in _get(self.spark, "jobs") if j["jobId"] >= self.next_job),
                      key=lambda j: j["jobId"])
        stages = {s["stageId"]: s for s in _get(self.spark, "stages?status=complete")}
        out = []
        for j in jobs:
            m = {"job": j["jobId"], "group": j.get("jobGroup"),
                 "submitted": _epoch(j["submissionTime"]), "stages": 0}
            m.update({k: 0 for k in STAGE_FIELDS})
            for sid in j["stageIds"]:
                s = stages.get(sid)
                if s is None or sid in self.booked:
                    continue
                self.booked.add(sid)
                m["stages"] += 1
                for k, (field, scale) in STAGE_FIELDS.items():
                    m[k] += s.get(field, 0) * scale
            out.append(m)
        if jobs:
            self.next_job = jobs[-1]["jobId"] + 1
        return out
