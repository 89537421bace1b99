"""Measurement plumbing kept outside the program under test.

- ``StatusStore`` reads Spark's AppStatusStore per job group (executor CPU,
  shuffle, spill, GC) right after a call, before the store evicts stages
  beyond ``spark.ui.retainedStages``.
- ``Spans`` records named spans with parents in memory; self time is a
  span's duration minus what its child spans cover.
- ``RssSampler`` samples the resident set size of this process's children
  (the driver JVM and the Python workers under it) from /proc.
- ``cpu_canary`` times a fixed CPU-bound Spark job so a reader can tell a
  slow host window from a code change.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class StatusStore:
    """Per-job-group stage metrics from the driver's AppStatusStore."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = spark._jsparkSession.sparkContext()
        self._seen_jobs: set[int] = set()

    @contextmanager
    def group(self, name: str):
        """Tag every job the body starts with job group ``name``."""
        self._sc.setJobGroup(name, name, False)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def read(self, name: str) -> dict[str, float]:
        """Sum the stage metrics of every job in group ``name`` not read yet."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)
        stage_ids: set[int] = set()
        n_jobs = 0
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if job.jobId() in self._seen_jobs or not group.isDefined() \
                    or group.get() != name:
                continue
            self._seen_jobs.add(job.jobId())
            n_jobs += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = {"jobs": n_jobs, "exec_cpu_s": 0.0, "shuffle_mb": 0.0,
               "spill_mb": 0.0, "gc_s": 0.0}
        if not stage_ids:
            return out
        gw = self._sc._gateway
        stages = store.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0), None)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids:
                continue
            out["exec_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += (s.memoryBytesSpilled()
                                + s.diskBytesSpilled()) / MB
            out["gc_s"] += s.jvmGcTime() / 1e3
        return out


class Spans:
    """In-memory span recorder: (name, parent, start, end)."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its direct children cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"]
            for c in self.spans:
                if c["parent"] == s["name"] and c["start"] >= s["start"] \
                        and c["end"] <= s["end"]:
                    own -= c["end"] - c["start"]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def export(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [{"name": s["name"], "parent": s["parent"],
                 "start_s": round(s["start"] - t0, 6),
                 "end_s": round(s["end"] - t0, 6)} for s in self.spans]


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, forked by any of its threads (the JVM
    starts the Python worker daemon from a non-main thread)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may contain spaces; ppid follows its ')'
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [pid]
    while todo:
        cur = todo.pop()
        kids = [c for c, p in parent.items() if p == cur]
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants, sampled every
    ``interval`` seconds on a daemon thread; ``reset`` starts a new peak."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            total = sum(_rss_bytes(p) for p in descendants(me))
            with self._lock:
                self._peak = max(self._peak, total)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / MB


def cpu_canary(spark, rows: int = 200_000) -> float:
    """Best of two passes of a fixed sha256-chain aggregation (the shape of
    bench.py's canary, sized for a few cores). Each pass builds a fresh plan
    so no shuffle output is reused."""
    from pyspark.sql import functions as F

    def run(salt: str) -> float:
        t0 = time.perf_counter()
        df = spark.range(0, rows, 1, spark.sparkContext.defaultParallelism)
        s = F.sha2(F.concat(F.lit(salt), F.col("id").cast("string")), 256)
        for _ in range(7):
            s = F.sha2(F.concat(s, F.col("id").cast("string")), 256)
        df.select(F.xxhash64(s).alias("h")) \
            .agg(F.expr("bit_xor(h)").alias("s")).collect()
        return time.perf_counter() - t0

    run("warmup")
    return min(run("canary0"), run("canary1"))
