"""Per-layer accounting for the benchmark, built only from what Spark records.

Nothing inside the package is instrumented. The benchmark labels the jobs of
each call into a layer with ``setJobGroup("<query>:<phase>")`` and reads them
back from the status tracker and the status store; streaming micro-batches
run on their own threads, outside any job group, so a
``StreamingQueryListener`` attributes their progress to the query that
started them. Spans are kept in memory and written out at the end of a run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6


class Tracer:
    """Spans named by layer; spans of one query or request share ``trace``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, layer: str, name: str, trace: str, parent: int | None = None):
        sid = next(self._ids)
        rec = {"id": sid, "layer": layer, "name": name, "trace": trace,
               "parent": parent, "start": time.perf_counter() - self._t0}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


def job_ids(sc, group: str) -> list[int]:
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def job_stats(sc, groups: list[str]) -> dict:
    """Executor-side totals of every job run under ``groups``, from the
    status store's last attempt of each stage."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
           "executor_cpu_s": 0.0, "input_mb": 0.0, "shuffle_read_mb": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "infer_jobs": 0}
    seen: set[int] = set()
    for group in groups:
        for jid in job_ids(sc, group):
            out["jobs"] += 1
            if store.job(jid).name().startswith("parquet at "):
                out["infer_jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["input_mb"] += st.inputBytes() / MB
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
    return out


def plan_stats(df) -> tuple[float, int]:
    """Seconds to build the executed plan, and the plan's scan leaves."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.executedPlan()
    plan_s = time.perf_counter() - t0
    leaves = qe.sparkPlan().collectLeaves()
    scans = sum("Scan" in leaves.apply(i).nodeName() for i in range(leaves.size()))
    return plan_s, scans


def storage_left(sc) -> tuple[int, float]:
    """Persisted RDDs still holding blocks, and the MB they hold."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = [i for i in infos if i.numCachedPartitions() > 0]
    return len(held), sum(i.memSize() + i.diskSize() for i in held) / MB


def free_storage(spark) -> None:
    """Drop every cached table and every persisted RDD (caches and local
    checkpoints alike), so no later query reads an earlier one's data."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


class StreamProgress(StreamingQueryListener):
    """Sums ``StreamingQueryProgress.durationMs`` slices per benchmark query."""

    SLICES = {"triggerExecution": "trigger_ms", "addBatch": "add_batch_ms",
              "queryPlanning": "query_planning_ms", "walCommit": "wal_commit_ms",
              "commitOffsets": "commit_offsets_ms"}

    def __init__(self) -> None:
        self.current = None  # benchmark query whose streams start now
        self.started = 0
        self._owner: dict[str, str] = {}
        self.by_query: dict[str, dict] = {}
        self._lock = threading.Lock()
        self.last_event = time.perf_counter()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._owner[str(event.id)] = self.current
            self.started += 1
            self.last_event = time.perf_counter()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            owner = self._owner.get(str(p.id), self.current)
            acc = self.by_query.setdefault(owner, dict.fromkeys(
                ["batches", "input_rows", *self.SLICES.values()], 0))
            acc["batches"] += 1
            acc["input_rows"] += int(p.numInputRows)
            for key, name in self.SLICES.items():
                acc[name] += int(p.durationMs.get(key, 0))
            self.last_event = time.perf_counter()

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.last_event = time.perf_counter()

    def take(self, query: str) -> dict:
        with self._lock:
            return self.by_query.pop(query, None) or dict.fromkeys(
                ["batches", "input_rows", *self.SLICES.values()], 0)

    def settle(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
        """Wait until the listener bus has been quiet for ``quiet_s``."""
        end = time.perf_counter() + limit_s
        while time.perf_counter() < end and time.perf_counter() - self.last_event < quiet_s:
            time.sleep(0.05)
