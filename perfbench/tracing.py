"""Spans, Spark stage metrics and peak RSS, all measured from outside the
engine.

A traced run wraps each layer call in ``Tracer.span``: the span sets a
Spark job group, and when it ends the stage metrics of that group's jobs
are read from the driver's status store (this works with
``spark.ui.enabled=false``). Spans stay in memory and are written to a
JSON file when the run ends. With tracing off, ``span`` and ``force``
cost nothing and change no plan.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

STAGE_FIELDS = (
    "executor_run_s",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "input_records",
    "spill_bytes",
)


def _stage_metrics(spark, stage_ids: set[int]) -> dict:
    """Sum the status-store metrics of ``stage_ids`` (all attempts)."""
    out = dict.fromkeys(STAGE_FIELDS, 0)
    if not stage_ids:
        return out
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    lo = min(stage_ids)
    for i in range(stages.size()):  # newest stage first
        st = stages.apply(i)
        sid = st.stageId()
        if sid in stage_ids:
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_records"] += st.inputRecords()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        elif sid < lo:
            break
    return out


class Tracer:
    """Span recorder. ``enabled=False`` makes every method a no-op."""

    def __init__(self, spark, enabled: bool, run_id: str) -> None:
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.unit = 0  # which unit of work (job or batch) spans belong to
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()  # span times are relative to this

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block. Yields a dict the block may
        add counts to (ignored when tracing is off)."""
        rec: dict = {}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        rec.update(
            run=self.run_id, unit=self.unit, id=len(self.spans), name=name,
            parent=self._stack[-1]["id"] if self._stack else None,
            group=f"perfbench-{id(self)}-{len(self.spans)}",
        )
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(rec["group"])
            stage_ids: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(int(x) for x in info.stageIds)
            rec["jobs"] = len(jobs)
            rec.update(_stage_metrics(self.spark, stage_ids))
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def force(self, df: DataFrame, rec: dict | None = None, key: str = "") -> DataFrame:
        """Materialize ``df`` at a layer boundary (persist + count) when
        tracing, adding the row count to ``rec[key]`` if ``rec`` is
        given; return ``df`` untouched otherwise."""
        if not self.enabled:
            return df
        df = df.persist()
        n = df.count()
        if rec is not None:
            rec[key] = rec.get(key, 0) + n
        return df

    def finish(self) -> list[dict]:
        """Add duration and self time (duration minus the time covered by
        child spans; children run sequentially) to every span."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["wall_s"]
        for s in self.spans:
            s["self_s"] = s["wall_s"] - child_time.get(s["id"], 0.0)
        return self.spans


# ---------------------------------------------------------------------------
# peak RSS of this process and all its descendants (driver JVM, Python
# workers), sampled from /proc


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
            tasks = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError, ValueError):
            continue  # the process ended while it was read
        for task in tasks:
            try:
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except (OSError, ValueError):
                pass  # the thread ended while it was read
    return total


class RssSampler:
    """Background thread recording the peak RSS of the process tree."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
