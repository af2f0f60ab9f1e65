"""Benchmark-side tracing: spans around each call into a layer.

A span records name, start, end and parent; spans live in memory and are
written out once, at the end of the run. Each span runs its Spark work
under its own job group, so Spark's status store can attribute
stage metrics (executor run time, shuffle and spill bytes) to it.
With tracing off, ``span`` records nothing and sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import time


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{sid}", "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self.spans[self._stack[-1]]["group"], self.spans[self._stack[-1]]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def children(self, sid: int | None) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [k["id"] for k in kids]
        return out

    def groups(self, spans: list[dict]) -> set[str]:
        """Job groups of ``spans`` and all their descendants."""
        out = set()
        for s in spans:
            out.add(s["group"])
            out.update(d["group"] for d in self.descendants(s["id"]))
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def dur(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def next_job_id(spark) -> int:
    """Id Spark will give its next job."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    return 1 + max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "memory_spill_bytes": ("memoryBytesSpilled", 1),
}


class StageIndex:
    """One pass over Spark's status store: the stages of every job
    numbered ``first_job`` or later, by job group. Skipped stages did no
    work and are left out."""

    def __init__(self, spark, first_job: int = 0):
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self.stages: dict[str | None, set[int]] = {}
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() < first_job:
                continue
            group = job.jobGroup().get() if job.jobGroup().isDefined() else None
            ids = job.stageIds()
            self.stages.setdefault(group, set()).update(ids.apply(k) for k in range(ids.size()))
        self._cache: dict[int, dict | None] = {}

    def _stage(self, sid: int) -> dict | None:
        if sid not in self._cache:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never submitted (py4j NoSuchElement)
                st = None
            self._cache[sid] = None if st is None or st.status().toString() != "COMPLETE" else {
                key: getattr(st, getter)() * scale for key, (getter, scale) in _STAGE_FIELDS.items()
            }
        return self._cache[sid]

    def metrics(self, groups: set[str] | None = None) -> dict:
        """Summed stage metrics over the jobs of ``groups`` (None = every
        job)."""
        keys = list(self.stages) if groups is None else [g for g in groups if g in self.stages]
        out = {k: 0.0 for k in _STAGE_FIELDS}
        for sid in set().union(*(self.stages[g] for g in keys)):
            st = self._stage(sid)
            for key in out if st else ():
                out[key] += st[key]
        out["spill_bytes"] += out.pop("memory_spill_bytes")
        return out


def _kids(node) -> list:
    """Children of an executed plan node, seeing through adaptive query
    stages."""
    if node.getClass().getSimpleName().endswith("QueryStageExec"):
        return [node.plan()]
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def rows_into_udf(plan) -> int:
    """Rows fed to the first (deepest) Arrow UDF of an executed plan: the
    candidate pairs that ``fuzzy_title_pairs`` scores."""
    deepest, todo = None, [(plan, 0)]
    while todo:
        node, depth = todo.pop()
        if node.getClass().getSimpleName() == "ArrowEvalPythonExec" and (
                deepest is None or depth > deepest[1]):
            deepest = (node, depth)
        todo += [(k, depth + 1) for k in _kids(node)]
    if deepest is None:
        raise ValueError("plan has no Arrow UDF")
    node = _kids(deepest[0])[0]
    while not node.metrics().contains("numOutputRows"):
        node = _kids(node)[0]
    return int(node.metrics().get("numOutputRows").get().value())


def exchange_bytes(plan, over) -> int:
    """Bytes that the exchanges (shuffle or broadcast) of an executed
    physical plan move out of a scan for which ``over(node_string)``
    holds, before any join: the data movement one join input costs."""

    def feeds(node) -> bool:
        if "Join" in node.getClass().getSimpleName():
            return False
        return over(node.simpleString(400)) or any(feeds(k) for k in _kids(node))

    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            metrics = node.metrics()
            if metrics.contains("dataSize") and feeds(_kids(node)[0]):
                total += int(metrics.get("dataSize").get().value())
        todo += _kids(node)
    return total


def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0
