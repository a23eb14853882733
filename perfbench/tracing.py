"""In-memory spans around engine calls, with Spark counters per span.

A span is opened by the benchmark around one call into one engine module;
nothing inside the engine is instrumented. While a span is open, every
Spark job the driver submits carries the span's id as its job group, so
the counters can be read afterwards from Spark's status store (the store
behind the Spark UI, which the session keeps even with the UI disabled).

Spans are kept in memory, each with its parent and the trace id of the
benchmark iteration that caused it, and are written out once at the end.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

#: per-span metrics, in the order they are reported
SPAN_METRICS = (
    "wall_s",
    "jobs",
    "tasks",
    "exec_cpu_s",
    "gc_s",
    "shuffle_mb",
    "spill_mb",
    "driver_gap_s",
)

_GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Span recorder. Disabled, every method is a no-op, so the workloads
    run the same code with tracing on and off."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(dict)
        self.trace_id = 0
        self._stack: list[int] = []
        self._next_id = 0
        self._held: list = []

    def new_trace(self) -> None:
        """Start a new iteration: later spans and counts carry a new id."""
        self.trace_id += 1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        sc.setJobGroup(f"{_GROUP_PREFIX}{sid}", name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"{_GROUP_PREFIX}{self._stack[-1]}", name)
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(
                {
                    "id": sid,
                    "parent": parent,
                    "trace": self.trace_id,
                    "name": name,
                    "start": start,
                    "end": end,
                }
            )

    def count(self, name: str, value: float) -> None:
        """Add ``value`` to the iteration's counter ``name``."""
        if self.enabled:
            cur = self.counts[self.trace_id]
            cur[name] = cur.get(name, 0) + value

    def force(self, df, count_name: str | None = None):
        """Materialize a layer's lazy output at its boundary.

        The result is persisted and counted, so the layer's work lands in
        the open span and the caller's later use reads the cached rows.
        Returns the DataFrame to pass on (the input itself when disabled).
        """
        if not self.enabled:
            return df
        df = df.persist()
        n = df.count()
        self._held.append(df)
        if count_name:
            self.count(count_name, n)
        return df

    def release(self) -> None:
        """Unpersist everything ``force`` cached in this iteration."""
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def layer_metrics(self) -> dict[str, list[dict[str, float]]]:
        """``{span name: [metrics of iteration 1, iteration 2, ...]}``.

        A span's jobs are those submitted under its own group or the group
        of any span beneath it. Its driver gap is the part of its wall
        time during which none of those jobs was running.
        """
        jobs, stages = _read_status_store(self.spark)
        children: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s["id"])
        by_group: dict[int, list[dict]] = defaultdict(list)
        for j in jobs:
            by_group[j["group"]].append(j)

        def subtree_jobs(sid: int) -> list[dict]:
            out = list(by_group.get(sid, []))
            for c in children.get(sid, []):
                out.extend(subtree_jobs(c))
            return out

        per_iter: dict[tuple[str, int], dict[str, float]] = {}
        for s in self.spans:
            js = subtree_jobs(s["id"])
            m = dict.fromkeys(SPAN_METRICS, 0.0)
            m["wall_s"] = s["end"] - s["start"]
            m["jobs"] = len(js)
            for j in js:
                for st in j["stages"]:
                    agg = stages.get(st)
                    if agg is None:
                        continue
                    m["tasks"] += agg["tasks"]
                    m["exec_cpu_s"] += agg["cpu_ns"] / 1e9
                    m["gc_s"] += agg["gc_ms"] / 1e3
                    m["shuffle_mb"] += agg["shuffle_bytes"] / 1e6
                    m["spill_mb"] += agg["spill_bytes"] / 1e6
            busy = _covered(
                [(j["start"], j["end"]) for j in js], s["start"], s["end"]
            )
            m["driver_gap_s"] = max(0.0, m["wall_s"] - busy)
            key = (s["name"], s["trace"])
            if key in per_iter:  # a layer called several times per iteration
                for k in SPAN_METRICS:
                    per_iter[key][k] += m[k]
            else:
                per_iter[key] = m
        out: dict[str, list[dict[str, float]]] = defaultdict(list)
        for (name, _trace), m in sorted(per_iter.items(), key=lambda kv: kv[0][1]):
            out[name].append(m)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _read_status_store(spark):
    """(jobs of benchmark spans, {stage id: counters}) from the status store.

    Each stage is counted once, for the first job that lists it: a later
    job that reuses its shuffle output lists it again as skipped.
    """
    jsc = spark.sparkContext._jsc.sc()
    jvm = spark.sparkContext._jvm
    # the store is fed by the listener bus; let it catch up first
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    raw_jobs = []
    for j in conv.asJava(store.jobsList(None)):
        grp = j.jobGroup()
        if not grp.isDefined() or not str(grp.get()).startswith(_GROUP_PREFIX):
            continue
        sub, done = j.submissionTime(), j.completionTime()
        if not sub.isDefined() or not done.isDefined():
            continue
        raw_jobs.append(
            {
                "id": j.jobId(),
                "group": int(str(grp.get())[len(_GROUP_PREFIX):]),
                "start": sub.get().getTime() / 1e3,
                "end": done.get().getTime() / 1e3,
                "all_stages": sorted(int(s) for s in conv.asJava(j.stageIds())),
            }
        )
    raw_jobs.sort(key=lambda j: j["id"])
    seen: set[int] = set()
    for j in raw_jobs:
        j["stages"] = [s for s in j["all_stages"] if s not in seen]
        seen.update(j["stages"])
    stages: dict[int, dict[str, float]] = {}
    for sid in seen:
        st = store.lastStageAttempt(sid)
        stages[sid] = {
            "tasks": st.numCompleteTasks(),
            "cpu_ns": st.executorCpuTime(),
            "gc_ms": st.jvmGcTime(),
            "shuffle_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }
    return raw_jobs, stages
