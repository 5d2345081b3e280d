"""Spans and Spark-side counters, recorded from outside the program.

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory;
  ``dump`` writes them once, when the run ends.
* ``patched`` swaps a module attribute for a wrapper that opens a span
  around each call, and restores it on exit.
* ``group_counters`` sums the status store's stage data over the jobs
  of one job group: the per-operation Spark counters.
* ``plan_metrics`` folds the SQL metrics of an executed plan, walking
  into AQE query stages, by (node name, metric name).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from typing import Callable, Iterator


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @staticmethod
    def now() -> float:
        return time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span whose bounds were measured elsewhere."""
        self.spans.append({
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": start, "end": end, **attrs,
        })

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def covered(self, span_id: int) -> float:
        """Seconds of a span's interval covered by its child spans."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(span_id))
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def within(self, span_id: int, name: str) -> float:
        """Total seconds of spans called ``name`` inside span ``span_id``."""
        outer = self.spans[span_id]
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and s["id"] != span_id
            and s["start"] >= outer["start"] and s["end"] <= outer["end"]
        )

    def find(self, name: str, op: str) -> dict:
        return next(s for s in self.spans if s["name"] == name and s["op"] == op)

    def self_time(self, span_id: int) -> float:
        return self.duration(span_id) - self.covered(span_id)

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in self.spans:
            out.append({
                **s,
                "start": s["start"] - t0,
                "end": s["end"] - t0,
                "self_s": self.self_time(s["id"]),
            })
        with open(path, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1, default=str)


@contextlib.contextmanager
def patched(owner, attr: str, wrapper: Callable[[Callable], Callable]):
    """Replace ``owner.attr`` by ``wrapper(original)`` for the block."""
    original = getattr(owner, attr)
    setattr(owner, attr, wrapper(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


COUNTER_KEYS = (
    "jobs", "stages", "tasks", "task_s", "shuffle_write_bytes",
    "output_bytes", "spill_bytes", "input_bytes",
)


def group_counters(spark, group: str) -> dict[str, float]:
    """Status-store totals over every completed stage of the job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    c = dict.fromkeys(COUNTER_KEYS, 0.0)
    c["jobs"] = float(len(jobs))
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j error: the stage was never submitted
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks()
        c["task_s"] += sd.executorRunTime() / 1000.0
        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        c["output_bytes"] += sd.outputBytes()
        c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        c["input_bytes"] += sd.inputBytes()
    return c


class JobGroups:
    """Names the Spark jobs of a block (``with groups(name):``) so that
    ``counters(name)`` can sum their status-store stage data."""

    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.prefix = prefix

    def gid(self, name: str) -> str:
        return f"{self.prefix}:{name}"

    @contextlib.contextmanager
    def __call__(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(self.gid(name), name)
        try:
            yield
        finally:
            sc.setJobGroup("", "")

    def counters(self, name: str) -> dict[str, float]:
        return group_counters(self.spark, self.gid(name))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_metrics(df) -> dict[tuple[str, str], float]:
    """SQL metrics of ``df``'s executed plan, summed by (node, metric).

    Timings are converted to seconds (``timing`` metrics are ms,
    ``nsTiming`` ns); sizes stay bytes. Call after an action on ``df``.
    """
    out: dict[tuple[str, str], float] = defaultdict(float)
    seen: set[int] = set()

    def walk(p) -> None:
        if p.id() in seen:
            return
        seen.add(p.id())
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            walk(p.executedPlan())
            return
        if name.endswith("QueryStage"):
            walk(p.plan())
            return
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            v = float(m.value())
            kind = m.metricType()
            if kind == "timing":
                v /= 1e3
            elif kind == "nsTiming":
                v /= 1e9
            out[(name, kv._1())] += v
        for c in _seq(p.children()):
            walk(c)
        for s in _seq(p.subqueries()):
            walk(s)

    walk(df._jdf.queryExecution().executedPlan())
    return dict(out)


def metric_sum(metrics: dict, node_prefix: str, key: str) -> float:
    return sum(
        v for (node, k), v in metrics.items()
        if node.startswith(node_prefix) and k == key
    )
