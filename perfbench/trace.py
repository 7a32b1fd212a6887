"""Spans around the benchmark's calls into the program, and the engine
counters attributed to them.

A span has a name, start, end, parent span and request id. Spans are
kept in memory; ``layers.layer_values`` turns them into per-layer
figures at the end of the traced run, and ``dump`` writes them out
with their self times. Each span tags
the Spark jobs it starts with its own job group, so jobs, stages,
tasks, input bytes, shuffle writes and spills are read back per span
from Spark's status store once the run is over.

Spark is lazy: ``force`` executes a frame at a layer boundary without
a sink (the plan's RDD is counted) and reads the executed plan's scan
and window metrics. Forcing re-executes work the next layer would
otherwise fuse, which is what ``trace_overhead_s`` reports.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    req: str | None
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a
    pass-through, so the timed run executes exactly the program's
    calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None,
                  req if req is not None else (parent.req if parent else None),
                  time.perf_counter())
        sp.group = f"pb-span-{sp.sid}"
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc._jsc.clearJobGroup()

    def add(self, key: str, value: float) -> None:
        """Add a count to the innermost open span."""
        if self.enabled and self._stack:
            c = self._stack[-1].counts
            c[key] = c.get(key, 0) + value

    @contextmanager
    def wrapping(self, module, attr: str, name: str, count):
        """While open, every call to ``module.attr`` runs inside a span
        ``name``; ``count(result)`` returns counts to add to it."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
                for k, v in count(out).items():
                    self.add(k, v)
            return out

        setattr(module, attr, wrapped)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def force(self, df) -> int:
        """Execute ``df`` without a sink; returns its row count and adds
        the executed plan's files read and Window nodes to the open span."""
        qe = df._jdf.queryExecution()
        rows = int(qe.toRdd().count())
        for node, metrics in _walk(qe.executedPlan()):
            if node == "Window":
                self.add("window_nodes", 1)
            if "numFiles" in metrics:
                self.add("files_read", metrics["numFiles"])
        return rows

    # -- read-back ------------------------------------------------------

    def engine_counts(self, first_job: int) -> tuple[dict, dict]:
        """Jobs, stages, tasks, input, shuffle-write and spill bytes read
        from Spark's status store once the listener bus drains: per span
        job group, and in total over every job from ``first_job`` on
        (streaming micro-batches included)."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.spark.sparkContext._gateway
        stages = {}
        sl = store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        for i in range(sl.size()):
            s = sl.apply(i)
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reuse earlier shuffle output
            stages[int(s.stageId())] = (
                int(s.inputBytes()),
                int(s.shuffleWriteBytes()),
                int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            )

        def zero():
            return dict(jobs=0, stages=0, tasks=0, input_bytes=0,
                        shuffle_write_bytes=0, spill_bytes=0)

        per_group: dict[str, dict] = {}
        total = zero()
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            if int(j.jobId()) < first_job:
                continue
            grp = j.jobGroup()
            accs = [total]
            if grp.isDefined():
                accs.append(per_group.setdefault(grp.get(), zero()))
            ids = j.stageIds()
            sbytes = [stages.get(int(ids.apply(k))) for k in range(ids.size())]
            for acc in accs:
                acc["jobs"] += 1
                acc["stages"] += int(j.numCompletedStages())
                acc["tasks"] += int(j.numCompletedTasks())
                for st in filter(None, sbytes):
                    acc["input_bytes"] += st[0]
                    acc["shuffle_write_bytes"] += st[1]
                    acc["spill_bytes"] += st[2]
        return per_group, total

    def last_job_id(self) -> int:
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return max((int(jobs.apply(i).jobId()) for i in range(jobs.size())), default=-1)

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.sid)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "parent": sp.parent,
                    "req": sp.req, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(sp), "counts": sp.counts,
                }) + "\n")


def _walk(plan):
    """Yield (nodeName, {metric: value}) over an executed plan,
    descending through adaptive and query-stage wrappers."""
    todo = [plan]
    while todo:
        n = todo.pop()
        cls = n.getClass().getSimpleName()
        metrics = {}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = int(kv._2().value())
        yield n.nodeName(), metrics
        if cls == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(n.plan())
            continue
        ch = n.children()
        for i in range(ch.size()):
            todo.append(ch.apply(i))
