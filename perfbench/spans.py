"""In-memory spans around the benchmark's calls into each layer.

A span records its name, start, end, parent and operation id. While a
span is open its id is the Spark job group of the calling thread, so
the jobs, stages and tasks it launched are read back from
``statusTracker()`` per span. Spans stay in memory until
:meth:`Tracer.summary` turns them into per-layer totals and self times
(a span's duration minus the part its child spans cover).

:class:`NullTracer` has the same interface and records nothing; the
untraced run uses it, so both runs execute the same benchmark code.
"""

from __future__ import annotations

import contextlib
import itertools
import time
from dataclasses import dataclass, field

#: span name -> per-layer metric holding its cumulative time
SPAN_METRICS = {
    "session.get_session": "session.get_session_s",
    "config.validate": "config.validate_s",
    "plans.build": "plans.build_s",
    "sources.load": "sources.load_s",
    "engine.execute": "engine.execute_s",
    "functions.text": "functions.text.s",
    "operators.dedup.exact": "operators.dedup.exact_s",
    "operators.dedup.minhash": "operators.dedup.minhash_s",
    "operators.similarity.ivf": "operators.similarity.ivf_s",
    "operators.search.bm25": "operators.search.bm25_s",
    "sinks.write": "sinks.write_s",
    "streaming.run": "streaming.run_s",
}

#: layers, as the package modules that hold them; a span belongs to the
#: longest layer name that prefixes it
LAYERS = ["session", "config", "plans", "sources", "engine", "functions.text",
          "operators.dedup", "operators.similarity", "operators.search",
          "sinks", "streaming"]


def layer_of(span_name: str) -> str:
    best = ""
    for layer in LAYERS:
        if (span_name == layer or span_name.startswith(layer + ".")) and len(layer) > len(best):
            best = layer
    return best or span_name


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    counted: bool = False


@dataclass
class Tracer:
    """Spans for one process. ``sc`` is the SparkContext whose job
    groups and status tracker attribute Spark work to spans."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    counters: dict[str, float] = field(default_factory=dict)
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _cached: list = field(default_factory=list)
    op: int = -1
    active = True

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, self.op, parent.sid if parent else None,
                 time.perf_counter())
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"bench-span-{s.sid}", s.name)

    def count(self, name: str, value: float) -> None:
        self.counters[name] = self.counters.get(name, 0.0) + value

    def force(self, df):
        """Run ``df`` to completion at a layer boundary (noop sink) and
        keep the result cached, so the next layer's span measures only
        its own work. :meth:`release` drops the caches."""
        df = df.persist()
        self._cached.append(df)
        df.write.format("noop").mode("overwrite").save()
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached.clear()

    def settle(self, timeout: float = 5.0) -> None:
        """Read job, stage and task counts for every span not yet
        counted, once the status store has seen each job finish."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        deadline = time.perf_counter() + timeout
        for s in self.spans:
            if s.counted:
                continue
            while True:
                jobs = tracker.getJobIdsForGroup(f"bench-span-{s.sid}")
                infos = [tracker.getJobInfo(j) for j in jobs]
                running = [i for i in infos if i is not None and i.status == "RUNNING"]
                if not running or time.perf_counter() > deadline:
                    break
                time.sleep(0.05)
            s.jobs = len(jobs)
            for info in infos:
                if info is None:
                    continue
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numTasks:
                        s.stages += 1
                        s.tasks += st.numTasks
            s.counted = True

    def summary(self, n_ops: int) -> dict[str, float]:
        """Per-operation means: cumulative time per span name, self time
        per layer, and Spark jobs/stages/tasks per layer."""
        n = max(n_ops, 1)
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {m: 0.0 for m in SPAN_METRICS.values()}
        for layer in LAYERS:
            out[f"{layer}.self_s"] = 0.0
        for k in ("engine.jobs", "engine.stages", "engine.tasks"):
            out[k] = 0.0
        for s in self.spans:
            dur = s.end - s.start
            if s.name in SPAN_METRICS:
                out[SPAN_METRICS[s.name]] += dur
            layer = layer_of(s.name)
            if f"{layer}.self_s" in out:
                out[f"{layer}.self_s"] += dur - child_time.get(s.sid, 0.0)
            out["engine.jobs"] += s.jobs
            out["engine.stages"] += s.stages
            out["engine.tasks"] += s.tasks
        # session set-up happens once per process, not per operation
        per_op = {k: v / n for k, v in out.items()
                  if not k.startswith("session.")}
        per_op.update({k: v for k, v in out.items() if k.startswith("session.")})
        per_op["trace.spans"] = float(len(self.spans))
        return per_op


class NullTracer:
    """The untraced run's tracer: no spans, no forcing, no job groups."""

    active = False
    op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def count(self, name: str, value: float) -> None:
        pass

    def force(self, df):
        return df

    def release(self) -> None:
        pass

    def settle(self, timeout: float = 5.0) -> None:
        pass
