"""Tracing for the benchmark's traced runs, recorded from outside the program.

* :class:`Tracer` keeps spans (name, start, end, parent, query id) in memory.
* :func:`install_wrappers` wraps the table and replay entry points the
  operators call. Operators bind these names at import time
  (``from ..tables import load_table``), so the wrappers must be installed
  before ``registry.load_all()`` imports them.
* :class:`SparkCounters` reads job and stage ids from the DAG scheduler and
  per-stage metrics from the status store.
* :class:`ProgressLog` collects every micro-batch progress report through a
  ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.query: int | None = None
        self._ids = itertools.count()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "query": self.query,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def _wrap(tracer: Tracer, name: str, fn, memo: dict | None = None):
    """Wrap ``fn`` in a span; with ``memo``, mark the span a hit when the
    call left the memo's size unchanged."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        before = len(memo) if memo is not None else 0
        with tracer.span(name) as rec:
            out = fn(*args, **kwargs)
        if memo is not None:
            rec["hit"] = len(memo) == before
        return out

    return wrapper


def install_wrappers(tracer: Tracer) -> None:
    from training_feed_kinesis_spark import tables

    tables.load_table = _wrap(
        tracer, "tables.load_table", tables.load_table, tables._TABLE_PLAN_MEMO
    )
    tables.substrate = _wrap(
        tracer, "tables.substrate", tables.substrate, tables._SUBSTRATE_MEMO
    )
    tables.parallelize = _wrap(tracer, "tables.parallelize", tables.parallelize)

    # imported only now, so that it binds the wrapped table functions
    from training_feed_kinesis_spark.streaming import replay

    replay.replay_stream = _wrap(
        tracer, "streaming.replay.prepare", replay.replay_stream
    )
    replay.drain = _wrap(tracer, "streaming.replay.drain", replay.drain)


class SparkCounters:
    """Job and stage counters of one SparkContext (JVM internals via py4j)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self.cores = spark.sparkContext.defaultParallelism

    def marks(self) -> tuple[int, int]:
        """(next job id, next stage id): ids below these were submitted."""
        dag = self._sc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty(30000)

    def stages(self, lo: int, hi: int) -> dict[str, float]:
        """Summed metrics of the stages with ids in [lo, hi) that ran."""
        store = self._sc.statusStore()
        tot = dict.fromkeys(
            ("stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
             "shuffle_read_mb", "input_mb"),
            0.0,
        )
        for sid in range(lo, hi):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never submitted or evicted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numTasks()
            tot["run_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            tot["input_mb"] += st.inputBytes() / 2**20
        return tot


class ProgressLog(StreamingQueryListener):
    """Every micro-batch progress report, tagged with the tracer's query id."""

    def __init__(self, tracer: Tracer):
        self._tracer = tracer
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {
                "query": self._tracer.query,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
