"""Spans around the engine's layer boundaries, recorded from outside the
package, plus Spark counters read from the status store.

``install_engine_spans`` replaces a fixed set of engine functions with
wrappers that record a span (name, start, end, parent, trace id) per call. Spans stay
in memory until ``dump``. Parents are tracked per thread, because
Structured Streaming runs ``foreachBatch`` on a py4j callback thread.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int
    attrs: dict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent inside wrappers, outside the call

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def span(self, name: str, attrs: dict | None = None):
        return _SpanCtx(self, name, attrs or {})

    def spanned(self, fn, name: str, counters=None):
        """``fn`` wrapped to record a span per call. ``counters`` is a
        callable returning a dict snapshot; the difference across the call
        goes into the span's attrs."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            before = counters() if counters else None
            with tracer.span(name) as s:
                tracer._add_overhead(time.perf_counter() - t0)
                try:
                    return fn(*args, **kwargs)
                finally:
                    t1 = time.perf_counter()
                    if counters:
                        after = counters()
                        s.attrs.update({k: after[k] - before[k] for k in after})
                    tracer._add_overhead(time.perf_counter() - t1)

        return wrapper

    def wrap(self, owner, attr: str, name: str, counters=None) -> None:
        """Replace ``owner.attr`` by its spanned wrapper until ``uninstall``."""
        fn = getattr(owner, attr)
        setattr(owner, attr, self.spanned(fn, name, counters))
        self._patched.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ---------------------------------------------------------- analysis

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.span_id)
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
        return (span.end - span.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        stack = self.t._stack()
        parent = stack[-1] if stack else None
        sid = next(self.t._ids)
        self.s = Span(
            sid, self.name, time.perf_counter(), 0.0,
            parent.span_id if parent else None,
            parent.trace_id if parent else sid, self.attrs,
        )
        stack.append(self.s)
        return self.s

    def __exit__(self, *exc) -> None:
        self.s.end = time.perf_counter()
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(self.s)


def install_engine_spans(tracer: Tracer, counters) -> None:
    """Wrap the engine's layer entry points (see perfbench/design.json for
    which metric each span feeds)."""
    from wage_etl_spark.lake import table as table_mod
    from wage_etl_spark.sources import events as events_mod
    # the package re-exports a function named ``replay``, so fetch modules
    replay_mod = importlib.import_module("wage_etl_spark.streaming.replay")
    structured_mod = importlib.import_module("wage_etl_spark.streaming.structured")

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    # each micro-batch: one span around the function handed to foreachBatch
    foreach_batch = DataStreamWriter.foreachBatch

    def traced_foreach_batch(writer, func):
        return foreach_batch(writer, tracer.spanned(func, "structured.foreach_batch", counters))

    DataStreamWriter.foreachBatch = traced_foreach_batch
    tracer._patched.append((DataStreamWriter, "foreachBatch", foreach_batch))

    tracer.wrap(replay_mod, "replay", "replay.replay")
    tracer.wrap(replay_mod, "apply_epoch", "replay.apply_epoch", counters)
    tracer.wrap(structured_mod, "apply_epoch", "replay.apply_epoch")
    tracer.wrap(replay_mod, "_apply_epoch_fused", "replay.fused_apply")
    tracer.wrap(replay_mod, "merge_apply", "merge.merge_apply")
    tracer.wrap(replay_mod, "commit_epoch", "manifest.commit")
    tracer.wrap(replay_mod, "commit_epochs", "manifest.commit")
    tracer.wrap(replay_mod, "last_committed_epoch", "manifest.resume")
    tracer.wrap(structured_mod, "last_committed_epoch", "manifest.resume")
    tracer.wrap(replay_mod, "_rollback_orphans", "manifest.resume")
    tracer.wrap(table_mod.LakeTable, "adopt_files", "table.adopt")
    tracer.wrap(table_mod.LakeTable, "overwrite_with_files", "table.adopt")
    tracer.wrap(events_mod.EpochSource, "epoch_rows", "events.footer")
    tracer.wrap(events_mod.EpochSource, "max_epoch", "events.footer")


class SparkCounters:
    """Cumulative job/stage counters from the application status store.

    ``snapshot()`` sums over every job and stage the store holds, so the
    difference of two snapshots is the work done between them. Finished
    stages are cached, so a snapshot reads only the stages newer than the
    oldest one still open. The benchmark's session keeps far more jobs and
    stages than a run creates (``spark.ui.retainedJobs``/``retainedStages``),
    so nothing is evicted mid-run. Snapshots may come from the main thread
    and from the thread that runs ``foreachBatch``, hence the lock.

    Input is counted in rows: the stages' ``inputBytes`` here report only
    parquet footer reads (8 KB for a full scan of a 9.5 MB file)."""

    FIELDS = (
        "jobs", "tasks", "executor_run_ms", "input_rows", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "codegen_ms",
    )

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._done: set[tuple[int, int]] = set()
        self._done_tot = dict.fromkeys(self.FIELDS, 0.0)
        self._done_below = 0  # every stage below this id is in _done_tot
        self.collect_s = 0.0
        self._lock = threading.Lock()

    def _codegen_ms(self) -> float:
        h = self._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        n = h.getCount()
        # the histogram's reservoir holds at most a sample; scale its mean
        return float(snap.getMean()) * n if n else 0.0

    def snapshot(self) -> dict:
        with self._lock:
            return self._snapshot()

    def _snapshot(self) -> dict:
        t0 = time.perf_counter()
        store = self._sc.statusStore()
        # all statuses, no task details; newest stage first
        stages = store.stageList(None, False, False, self._no_quantiles, None)
        tot = dict(self._done_tot)
        open_ids = []
        top = self._done_below
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid < self._done_below:
                break
            top = max(top, sid + 1)
            key = (sid, st.attemptId())
            if key in self._done:
                continue
            row = (
                st.numCompleteTasks() + st.numFailedTasks(), st.executorRunTime(),
                st.inputRecords(), st.shuffleReadBytes(), st.shuffleWriteBytes(),
                st.memoryBytesSpilled() + st.diskBytesSpilled(),
            )
            if str(st.status()) in ("ACTIVE", "PENDING"):
                open_ids.append(sid)
                for f, v in zip(self.FIELDS[1:7], row):
                    tot[f] += v
            else:
                self._done.add(key)
                for f, v in zip(self.FIELDS[1:7], row):
                    self._done_tot[f] += v
                    tot[f] += v
        self._done_below = min(open_ids) if open_ids else top
        tot["jobs"] = float(store.jobsList(None).size())
        tot["codegen_ms"] = self._codegen_ms()
        self.collect_s += time.perf_counter() - t0
        return tot
