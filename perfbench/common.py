"""Shared pieces of the benchmark: run context, percentiles, verification of
a CDC warehouse against the generator's oracle, and the per-layer metric
set (every layer metric is reported on every workload; a layer a workload
never enters reports 0)."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import spans as ptrace


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    cores: int
    work: str
    tracer: ptrace.Tracer | None = None
    counters: ptrace.SparkCounters | None = None
    notes: dict = field(default_factory=dict)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _table_files(root: str) -> list[str]:
    from wage_etl_spark.lake.table import LakeTable

    snap = LakeTable(None, root).snapshot()
    return [os.path.join(root, rel) for rel in snap.all_files()]


def verify_warehouse(warehouse: str, expected: dict, expected_quarantine: int,
                     expected_events: int) -> dict:
    """Compare the committed target, DLQ and manifest with the oracle by
    reading the current snapshots' parquet files directly (no Spark)."""
    got: dict = {}
    dup_keys = 0
    for f in _table_files(os.path.join(warehouse, "repo_code")):
        cols = ["repo", "path", "content_sha256"]
        names = pq.read_schema(f).names
        if "is_deleted" in names:
            cols.append("is_deleted")
        t = pq.read_table(f, columns=cols).to_pydict()
        dels = t.get("is_deleted", [None] * len(t["repo"]))
        for r, p, h, d in zip(t["repo"], t["path"], t["content_sha256"], dels):
            if d:
                continue
            dup_keys += (r, p) in got
            got[(r, p)] = h
    dlq_rows = sum(
        pq.ParquetFile(f).metadata.num_rows for f in _table_files(os.path.join(warehouse, "dlq"))
    )
    events_in = 0
    for f in _table_files(os.path.join(warehouse, "manifest")):
        t = pq.read_table(f, columns=["partition_id", "events_in"]).to_pydict()
        events_in += sum(e or 0 for p, e in zip(t["partition_id"], t["events_in"]) if p is None)
    mismatched = sum(1 for k, v in expected.items() if got.get(k) != v)
    extra = sum(1 for k in got if k not in expected)
    ok = (
        mismatched == 0 and extra == 0 and dup_keys == 0
        and dlq_rows == expected_quarantine and events_in == expected_events
    )
    return {
        "equal": ok, "target_rows": len(got), "oracle_rows": len(expected),
        "mismatched_or_missing": mismatched, "extra": extra, "dup_keys": dup_keys,
        "dlq_rows": dlq_rows, "oracle_quarantine": expected_quarantine,
        "manifest_events_in": events_in, "events": expected_events,
    }


def manifest_events_in(warehouse: str) -> int:
    """Summed ``events_in`` of committed epoch summary rows."""
    root = os.path.join(warehouse, "manifest")
    if not os.path.exists(os.path.join(root, "_meta")):
        return 0
    total = 0
    for f in _table_files(root):
        t = pq.read_table(f, columns=["partition_id", "events_in"]).to_pydict()
        total += sum(e or 0 for p, e in zip(t["partition_id"], t["events_in"]) if p is None)
    return total


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of the driver JVM plus this process, in MB."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    total_kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


QUERY_SET = [
    # relational, on the session's planner confs
    "q1_pricing_summary", "cdc_lww_state",
    # functions
    "currency_clean", "text_quality",
    # operators.reshape, sources.html_table
    "wage_normalize", "html_extract_lifecycle",
    # operators.dedupe, operators.similarity
    "dedup_exact", "simhash_near_dups", "embedding_cosine_dups",
]

LAYER_METRICS: list[tuple[str, str, str]] = [
    ("replay.epoch_s", "s", "lower"),
    ("replay.route_s", "s", "lower"),
    ("merge.merge_apply_s", "s", "lower"),
    ("events.footer_s", "s", "lower"),
    ("manifest.resume_s", "s", "lower"),
    ("table.adopt_s", "s", "lower"),
    ("manifest.commit_s", "s", "lower"),
    ("table.bytes_written_per_epoch", "bytes", "lower"),
    ("structured.batch_s", "s", "lower"),
    ("structured.add_batch_s", "s", "lower"),
    ("structured.checkpoint_s", "s", "lower"),
    ("structured.trigger_wait_s", "s", "lower"),
    ("structured.source_rows_per_event", "ratio", "lower"),
    ("structured.files_per_batch", "count", "higher"),
    ("structured.backlog_files_max", "count", "lower"),
    ("structured.restart_s", "s", "lower"),
    ("gen.late_s", "s", "lower"),
    ("spark.jobs_per_epoch", "count", "lower"),
    ("spark.tasks_per_epoch", "count", "lower"),
    ("spark.shuffle_write_bytes_per_event", "bytes", "lower"),
    ("spark.shuffle_read_bytes_per_event", "bytes", "lower"),
    ("spark.input_rows_per_event", "count", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.executor_busy_ratio", "ratio", "higher"),
    ("spark.executor_run_s_per_event", "s", "lower"),
    ("spark.codegen_compile_s", "s", "lower"),
    ("query.suite_s", "s", "lower"),
    *[(f"query.{q}.wall_s", "s", "lower") for q in QUERY_SET],
    *[(f"query.{q}.jobs", "count", "lower") for q in QUERY_SET],
    ("trace.overhead_s", "s", "lower"),
    ("trace.collect_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
    ("trace.throughput_per_s", "1/s", "higher"),
    ("run.latency_samples", "count", "higher"),
]

E2E_METRICS: list[tuple[str, str]] = [
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_s", "s"),
    ("latency_p90_s", "s"),
    ("write_amp", "ratio"),
    ("peak_rss_mb", "MB"),
]


def spark_layer(ctx: Ctx, ops: list, units_of_work: float, wall_s: float,
                codegen_ms: float) -> dict:
    """spark.* per-layer metrics from the counter deltas on ``ops`` spans
    (epochs, micro-batches or query executions)."""
    def tot(k):
        return sum(s.attrs.get(k, 0.0) for s in ops)

    n = max(len(ops), 1)
    w = max(units_of_work, 1)
    return {
        "spark.jobs_per_epoch": tot("jobs") / n,
        "spark.tasks_per_epoch": tot("tasks") / n,
        "spark.shuffle_write_bytes_per_event": tot("shuffle_write_bytes") / w,
        "spark.shuffle_read_bytes_per_event": tot("shuffle_read_bytes") / w,
        "spark.input_rows_per_event": tot("input_rows") / w,
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.executor_busy_ratio": tot("executor_run_ms") / 1000 / max(wall_s * ctx.cores, 1e-9),
        "spark.executor_run_s_per_event": tot("executor_run_ms") / 1000 / w,
        "spark.codegen_compile_s": codegen_ms / 1000,
    }


def layer_result(values: dict, ctx: Ctx) -> dict:
    """The full per-layer metric set of a traced run: ``values`` plus trace
    bookkeeping, with 0 for every layer the workload never entered."""
    values = {
        **values,
        "trace.overhead_s": ctx.tracer.overhead_s,
        "trace.collect_s": ctx.counters.collect_s,
        "trace.spans": len(ctx.tracer.spans),
    }
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit, _better in LAYER_METRICS
    }
