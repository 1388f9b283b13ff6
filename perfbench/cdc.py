"""The two CDC workloads: ``backlog`` (batch replay with resume) and
``live_tail`` (open-loop file arrivals consumed by Structured Streaming)."""

from __future__ import annotations

import glob
import importlib
import json
import os
import shutil
import threading
import time
import traceback

import numpy as np

import gen
from common import (
    Ctx, dir_bytes, layer_result, manifest_events_in, median, pct, spark_layer,
    verify_warehouse,
)

# backlog input: 2 epochs of 200k generated steps, each epoch written as 4
# parquet files (the engine scans each epoch as several tasks). Every epoch
# pays ~3 s of fixed cost on a 4-core host; epochs this large keep the
# per-event work the larger share, and two keep a round (replay to half,
# then resume) inside the run budget.
BACKLOG_EPOCHS = 2
BACKLOG_STEPS_PER_EPOCH = 200_000
BACKLOG_FILES_PER_EPOCH = 4
BACKLOG_KEYS = 100_000
BACKLOG_WARM_STEPS_PER_EPOCH = 4_000

# live tail: 16k-step files renamed into the watched directory at a fixed
# rate of about half the capacity measured at the parent commit (0.84-1.62
# files/s on a 4-core host, depending on its load), so batches never fill
TAIL_STEPS_PER_FILE = 16_000
TAIL_KEYS = 20_000
TAIL_WARM_FILES = 2
TAIL_RATE_FILES_PER_S = 0.6
TAIL_MAX_FILES_PER_TRIGGER = 4
TAIL_DRAIN_DEADLINE_S = 60.0


def _engine():
    from wage_etl_spark.sources.events import EpochSource
    # the package re-exports a function named ``replay``, so fetch modules
    replay_mod = importlib.import_module("wage_etl_spark.streaming.replay")
    structured_mod = importlib.import_module("wage_etl_spark.streaming.structured")

    return EpochSource, replay_mod, structured_mod


# ------------------------------------------------------------------ backlog

def _write_backlog(df, ev_dir: str, steps_per_epoch: int) -> list[str]:
    """Write ``df`` as ``<ev_dir>/epoch=<e>/part-<k>.parquet`` files."""
    paths = []
    epoch_of = df["step"].to_numpy() // steps_per_epoch
    for e in range(int(epoch_of.max()) + 1):
        part = df[epoch_of == e]
        os.makedirs(os.path.join(ev_dir, f"epoch={e}"), exist_ok=True)
        for k, chunk in enumerate(np.array_split(np.arange(len(part)), BACKLOG_FILES_PER_EPOCH)):
            p = os.path.join(ev_dir, f"epoch={e}", f"part-{k:05d}.parquet")
            gen.write_events(part.iloc[chunk], p)
            paths.append(p)
    return paths


def prepare_backlog(seed: int, seconds: float, work: str) -> dict:
    """Inputs and oracle; no Spark, so it runs while the session starts."""
    df = gen.cdc_events(seed, BACKLOG_EPOCHS * BACKLOG_STEPS_PER_EPOCH, BACKLOG_KEYS)
    ev_dir = os.path.join(work, "events")
    paths = _write_backlog(df, ev_dir, BACKLOG_STEPS_PER_EPOCH)
    warm_dir = os.path.join(work, "events-warm")
    _write_backlog(
        gen.cdc_events(seed + 1, 2 * BACKLOG_WARM_STEPS_PER_EPOCH, BACKLOG_KEYS),
        warm_dir, BACKLOG_WARM_STEPS_PER_EPOCH,
    )
    state, quarantine = gen.cdc_oracle(df)
    return {
        "ev_dir": ev_dir, "warm_dir": warm_dir, "n_events": len(df),
        "input_bytes": sum(os.path.getsize(p) for p in paths),
        "input_sha256": gen.files_sha256(paths), "state": state, "quarantine": quarantine,
    }


def backlog(ctx: Ctx, prep: dict) -> dict:
    EpochSource, replay_mod, _ = _engine()
    ev_dir, input_bytes, n_events = prep["ev_dir"], prep["input_bytes"], prep["n_events"]
    state, quarantine = prep["state"], prep["quarantine"]

    def one_round(wh: str) -> tuple[float, list[dict]]:
        half = replay_mod.ReplayConfig(
            warehouse=wh, dedup_strategy="shuffle", max_epochs=BACKLOG_EPOCHS // 2
        )
        rest = replay_mod.ReplayConfig(warehouse=wh, dedup_strategy="shuffle")
        t0 = time.perf_counter()
        res = replay_mod.replay(ctx.spark, half, EpochSource.from_parquet(ctx.spark, ev_dir))
        # a second call resumes from the manifest, as a restarted job would
        res += replay_mod.replay(ctx.spark, rest, EpochSource.from_parquet(ctx.spark, ev_dir))
        return time.perf_counter() - t0, res

    # untimed warm pass: two small epochs through the same path (the first
    # into an empty target, the second merging into a non-empty one)
    warm_res = replay_mod.replay(
        ctx.spark,
        replay_mod.ReplayConfig(warehouse=os.path.join(ctx.work, "wh-warm"), dedup_strategy="shuffle"),
        EpochSource.from_parquet(ctx.spark, prep["warm_dir"]),
    )
    ctx.notes["warm_epoch_walls"] = [r["epoch_wall_s"] for r in warm_res]
    ctx.notes["setup_done"] = time.monotonic()

    walls, epoch_walls, verify, amp = [], [], [], []
    attempted = failed = 0
    before = ctx.counters.snapshot()
    span_mark = len(ctx.tracer.spans) if ctx.tracer else 0
    # whole rounds only; stop before a round that would overrun the window
    while not walls or sum(walls) + median(walls) <= ctx.seconds * 1.2:
        wh = os.path.join(ctx.work, f"wh-{len(walls)}")
        attempted += BACKLOG_EPOCHS
        try:
            wall, res = one_round(wh)
        except Exception:  # a failed round fails all its epochs
            traceback.print_exc()
            failed += BACKLOG_EPOCHS
            break
        walls.append(wall)
        epoch_walls += [r["epoch_wall_s"] for r in res]
        v = verify_warehouse(wh, state, quarantine, n_events)
        verify.append(v)
        failed += 0 if v["equal"] and len(res) == BACKLOG_EPOCHS else BACKLOG_EPOCHS
        amp.append(dir_bytes(wh) / input_bytes)
        shutil.rmtree(wh, ignore_errors=True)

    e2e = {
        "throughput_per_s": median([n_events / w for w in walls]),
        "latency_p50_s": median(epoch_walls),
        "latency_p90_s": pct(epoch_walls, 90) if epoch_walls else 0.0,
        "write_amp": median(amp),
    }
    out = {
        "e2e": e2e, "attempted": attempted, "failed": failed,
        "correct": failed == 0,
        "info": {
            "input_sha256": prep["input_sha256"], "input_bytes": input_bytes,
            "events": n_events, "epochs": BACKLOG_EPOCHS,
            "files_per_epoch": BACKLOG_FILES_PER_EPOCH, "rounds": len(walls),
            "round_walls_s": walls, "latency_samples": len(epoch_walls),
            "verify": verify[-1] if verify else None,
            "warm_epoch_walls_s": ctx.notes["warm_epoch_walls"],
            "epoch_walls_s": epoch_walls,
        },
    }
    if ctx.tracer:
        t = ctx.tracer
        after = ctx.counters.snapshot()
        spans = t.spans[span_mark:]
        epochs = [s for s in spans if s.name == "replay.apply_epoch"]
        n_ep = max(len(epochs), 1)

        def per_epoch(name):
            return sum(s.end - s.start for s in spans if s.name == name) / n_ep

        layer = {
            "replay.epoch_s": median([s.end - s.start for s in epochs]),
            "replay.route_s": median([_route_s(t, s) for s in epochs]),
            "merge.merge_apply_s": per_epoch("merge.merge_apply"),
            "events.footer_s": per_epoch("events.footer"),
            "manifest.resume_s": per_epoch("manifest.resume"),
            "table.adopt_s": per_epoch("table.adopt"),
            "manifest.commit_s": per_epoch("manifest.commit"),
            "table.bytes_written_per_epoch": median(amp) * input_bytes / BACKLOG_EPOCHS,
            "trace.throughput_per_s": e2e["throughput_per_s"],
            "run.latency_samples": len(epoch_walls),
            **spark_layer(
                ctx, epochs, n_events * len(walls), sum(walls),
                after["codegen_ms"] - before["codegen_ms"],
            ),
        }
        out["layer"] = layer_result(layer, ctx)
    return out


# ---------------------------------------------------------------- live tail

def _file_batches(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the checkpoint's file-source log."""
    out = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _batch_commit_times(warehouse: str) -> dict[int, float]:
    """micro-batch id -> wall time (s) of its manifest commit snapshot."""
    from wage_etl_spark.lake.table import LakeTable

    out = {}
    for snap in LakeTable(None, os.path.join(warehouse, "manifest")).history():
        if snap.operation != "create" and "epoch" in snap.properties:
            out.setdefault(int(snap.properties["epoch"]), snap.timestamp_ms / 1000.0)
    return out


def prepare_live_tail(seed: int, seconds: float, work: str) -> dict:
    """Pre-written event files and oracle; no Spark."""
    n_timed = max(4, int(round(TAIL_RATE_FILES_PER_S * seconds)))
    n_files = TAIL_WARM_FILES + n_timed
    df = gen.cdc_events(seed, n_files * TAIL_STEPS_PER_FILE, TAIL_KEYS)
    stage, watched = os.path.join(work, "stage"), os.path.join(work, "in")
    os.makedirs(stage)
    os.makedirs(watched)
    file_of = df["step"].to_numpy() // TAIL_STEPS_PER_FILE
    names, rows = [], []
    for i in range(n_files):
        part = df[file_of == i]
        names.append(f"ev-{i:05d}.parquet")
        rows.append(len(part))
        gen.write_events(part, os.path.join(stage, names[-1]))
    paths = [os.path.join(stage, n) for n in names]
    state, quarantine = gen.cdc_oracle(df)
    return {
        "n_timed": n_timed, "names": names, "rows": rows, "paths": paths,
        "watched": watched, "input_sha256": gen.files_sha256(paths),
        "input_bytes": sum(os.path.getsize(p) for p in paths),
        "state": state, "quarantine": quarantine,
    }


def live_tail(ctx: Ctx, prep: dict) -> dict:
    _, replay_mod, structured_mod = _engine()
    n_timed, names, rows, paths = prep["n_timed"], prep["names"], prep["rows"], prep["paths"]
    watched, input_bytes = prep["watched"], prep["input_bytes"]
    n_files = len(names)

    wh, ckpt = os.path.join(ctx.work, "wh"), os.path.join(ctx.work, "ckpt")
    cfg = replay_mod.ReplayConfig(
        warehouse=wh, num_buckets=16, dedup_strategy="fused", keep_tombstones=True
    )
    schema = ctx.spark.read.parquet(paths[0]).schema

    def start():
        stream = structured_mod.stream_events(
            ctx.spark, watched, schema, max_files_per_trigger=TAIL_MAX_FILES_PER_TRIGGER
        )
        return structured_mod.start_stream(ctx.spark, cfg, stream, ckpt, trigger_once=False)

    def drop(i: int) -> None:
        os.rename(paths[i], os.path.join(watched, names[i]))

    def wait_events(target: int, deadline: float, queries) -> bool:
        while time.monotonic() < deadline:
            if manifest_events_in(wh) >= target:
                return True
            for q in queries:
                if q.exception() is not None:
                    return False
            time.sleep(0.05)
        return False

    # untimed warm prefix of the same stream, one file per batch: the first
    # batch applies into an empty target, the second into a non-empty one
    q = start()
    for i in range(TAIL_WARM_FILES):
        drop(i)
        if not wait_events(sum(rows[: i + 1]), time.monotonic() + 120, [q]):
            raise RuntimeError(f"live_tail warm prefix did not commit: {q.exception()}")
    ctx.notes["setup_done"] = time.monotonic()
    before = ctx.counters.snapshot()
    span_mark = len(ctx.tracer.spans) if ctx.tracer else 0

    # open loop: one generator thread renames file k at due[k], whatever
    # the engine is doing
    t0 = time.time() + 0.2
    due = [t0 + k / TAIL_RATE_FILES_PER_S for k in range(n_timed)]
    dropped = [0.0] * n_timed

    def generator():
        for k in range(n_timed):
            delay = due[k] - time.time()
            if delay > 0:
                time.sleep(delay)
            drop(TAIL_WARM_FILES + k)
            dropped[k] = time.time()

    gen_thread = threading.Thread(target=generator, name="perfbench-gen", daemon=True)
    gen_thread.start()
    progress = []
    mid = due[n_timed // 2]
    time.sleep(max(0.0, mid - time.time()))
    # stop between two triggers, so the restart never tears a batch: its
    # cost is then the restart itself, not a lost batch that depends on timing
    idle_by = time.monotonic() + 10
    while q.status["isTriggerActive"] and time.monotonic() < idle_by:
        time.sleep(0.01)
    r0 = time.perf_counter()
    q.stop()
    progress += q.recentProgress
    q = start()
    restart_s = time.perf_counter() - r0
    gen_thread.join()
    total_rows = sum(rows)
    drained = wait_events(total_rows, time.monotonic() + TAIL_DRAIN_DEADLINE_S, [q])
    err = q.exception()
    q.stop()
    progress += q.recentProgress

    file_batch = _file_batches(ckpt)
    commit_at = _batch_commit_times(wh)
    # micro-batch of each timed file (None: never picked up or not committed)
    batch_of = [file_batch.get(names[TAIL_WARM_FILES + k]) for k in range(n_timed)]
    batch_of = [b if b in commit_at else None for b in batch_of]
    fresh = [commit_at[b] - due[k] for k, b in enumerate(batch_of) if b is not None]
    committed_at = [commit_at[b] for b in batch_of if b is not None]
    timed_batches = {b for b in batch_of if b is not None}
    n_uncommitted = n_timed - len(fresh)
    timed_rows = sum(rows[TAIL_WARM_FILES:])
    wall = (max(committed_at) - due[0]) if committed_at else float("inf")

    v = verify_warehouse(wh, prep["state"], prep["quarantine"], total_rows)
    # an uncommitted file's batch fails; a wrong final state fails them all
    attempted = max(len(timed_batches), 1) + (1 if n_uncommitted else 0)
    failed = attempted if not (v["equal"] and drained and err is None) else 0
    e2e = {
        "throughput_per_s": timed_rows / wall if committed_at else 0.0,
        "latency_p50_s": median(fresh),
        "latency_p90_s": pct(fresh, 90) if fresh else 0.0,
        "write_amp": dir_bytes(wh) / input_bytes,
    }
    late = [d - u for d, u in zip(dropped, due)]
    out = {
        "e2e": e2e, "attempted": attempted, "failed": failed,
        "correct": failed == 0,
        "info": {
            "input_sha256": prep["input_sha256"], "input_bytes": input_bytes,
            "files": n_files, "warm_files": TAIL_WARM_FILES,
            "rate_files_per_s": TAIL_RATE_FILES_PER_S, "events": total_rows,
            "latency_samples": len(fresh), "uncommitted_files": n_uncommitted,
            "gen_late_max_s": max(late), "drained": drained,
            "stream_error": str(err) if err else None, "verify": v,
            "restart_s": restart_s,
        },
    }
    if ctx.tracer:
        t = ctx.tracer
        after = ctx.counters.snapshot()
        spans = t.spans[span_mark:]
        batches = [s for s in spans if s.name == "structured.foreach_batch"]
        applies = [s for s in spans if s.name == "replay.apply_epoch"]
        n_b = max(len(batches), 1)
        timed_prog = [p for p in progress if p["batchId"] in timed_batches]
        dur = [p["durationMs"] for p in timed_prog]
        starts = {p["batchId"]: _iso_to_epoch(p["timestamp"]) for p in timed_prog}
        waits = [starts[b] - dropped[k] for k, b in enumerate(batch_of) if b in starts]
        # files waiting at a batch's start: dropped by then, not in an earlier batch
        backlog_max = max(
            (
                sum(1 for k, d in enumerate(dropped)
                    if d <= s and (batch_of[k] is None or batch_of[k] >= b))
                for b, s in starts.items()
            ),
            default=0,
        )
        n_src_rows = sum(p["numInputRows"] for p in timed_prog)
        manifest_rows = sum(
            rows[TAIL_WARM_FILES + k] for k, b in enumerate(batch_of) if b is not None
        )

        def per_batch(name):
            return sum(s.end - s.start for s in spans if s.name == name) / n_b

        layer = {
            "replay.epoch_s": median([s.end - s.start for s in applies]),
            "replay.route_s": median([_route_s(t, s) for s in applies]),
            "merge.merge_apply_s": per_batch("merge.merge_apply"),
            "events.footer_s": per_batch("events.footer"),
            "manifest.resume_s": per_batch("manifest.resume"),
            "table.adopt_s": per_batch("table.adopt"),
            "manifest.commit_s": per_batch("manifest.commit"),
            "table.bytes_written_per_epoch": e2e["write_amp"] * input_bytes / max(len(commit_at), 1),
            "structured.batch_s": median([d.get("triggerExecution", 0) / 1000 for d in dur]),
            "structured.add_batch_s": median([d.get("addBatch", 0) / 1000 for d in dur]),
            "structured.checkpoint_s": median(
                [(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000 for d in dur]
            ),
            "structured.trigger_wait_s": median(waits),
            "structured.source_rows_per_event": n_src_rows / max(manifest_rows, 1),
            "structured.files_per_batch": len(fresh) / max(len(timed_batches), 1),
            "structured.backlog_files_max": backlog_max,
            "structured.restart_s": restart_s,
            "gen.late_s": max(late),
            "trace.throughput_per_s": e2e["throughput_per_s"],
            "run.latency_samples": len(fresh),
            **spark_layer(
                ctx, batches, timed_rows, wall,
                after["codegen_ms"] - before["codegen_ms"],
            ),
        }
        out["layer"] = layer_result(layer, ctx)
    return out


def _route_s(tracer, apply_span) -> float:
    """Self time of an epoch's apply span plus that of its fused-apply
    child: the route (or fused) write job and its planning."""
    kids = [
        s for s in tracer.spans
        if s.parent == apply_span.span_id and s.name == "replay.fused_apply"
    ]
    return tracer.self_time(apply_span) + sum(tracer.self_time(k) for k in kids)


def _iso_to_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
