#!/usr/bin/env python3
"""perfbench: the repository benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload backlog --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/design.json for why each exists):

- ``backlog``   multi-epoch CDC backlog replayed with ``replay()`` and
                ``dedup_strategy="shuffle"``; the first call stops at half the
                epochs, a second call resumes from the manifest.
- ``live_tail`` open loop: one generator thread renames pre-written event
                files into a watched directory at a fixed rate; ``start_stream``
                (fused apply, forced tombstones) consumes them and is stopped
                and restarted from its checkpoint at the schedule's midpoint.
- ``queries``   closed loop, one client: a fixed list of ``queries()`` run in
                fixed order, pass after pass, noop sink.

CDC inputs are generated from ``--seed`` by perfbench/gen.py, which imports
nothing from the engine; the queries read the fixed tables in
perfbench/data/sf0.1. Outputs are checked against the generator's own
oracle (CDC) or ``oracle_sql()`` in DuckDB (queries).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it,
prefixed ``perfbench-info``, records the input sha256 and the checks.
Scratch files go under ``.perfbench_run/`` in the working directory and are
removed at exit, except the span dump of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CORES = min(4, os.cpu_count() or 1)


def _process_age_s() -> float:
    """Seconds since this process was created (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _session(work: str):
    from wage_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            # a 2g cap keeps a run small on a shared host; no -Xms, so the
            # heap grows with what the engine keeps. A fixed young generation
            # stops peak RSS from following G1's timing-driven eden sizing
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xmn512m",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # keep every job/stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit: it exits when
    its stdin closes, and the Python workers it started exit with it."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["backlog", "live_tail", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    cwd = os.getcwd()
    if not os.path.isdir(os.path.join(cwd, "wage_etl_spark")):
        print("perfbench: run from a checkout that holds wage_etl_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, cwd]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [cwd] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    runs = os.path.join(cwd, ".perfbench_run")
    work = os.path.join(runs, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # keep every temporary file of this process and its JVMs in the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    import __spark_entry__  # noqa: F401  (imported here, not in the prepare thread)
    import cdc
    import common
    import queries
    import spans

    prepare = {
        "backlog": cdc.prepare_backlog, "live_tail": cdc.prepare_live_tail,
        "queries": queries.prepare_queries,
    }[args.workload]
    run = {"backlog": cdc.backlog, "live_tail": cdc.live_tail, "queries": queries.queries}[args.workload]
    spark = None
    try:
        # inputs and oracle are built while the session starts
        prep_out: dict = {}

        def _prepare():
            try:
                prep_out["prep"] = prepare(args.seed, args.seconds, work)
            except BaseException as exc:
                prep_out["error"] = exc

        prep_thread = threading.Thread(target=_prepare, name="perfbench-prepare")
        prep_thread.start()
        t0 = time.monotonic()
        age_at_session = _process_age_s()
        try:
            spark = _session(work)
        finally:
            prep_thread.join()
        session_s = time.monotonic() - t0
        if "error" in prep_out:
            raise prep_out["error"]
        counters = spans.SparkCounters(spark)
        ctx = common.Ctx(spark, args.seed, args.seconds, CORES, work, counters=counters)
        if args.trace:
            ctx.tracer = spans.Tracer()
            spans.install_engine_spans(ctx.tracer, counters.snapshot)
        age_at_return = _process_age_s()
        mono_at_return = time.monotonic()
        out = run(ctx, prep_out["prep"])
        setup_s = age_at_return - (mono_at_return - ctx.notes["setup_done"])
        rss = common.peak_rss_mb(spark)
        if ctx.tracer:
            ctx.tracer.uninstall()
            ctx.tracer.dump(os.path.join(runs, f"spans-{args.workload}-s{args.seed}.json"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = out["layer"]
    else:
        e2e = {**out["e2e"], "setup_s": setup_s, "peak_rss_mb": rss}
        metrics = {name: {"value": float(e2e[name]), "unit": unit} for name, unit in common.E2E_METRICS}
    info = {
        "workload": args.workload, "seed": args.seed, "cores": CORES,
        "setup_s": setup_s, "before_session_s": age_at_session, "session_s": session_s,
        "warm_s": ctx.notes["setup_done"] - mono_at_return, **out["info"],
    }
    print("perfbench-info " + json.dumps(info, default=str), flush=True)
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
