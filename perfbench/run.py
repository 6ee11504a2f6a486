"""chess-spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload {monthly,corpus} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The run generates its inputs from
``--seed`` under one scratch root inside the checkout (removed at exit),
starts a ``local[nproc]`` session, sets up the workload, then repeats the
workload's operation in a closed loop with one client for ``--seconds``
(at least one operation) and checks every output.

The last line of stdout is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The line before it records the
run: cpus, driver memory, seed, git sha, the set-up's parts, every
operation's time, the tail percentile with its sample count and the
error rate.  A traced run also prints each span's median self time and
writes every span to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import OpLog, closed_loop, median, peak_rss_mb, tail  # noqa: E402

PKG = "end_to_end_chess_com_etl_and_analytics_pipeline_spark"
GENERATE_REPEATS = 3
DRIVER_MEMORY = "2g"

# layer -> fields reported for it; a layer's spans carry its name
LAYER_FIELDS = {
    "silver": ("wall_s", "outside_jobs_s", "executor_s", "tasks", "output_bytes"),
    "gold": ("wall_s", "outside_jobs_s", "jobs", "shuffle_bytes", "spill_bytes"),
    "streaming": ("wall_s", "outside_jobs_s", "jobs", "bytes_written"),
    "warehouse": ("wall_s", "outside_jobs_s", "jobs", "bytes_written",
                  "rows_written_per_row_changed"),
    "analytics": ("wall_s", "outside_jobs_s", "executor_s", "shuffle_bytes"),
    "corpus": ("wall_s", "outside_jobs_s", "jobs", "shuffle_bytes", "spill_bytes"),
}
UNITS = {"wall_s": "s", "outside_jobs_s": "s", "executor_s": "s", "tasks": "count",
         "jobs": "count", "output_bytes": "B", "shuffle_bytes": "B", "spill_bytes": "B",
         "bytes_written": "B", "rows_written_per_row_changed": "ratio"}
# counts a workload measures outside its spans (0 where it has none)
COUNTS = {"backfill.games_per_s": "1/s", "backfill.stored_bytes_per_input_byte": "ratio",
          "monthly.write_amp": "ratio", "prefix_join.rows_per_game": "ratio"}


class Bench:
    """Run-wide state the workloads share: seed, scratch root, session
    and tracer."""

    def __init__(self, seed: int, root: str):
        self.seed = seed
        self.root = root
        self.spark = None
        self.tracer = None


def isolate(root: str) -> None:
    """Point every scratch location at ``root``: TMPDIR (the package's
    ``tempfile.mkdtemp`` sites), Spark's local dirs, and the path the
    Python workers import the package from."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    checkout = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, checkout)


def start_session(root: str, cpus: int):
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10, check=True)
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def span_fields(spans, rows_changed: int) -> dict[str, float]:
    """Totals over one operation's spans of one layer."""
    from spans import outside_jobs_s

    st = {k: sum(s.stages.get(k, 0) for s in spans)
          for k in ("executorRunTime", "numTasks", "outputBytes", "shuffleWriteBytes",
                    "diskBytesSpilled", "outputRecords")}
    return {
        "wall_s": sum(s.wall_s for s in spans),
        "outside_jobs_s": sum(outside_jobs_s(s) for s in spans),
        "jobs": sum(len(s.jobs) for s in spans),
        "executor_s": st["executorRunTime"] / 1000.0,
        "tasks": st["numTasks"],
        "output_bytes": st["outputBytes"],
        "bytes_written": st["outputBytes"],
        "shuffle_bytes": st["shuffleWriteBytes"],
        "spill_bytes": st["diskBytesSpilled"],
        "rows_written_per_row_changed": st["outputRecords"] / rows_changed if rows_changed else 0.0,
    }


def layer_metrics(tracer, ops: list[int], rows_changed: int) -> dict[str, tuple[float, str]]:
    """Median over the traced operations of each layer's per-operation
    totals.  A layer that runs only in the set-up (the monthly
    workload's backfill: silver, gold) is reported from the set-up's
    spans; a layer the workload never calls reads 0."""
    from workloads import CORPUS_QUERIES, DASHBOARDS, STAGE_OP

    layers = ["silver", "gold", "streaming", "warehouse"]
    layers += [f"analytics.{q}" for q in DASHBOARDS]
    layers += [f"corpus.{q}" for q in CORPUS_QUERIES]
    out: dict[str, tuple[float, str]] = {}
    for layer in layers:
        by_op = {op: [s for s in tracer.spans if s.op == op and s.name == layer] for op in ops}
        if not any(by_op.values()):
            setup = [s for s in tracer.spans if s.op == STAGE_OP and s.name == layer]
            by_op = {STAGE_OP: setup} if setup else by_op
        per_op = [span_fields(spans, rows_changed) for spans in by_op.values()]
        for f in LAYER_FIELDS[layer.split(".")[0]]:
            out[f"{layer}.{f}"] = (median([p[f] for p in per_op]) if per_op else 0.0, UNITS[f])
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="chess-spark benchmark")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(os.getcwd(), PKG)):
        print(f"perfbench: run from the repository root ({PKG}/ not found)", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    scratch_parent = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(scratch_parent, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=scratch_parent)
    bench = Bench(args.seed, root)
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(bench, WORKLOADS[args.workload], args)
    finally:
        try:
            if bench.spark is not None:
                stop_session(bench.spark)
        finally:
            shutil.rmtree(root, ignore_errors=True)


def run(bench: Bench, workload_cls, args) -> int:
    from spans import SparkStatus, Tracer
    from workloads import STAGE_OP

    isolate(bench.root)
    cpus = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    bench.spark = start_session(bench.root, cpus)
    session_start_s = time.perf_counter() - t
    bench.tracer = Tracer(SparkStatus(bench.spark), enabled=False)
    jvm_pid = bench.spark._jvm.java.lang.ProcessHandle.current().pid()

    workload = workload_cls(bench)
    generate_s = []
    for _ in range(GENERATE_REPEATS):
        t = time.perf_counter()
        workload.generate()
        generate_s.append(time.perf_counter() - t)
    bench.tracer.enabled = bool(args.trace)
    t = time.perf_counter()
    with bench.tracer.span("stage", STAGE_OP):
        workload.stage()
    stage_s = time.perf_counter() - t
    bench.tracer.enabled = False
    t = time.perf_counter()
    workload.warmup()
    warmup_s = time.perf_counter() - t
    setup_s = session_start_s + median(generate_s) + stage_s + warmup_s

    log = OpLog()
    log.record_check(workload.verify_setup())
    next_op = workload.next_op
    if args.trace:
        def next_op(i: int):
            op, check = workload.next_op(i)

            def traced_op():
                with bench.tracer.span("op", i):
                    return op()

            return traced_op, check

    bench.tracer.enabled = bool(args.trace)
    closed_loop(log, next_op, args.seconds)
    bench.tracer.enabled = False

    pct, tail_s, n = tail(log.times) if log.times else (100.0, float("nan"), 0)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "driver_memory": DRIVER_MEMORY,
        "git_sha": git_sha(), "session_start_s": session_start_s,
        "generate_s": generate_s, "stage_s": stage_s, "warmup_s": warmup_s,
        "op_times_s": log.times, "tail_percentile": pct, "tail_s": tail_s,
        "tail_samples": n, "error_rate": log.error_rate,
    }))
    for why in log.problems:
        print(f"perfbench: FAILED: {why}", file=sys.stderr)

    p50 = median(log.times)
    if args.trace:
        metrics = trace_report(bench.tracer, workload, log, args)
        metrics["session.start_s"] = (session_start_s, "s")
        metrics["session.generate_s"] = (median(generate_s), "s")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (p50, "s"),
            "peak_rss_mb": (peak_rss_mb(jvm_pid), "MB"),
        }
    print(json.dumps({
        "correct": log.failed == 0 and bool(log.times),
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def trace_report(tracer, workload, log, args) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced operations and the tracing
    overhead (the time the tracer spends in its own bookkeeping, median
    per traced operation); prints each span name's median self time and
    writes every span to ``perfbench/results/``."""
    metrics = layer_metrics(tracer, log.labels, workload.rows_changed)
    counts = workload.layer_counts()
    for name, unit in COUNTS.items():
        metrics[name] = (counts.get(name, 0.0), unit)
    metrics["trace.overhead_s"] = (median([tracer.overhead_s.get(i, 0.0) for i in log.labels]), "s")

    records = tracer.records()
    by_name: dict[str, list[float]] = {}
    for r in records:
        by_name.setdefault(r["name"], []).append(r["self_s"])
    for name, selfs in sorted(by_name.items()):
        print(f"span {name}: n={len(selfs)} median self {median(selfs):.4f} s")
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}-{stamp}.json"), "w") as f:
        json.dump(records, f, indent=1)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
