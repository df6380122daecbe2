"""The repo benchmark: one workload per run, every metric by name.

    python3 perfbench/run.py --workload live-tracks --seed 1 --seconds 25 --trace 0

Run from the root of a checkout.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The line before it carries the workload's own figures,
the sample counts and the run's environment.  A traced run also writes
its spans as JSON lines under ``.perfbench/traces/``.  Exits non-zero
without a result when the program is missing, a stream dies or the run
overruns its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import feed  # noqa: E402
import harness  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("live-tracks", "catalog")
END_TO_END = {
    "setup_s": "s", "latency_p50_ms": "ms", "latency_p90_ms": "ms",
    "read_p50_ms": "ms", "throughput_per_s": "1/s", "peak_rss_mb": "MB",
}
TIME_LIMIT_S = 170


def process_start_wall() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Context:
    """What a workload gets: the session, the counters, the tracer, the
    progress log and its own run directory."""

    def __init__(self, args, run_dir, spark, progress, tracer, ops):
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.spark = spark
        self.progress = progress
        self.tracer = tracer
        self.ops = ops
        self.setup_done: float | None = None

    def mark_setup_done(self) -> None:
        self.setup_done = time.time()


def _kill_tree_and_exit(code: int) -> None:
    for pid in reversed(harness.proc_tree(os.getpid())[1:]):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(code)


def _watchdog() -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {TIME_LIMIT_S}s; stopping", file=sys.stderr, flush=True)
        _kill_tree_and_exit(3)

    t = threading.Timer(TIME_LIMIT_S, fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process = process_start_wall()

    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"perfbench: no {harness.PACKAGE}/ under {harness.ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    watchdog = _watchdog()
    cpus = harness.nproc()
    foreign = harness.foreign_spark_jvms()
    run_dir = harness.RunDir(args.workload)
    harness.isolate_env(run_dir, cpus)
    sys.path.insert(0, harness.ROOT)
    tracer = harness.Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    ops = harness.Ops()
    rss = harness.RssSampler().start()
    spark = progress = None
    try:
        with tracer.span("setup.session"):
            spark = harness.start_session(
                run_dir, f"perfbench-{args.workload}", streaming=args.workload != "catalog")
            progress = harness.ProgressLog(spark)
        ctx = Context(args, run_dir, spark, progress, tracer, ops)
        if args.workload == "live-tracks":
            import live as workload
        else:
            import catalog as workload
        with tracer.span(args.workload):
            out = workload.run(ctx)
        gc_ms, heap_mb = harness.jvm_stats(spark)
    finally:
        if progress is not None:
            progress.close()
        if spark is not None:
            harness.stop_session(spark)
        rss.stop()
        run_dir.remove()
    watchdog.cancel()

    lat, reads = out["latency"], out["reads"]
    if not lat or not reads or out["throughput"] <= 0:
        ops.record("samples", False, f"latency {len(lat)}, reads {len(reads)} samples")
    e2e = {
        "setup_s": ctx.setup_done - t_process,
        "latency_p50_ms": feed.pct(lat, 50) if lat else 0.0,
        "latency_p90_ms": feed.pct(lat, 90) if lat else 0.0,
        "read_p50_ms": feed.pct(reads, 50) if reads else 0.0,
        "throughput_per_s": out["throughput"],
        "peak_rss_mb": rss.peak_mb,
    }
    per_layer = {m: 0.0 for m in layers.PER_LAYER}
    per_layer.update(out["layers"])
    per_layer["jvm.gc_ms"], per_layer["jvm.heap_peak_mb"] = gc_ms, heap_mb

    if args.trace:
        trace_dir = os.path.join(harness.ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "end_to_end": e2e, **out["details"],
        "latency_samples": len(lat), "read_samples": len(reads),
        "failed_ops_ratio": ops.failed / max(1, ops.attempted), "errors": ops.errors,
        "nproc": cpus, "foreign_spark_jvms": foreign, "versions": harness.versions(),
        "spans": len(tracer.spans),
    }
    print(json.dumps(details, default=str), flush=True)
    if args.trace:
        metrics = {m: {"value": float(per_layer[m]), "unit": layers.unit_of(m)} for m in layers.PER_LAYER}
    else:
        metrics = {m: {"value": float(v), "unit": END_TO_END[m]} for m, v in e2e.items()}
    correct = not any(e.startswith(("snapshot_vs_model", "oracle_hash")) for e in ops.errors)
    print(json.dumps({
        "correct": correct, "attempted": ops.attempted, "failed": ops.failed, "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
