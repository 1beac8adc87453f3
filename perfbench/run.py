"""Benchmark entry point.

    python3 perfbench/run.py --workload pit_flagship --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Prints one JSON object as the last line
of stdout: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` they are the per-layer metrics, and the spans plus the
per-layer numbers are also written to ``perfbench_out/``. Exits 1 when an
output check fails and 2 when the checkout holds no program to measure.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {
    "setup_s": "s",
    "ok_ratio": "ratio",
    "wall_s": "s",
    "throughput_per_s": "1/s",
    "op_p80_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "input.gen_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "driver.gap_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "plans.build_s": "s",
    "scan.input_bytes": "bytes",
    "scan.run_s": "s",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.shuffle_read_bytes": "bytes",
    "exchange.fetch_wait_s": "s",
    "jvm.executor_run_s": "s",
    "jvm.executor_cpu_s": "s",
    "jvm.gc_s": "s",
    "jvm.spill_bytes": "bytes",
    "cpu.util": "ratio",
    "straggler.max_over_median": "ratio",
    "python.worker_run_s": "s",
    "python.worker_start_s": "s",
    "python.rows": "count",
    "checkpoint.write_snapshot_s": "s",
    "checkpoint.remaining_s": "s",
    "checkpoint.verify_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.resume_rows_ratio": "ratio",
    "checkpoint.stored_bytes_ratio": "ratio",
    "mem.peak_rss_mb": "MB",
    "fail_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}
SETUPS = 3  # cold session set-ups per run; setup_s is their median
DEADLINE_S = 170  # a run that has not finished by then is killed


def _checkout_ok() -> str | None:
    """Why this checkout cannot be benchmarked, or None."""
    for rel in ("__spark_entry__.py", "audio_feature_extraction_spark/__init__.py",
                "tools/check_entry.py", "tools/hostcond.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"missing {rel} under {ROOT}: run from the root of a checkout"
    return None


def _args(argv: list[str]) -> argparse.Namespace:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _e2e(ctx, wl, setup_s: float) -> dict[str, float]:
    from perfbench import harness

    per, wall, items = wl.summary(ctx)
    return {
        "setup_s": setup_s,
        "ok_ratio": 1.0 - ctx.failed_ops / len(ctx.ops),
        "wall_s": wall,
        "throughput_per_s": items / wall,
        "op_p80_s": harness.percentile(per, 0.8),
    }


def main(argv: list[str]) -> int:
    why = _checkout_ok()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = _args(argv)

    from perfbench import harness
    from perfbench.layers import SparkProbe, Tracer
    from perfbench.workloads import WORKLOADS, Ctx, _overhead
    from tools.hostcond import HostWindow

    watchdog = harness.start_watchdog(DEADLINE_S)
    shutil.rmtree(harness.WORK, ignore_errors=True)
    os.makedirs(harness.WORK)
    cores = harness.nproc()
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(seed=args.seed, seconds=args.seconds, cores=cores)
    spark = None
    try:
        t0 = time.time()
        wl.prepare(ctx)
        ctx.layer["input.gen_s"] = time.time() - t0
        phase = {"prepare": ctx.layer["input.gen_s"]}

        t0 = time.time()
        starts, warms = [], []
        for _ in range(SETUPS):
            # every set-up launches its own JVM, as every run of the
            # program does: a SparkContext restart in a warm JVM would skip
            # the launch and the JVM-start-time settings
            if spark is not None:
                harness.stop_session(spark)
            t1 = time.time()
            spark = harness.start_session(f"perfbench-{wl.name}", cores)
            t2 = time.time()
            harness.warm_session(spark, cores)
            starts.append(t2 - t1)
            warms.append(time.time() - t2)
        ctx.spark = spark
        setup = [s + w for s, w in zip(starts, warms)]
        ctx.layer["session.start_s"] = harness.median(starts)
        ctx.layer["session.warmup_s"] = harness.median(warms)
        ctx.info["setups"] = {"start_s": starts, "warmup_s": warms}
        ctx.tracer = Tracer(SparkProbe(spark) if args.trace else None)
        phase["setup"] = time.time() - t0

        t0 = time.time()
        host = HostWindow().start()
        wl.run(ctx)
        ctx.info["host"] = host.stop()
        phase["warm"] = ctx.info["timed_start"] - t0
        phase["timed"] = ctx.info["timed_s"]

        t0 = time.time()
        errors = wl.check(ctx)
        phase["check"] = time.time() - t0

        t0 = time.time()
        ctx.info["provenance"] = harness.provenance(spark, cores)
        harness.stop_session(spark)
        spark = None
        phase["teardown"] = time.time() - t0
        ctx.info["phase_s"] = phase
    except Exception:  # noqa: BLE001 -- report, clean up, exit non-zero
        traceback.print_exc()
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(harness.WORK, ignore_errors=True)
        watchdog.cancel()
        return 1
    shutil.rmtree(harness.WORK, ignore_errors=True)

    errors = ctx.errors + errors
    ctx.failed_ops += sum(1 for o in ctx.ops if o.get("failed"))
    if errors and ctx.failed_ops == 0:
        ctx.failed_ops = len(ctx.ops)  # a wrong result invalidates every op
    attempted = len(ctx.ops)
    ctx.failed_ops = min(ctx.failed_ops, attempted)
    correct = not errors
    ctx.layer["fail_ratio"] = ctx.failed_ops / attempted
    ctx.layer["trace.overhead_ratio"] = _overhead(ctx.ops)
    ctx.layer["mem.peak_rss_mb"] = ctx.info["peak_rss_kb"] / 1024.0
    e2e = _e2e(ctx, wl, harness.median(setup))
    layer = {k: float(ctx.layer.get(k, 0.0)) for k in LAYER_UNITS}

    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "errors": errors,
        "end_to_end": e2e, "per_layer": layer, **ctx.info,
        "ops": ctx.ops,
        "spans": ctx.tracer.spans if args.trace else [],
    }
    os.makedirs(harness.OUT, exist_ok=True)
    path = os.path.join(
        harness.OUT, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)

    vals, units = (layer, LAYER_UNITS) if args.trace else (e2e, E2E_UNITS)
    print(json.dumps({"provenance": ctx.info.get("provenance"), "artifact": path}))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": ctx.failed_ops,
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units},
    }))
    watchdog.cancel()
    return 0 if correct else 1


if __name__ == "__main__":
    # import the benchmark as a package from the checkout root, not its
    # modules as top-level names from the script's own directory
    sys.path[0] = ROOT
    sys.exit(main(sys.argv[1:]))
