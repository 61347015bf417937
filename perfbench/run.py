#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload cow_ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. The run builds its inputs from the seed
(cached under ``.perfbench_work/inputs``), starts one Spark session
pinned to ``local[N]`` (N = min(4, cores)), sets the engine up several
times, warms up, runs the closed loop for at least ``--seconds`` of
cycle time, and checks every result against the generator's oracle
(see README.md).

Diagnostic JSON lines come first; the last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "transactional_datalake_using_apache_iceberg_on_aws_glue_spark"
WORK = os.path.join(ROOT, ".perfbench_work")

#: pinned session shape; recorded in every run's diagnostics
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "3g"

UNITS = {
    "setup_s": "s", "ingest_rows_per_s": "1/s", "apply_s.p50": "s",
    "read_ms.p50": "ms", "write_amp": "x", "space_amp": "x",
}


def spin_s() -> float:
    """Fixed single-thread work; its time tracks the host's speed."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i & 7
    return time.perf_counter() - t0


def pin_environment() -> dict:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Python workers (the lake-changes stream planner among them)
        # import the package from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — any wait failure: kill, then reap
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    conf = pin_environment()
    sys.path.insert(0, ROOT)

    import workloads
    from pyspark import SparkContext
    from spans import Tracer
    from transactional_datalake_using_apache_iceberg_on_aws_glue_spark.session import (
        build_session,
    )

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]

    spin_before = spin_s()
    spark = build_session(app_name=f"perfbench-{args.workload}",
                          shuffle_partitions=CPUS, extra_conf=conf)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    tracer = Tracer(spark if args.trace else None)
    ctx = workloads.Ctx(spark, work, os.path.join(WORK, "inputs"), tracer)
    e2e = layers = None
    try:
        e2e, layers = workloads.run(ctx, cls, args.seed, args.seconds)
    except Exception:  # noqa: BLE001 — report the failed run, then exit non-zero
        traceback.print_exc()
        ctx.fail(f"{args.workload}: run aborted by an exception")
    finally:
        jvm = getattr(SparkContext._gateway, "proc", None)
        rss = peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
        if args.trace:
            tracer.write(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.json"))
        clock = time.perf_counter()
        stop_spark(spark)
        ctx.phases["stop"] = time.perf_counter() - clock
        shutil.rmtree(work, ignore_errors=True)
    spin_after = spin_s()

    print(json.dumps({
        "perfbench": args.workload, "seed": args.seed, "trace": args.trace,
        "session": {"master": f"local[{CPUS}]", "driver_mem": DRIVER_MEM,
                    "shuffle_partitions": CPUS},
        "spin_s": {"before": round(spin_before, 4), "after": round(spin_after, 4)},
        "samples": {k: len(v) for k, v in ctx.samples.items()},
        "medians_s": {k: round(workloads._median(v), 4) for k, v in ctx.samples.items()},
        "setup_runs_s": [round(x, 4) for x in ctx.setup_s],
        "warm_cycles_s": [round(x, 4) for x in ctx.warm_cycle_s],
        "op_samples_s": {k: [round(x, 4) for x in ctx.samples[k]]
                         for k in ("apply", "read", "refresh", "drain") if k in ctx.samples},
        "phases_s": {k: round(v, 2) for k, v in ctx.phases.items()},
        "problems": ctx.problems[:20],
    }))
    correct = e2e is not None and ctx.failed == 0
    if not args.trace:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in (e2e or {}).items()}
    else:
        layers = layers or {}
        layers["proc.peak_rss_mb"] = rss
        metrics = {k: {"value": v, "unit": workloads.LAYER_UNITS[k]} for k, v in layers.items()}
    print(json.dumps({"correct": correct, "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
