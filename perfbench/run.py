"""Platform benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It starts one Spark session at
``local[<cpus>]``, builds the workload's inputs from the seed, sets up,
runs whole rounds of the workload's operations in a closed loop (one
client) for ``--seconds``, checks every answer against a computation
made apart from the program, and prints one JSON object as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` rounds alternate between untraced and traced, the metrics
are the per-layer ones, and the spans go to
``.perfbench_out/trace-<workload>-seed<n>.json``. Everything the run
writes stays under the repository root (``.perfbench_work`` is removed
at exit). See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("scd_full_feed", "scd_cdc_trickle", "dim_history_reads", "docs_dedup")


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(work: str) -> None:
    """Keep the run's scratch files (Spark local dirs, Python and JVM
    temp files) inside the checkout, and pin every clock that stamps
    data to UTC so model and table agree on timestamps."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Fixed JIT compiler threads: they live as long as the JVM, so the
    # CPU figure can subtract them (``workloads.Bench._cpu_s``).
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # A 2 GB heap holds every workload with room to spare; the package's
    # 8 GB default only inflates the driver's resident set. The heap
    # starts at this size too (``workloads.Bench._session``).
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"


def _stop(spark) -> None:
    """Stop the session and wait until the JVM it started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, "delta_lake_platform_spark")):
        print(
            "perfbench: package delta_lake_platform_spark not found next to "
            f"{HERE}; run from a full checkout",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    _isolate(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import workloads

    bench = workloads.Bench(args, work)
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:
            _stop(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    if args.trace:
        os.makedirs(out_dir, exist_ok=True)
        bench.tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "result": result},
        )
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
