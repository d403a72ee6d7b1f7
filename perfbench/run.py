"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_serve,query_mix} --seed N
                             --seconds S --trace {0,1}

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is a ``# stamp`` record (host, load, sample counts).
Everything the run writes stays under ``perfbench/.run/`` (removed at
exit) and ``perfbench/.out/`` (trace files).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# end-to-end metric -> unit
END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "op_tail_ms": "ms",
    "pass_s": "s",
    "rate_per_s": "1/s",
}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work_dir: str, cpus: int):
    """The project's session factory on ``local[cpus]``, with every
    scratch directory (shuffle, JVM and Python temp files) kept under
    ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        TMPDIR=tmp,
        # every JVM, spark-submit's launcher included. C1 only: in a
        # one-minute process the C2 compiler is still compiling through
        # the timed region, competing for the cores and drifting cycle
        # times; interleaved runs on a 4-core box measured C1-only both
        # faster and about 3x steadier (ingest_serve op_ms spread 0.09
        # against 0.31)
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()] + ["pyspark-shell"]
        ),
    )
    from zombi_spark.session import get_spark

    return get_spark("perfbench")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def end_to_end(res) -> tuple[dict, dict]:
    """(metrics, sample counts) from a workload result."""
    tail, pct = stats.tail(res.op_ms)
    metrics = {
        "setup_s": res.setup_s,
        "op_ms": statistics.median(res.op_ms),
        "op_tail_ms": tail,
        "pass_s": statistics.median(res.pass_s),
        "rate_per_s": res.work_items / sum(res.pass_s),
    }
    samples = {
        "setup_s": 1,
        "op_ms": len(res.op_ms),
        "op_tail_ms": f"p{pct} of {len(res.op_ms)}",
        "pass_s": len(res.pass_s),
        "rate_per_s": res.work_items,
    }
    return metrics, samples


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_serve", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("zombi_spark", "__spark_entry__.py", "tools/driver_sim.py"):
        if not os.path.exists(os.path.join(REPO, need)):
            print(f"perfbench: {need} not found under {REPO}; run from a full checkout",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    cpus = _cpus()
    load_start = os.getloadavg()[0]
    work_dir = os.path.join(HERE, ".run", str(os.getpid()))
    os.makedirs(work_dir)
    spark = None
    try:
        spark = start_spark(work_dir, cpus)
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, cpus)
        res = WORKLOADS[args.workload](spark, work_dir, args.seed, args.seconds, tracer, T_START)
        e2e, samples = end_to_end(res)
        stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cpus,
            "master": spark.sparkContext.master,
            "load1_start": load_start,
            "load1_end": os.getloadavg()[0],
            "samples": samples,
            "median_ms_by_kind": {k: statistics.median(v) for k, v in res.by_kind.items()},
            "errors": res.errors,
        }
        if tracer:
            stamp["samples"] = {"per_layer_groups": len({u["group"] for u in tracer.units})}
            out = os.path.join(HERE, ".out", f"trace-{args.workload}-{args.seed}.json")
            tracer.write(out, {"stamp": stamp, "traced_end_to_end": e2e})
            from tracing import PER_LAYER

            values = tracer.per_layer()
            metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    stamp["elapsed_s"] = time.perf_counter() - T_START
    print("# stamp " + json.dumps(stamp))
    print(
        json.dumps(
            {
                "correct": res.failed == 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
