"""Code-search benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the seeded corpus and index under
.perfbench_work/ in the current directory (removed on exit), runs the
workload on Spark local[nproc / 2], checks every output against the oracle
and prints one JSON object as the last line of standard output:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Mismatches are listed on standard output before it."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _task_slots(nproc: int) -> int:
    """Spark task slots: half the processors, so the tasks, their Python
    workers, the JVM's own threads and the driver do not queue for the
    processors (a queue there times the scheduler, not the program)."""
    return max(1, nproc // 2)


def _start_spark(work: str, nproc: int):
    """Spark local[_task_slots(nproc)] with every scratch path inside
    `work`. The executors' Python workers import reiz_io_spark from
    ROOT."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    from reiz_io_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{_task_slots(nproc)}]",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # the status tracker must keep every job of a traced run
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to
    exit: the gateway JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import tracing
    from workloads import WORKLOADS, Run, end_to_end, per_layer, raw_summary

    nproc = _nproc()
    work = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    spark = _start_spark(work, nproc)
    try:
        r = Run(spark=spark, work=work, seed=seed, seconds=seconds, nproc=nproc)
        w = WORKLOADS[workload](r)
        tracer = tracing.Tracer(tracing.SparkJobs(spark.sparkContext)) if trace else None
        uninstall = None
        if trace and w.trace_setup:
            r.tracer, uninstall = tracer, tracing.install(tracer)
        t0 = time.perf_counter()
        w.setup()
        t1 = time.perf_counter()
        if trace and not w.trace_setup:
            r.tracer, uninstall = tracer, tracing.install(tracer)
        try:
            w.measure()
            t2 = time.perf_counter()
            w.finish()
        finally:
            if uninstall:
                uninstall()
        metrics = per_layer(w) if trace else end_to_end(w)
        _log(f"setup {t1 - t0:.1f}s {r.setup_parts} measure {t2 - t1:.1f}s "
             f"finish {time.perf_counter() - t2:.1f}s")
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for line in sorted(set(r.mismatches)):
        print(f"MISMATCH {line}")
    print(raw_summary(w))
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "reiz_io_spark")):
        print(f"perfbench: no reiz_io_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
