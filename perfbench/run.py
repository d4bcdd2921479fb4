#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 6 --trace 0

Run from anywhere; the engine package is taken from the directory above
this file. ``--trace 0`` prints the end-to-end metrics, measured with
tracing off. ``--trace 1`` is a separate run that records spans and the
Spark event log and prints the per-layer metrics instead; its per-op
layer table goes to stderr and its spans to ``.perfbench_out/``.

The run sizes Spark to the CPUs this process may use, works in a fresh
directory under ``.perfbench_work/`` that it removes at the end, and
stops the Spark JVM (and with it the Python workers) before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("ingest", "query")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path, ncpu: int) -> None:
    """Before numpy, pyarrow or Spark start: cap native thread pools at
    the CPU count, keep every temp file in ``work``, and let Spark's
    Python workers import the engine (they do not inherit sys.path)."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ[var] = str(ncpu)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    (work / "tmp").mkdir(parents=True)


def start_spark(work: Path, ncpu: int, eventlog: Path | None):
    from neural_cherche_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if eventlog is not None:
        eventlog.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{ncpu}]",
        shuffle_partitions=ncpu, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the launcher JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "neural_cherche_spark" / "__init__.py").is_file():
        print(f"perfbench: no neural_cherche_spark package in {ROOT}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an error, so the finally below still stops
    # Spark and removes the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ncpu = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, ncpu)
    sys.path.insert(0, str(ROOT))

    import pyarrow

    pyarrow.set_cpu_count(ncpu)
    pyarrow.set_io_thread_count(ncpu)
    from perfbench import workloads
    from perfbench.trace import Tracer

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t0 = time.perf_counter()
        eventlog = work / "eventlog" if args.trace else None
        spark = start_spark(work, ncpu, eventlog)
        run = workloads.Run(spark, str(work), args.seed, args.seconds, tracer)
        run.setup["session"] = time.perf_counter() - t0
        run.eventlog = str(eventlog) if eventlog else None
        if args.trace:
            workloads.wrap_layers(tracer)
        e2e, layer = workloads.WORKLOADS[args.workload](run)
        if args.trace:
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            spans = out / f"spans-{args.workload}-seed{args.seed}.json"
            tracer.dump(str(spans))
            print(f"perfbench: spans written to {spans}", file=sys.stderr)
    finally:
        tracer.unwrap()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    names = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    values = layer if args.trace else e2e
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
