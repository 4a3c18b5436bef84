"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dataflow --seed 1 --seconds 15 --trace 0

It measures the checkout it sits in, from any working directory. It
generates the workload's input tables, starts a local Spark session on
every usable core, sets the workload up, runs the workload's warm-up,
then runs whole rounds until ``--seconds`` of op time have passed.
``--seed`` chooses the query order and the change batches. Every op's
output is checked after the clock stops.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it records the pinned run environment. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the run's spans are written to
``.perfbench_out/spans-<workload>-<seed>.jsonl``. All scratch files go
under ``.perfbench_work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOAD_NAMES = ("dataflow", "lake_churn")
#: program settings read from the environment; the run pins these
PINNED = {
    "SPARK_GRAFT_DRIVER_MEM": "2g",
    "SPARK_GRAFT_BLOCK_CACHE": None,
    "SPARK_GRAFT_KERNEL_CELLS": None,
    "SPARK_GRAFT_MOR_BROADCAST_MAX_BYTES": None,
    "SPARK_GRAFT_STATS_DRIVER_FILES": None,
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_environment(root: Path, work: Path) -> dict:
    """Make the run independent of the caller's environment and keep
    every file Spark, the JVM and Python workers write inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    for key, value in PINNED.items():
        if value is None:
            os.environ.pop(key, None)
        else:
            os.environ[key] = value
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # Python workers are started by the JVM and import the program
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # both the spark-submit launcher JVM and the driver JVM
    for key in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[key] = " ".join(filter(None, [
            os.environ.get(key), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
        ]))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
    )
    import pyspark

    return {
        "cores": cores,
        "spark_master": f"local[{cores}]",
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        **{k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
    }


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM (and with it every Python
    worker it started) has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    start = time.perf_counter()
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _args(argv)
    root = Path(__file__).resolve().parent.parent
    if not (root / "async_pipes_spark" / "session.py").is_file():
        print(
            "perfbench: this copy of the benchmark is not inside a checkout "
            f"of the repository (no async_pipes_spark/ package under {root})",
            file=sys.stderr,
        )
        return 2
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    spark = workload = None
    phases: dict[str, float] = {}
    try:
        env = _pin_environment(root, work)
        env.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                   trace=args.trace)
        sys.path.insert(0, str(root))
        import datagen
        import metrics
        from probe import Tracer
        from workloads import WORKLOADS

        cls = WORKLOADS[args.workload]
        t0 = time.perf_counter()
        data = datagen.generate(str(work / "data"), datagen.TABLE_SEED, cls.tables)
        phases["datagen"] = time.perf_counter() - t0

        from async_pipes_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=env["cores"])
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark, enabled=bool(args.trace))
        workload = cls(spark, data, str(work), args.seed, tracer)
        t0 = time.perf_counter()
        workload.prepare_checks()
        phases["expected_results"] = time.perf_counter() - t0
        tracer.wrap_layers()
        t0 = time.perf_counter()
        workload.setup()
        setup_s = time.perf_counter() - t0
        workload.warm_up()
        warm_s = sum(o.seconds for o in workload.ops)
        tracer.overhead_s = 0.0
        busy = 0.0
        t0 = time.perf_counter()
        while busy < args.seconds:
            first = len(workload.ops)
            workload.run_round(timed=True)
            busy += sum(o.seconds for o in workload.ops[first:])
        phases["timed_rounds"] = time.perf_counter() - t0
        for o in workload.ops:
            print(f"[perfbench] timed={o.timed:d} {o.name:24s} {o.seconds:8.3f}s"
                  f" ok={o.ok} {o.info.get('mode', '')}", file=sys.stderr)
        result = metrics.collect(
            workload, tracer, env["cores"], session_s + setup_s + warm_s, bool(args.trace)
        )
        if args.trace:
            out = root / ".perfbench_out"
            out.mkdir(exist_ok=True)
            tracer.write(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))
        phases.update(session=session_s, workload_setup=setup_s, warmup=warm_s)
    finally:
        t0 = time.perf_counter()
        if workload is not None:
            workload.oracle.close()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
        phases["stop"] = time.perf_counter() - t0
    phases["total"] = time.perf_counter() - start
    env["phases_s"] = phases
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
