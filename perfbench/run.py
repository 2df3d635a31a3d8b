"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Starts one Spark session on
``local[<cores this process may use>]`` through the library's session
factory, builds the workload's inputs from ``--seed``, warms up, measures
whole units for about ``--seconds`` seconds (at least one unit), checks
every output, and prints two JSON lines on stdout: an ``info`` line
(host, versions, seed, input sizes) and, last, the result line with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.

Every file the run writes (inputs, tables, Spark scratch, JVM temp
files) lives in a fresh directory under ``.perfbench_tmp/`` in the
checkout, removed before exit. See ``perfbench/README.md``.
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
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_spark_iceberg_dbt_airflow_spark"


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(tmp: str) -> None:
    """Point every writer at ``tmp`` and make the package importable by
    the Python workers, before the JVM starts (they inherit this env)."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub))
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'tmp')}")
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path[:0] = [ROOT]


def _start(tmp: str, cores: int):
    from data_pipeline_spark_iceberg_dbt_airflow_spark.session import get_spark_session

    return get_spark_session(
        "perfbench",
        master=f"local[{cores}]",
        driver_memory="2g",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData",
            # traced runs read every job of a unit back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def _stop(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process below us."""
    from pyspark import SparkContext

    import procfs

    procs = [p for p in procfs.descendants(os.getpid()) if p != os.getpid()]
    gateway_proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if gateway_proc is not None:
        gateway_proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway_proc.kill()
            gateway_proc.wait()
    deadline = time.monotonic() + 30
    while any(not _ended(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if not _ended(p):
            os.kill(p, signal.SIGKILL)


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(
        os.path.join(ROOT, "tests")
    ):
        print(f"perfbench: {PACKAGE}/ and tests/ must sit next to perfbench/",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{os.getpid()}-{uuid.uuid4().hex[:8]}")
    _isolate(tmp)
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start(tmp, cores)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx = workloads.Ctx(spark, jvm_pid, tmp, args.seed, args.seconds,
                            bool(args.trace), time.perf_counter() - t0)
        workloads.log(f"session up in {ctx.setup_s:.2f}s")
        out = workloads.WORKLOADS[args.workload](ctx)
        names = (workloads.per_layer(sorted(workloads.bench_specs())) if args.trace
                 else workloads.END_TO_END)
        unknown = set(out.metrics) - set(names)
        if unknown:
            raise RuntimeError(f"metrics missing from the spec: {sorted(unknown)}")
        metrics = {k: out.metrics.get(k, (0.0, unit)) for k, unit in names.items()}
        import pyarrow
        import pyspark

        info = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": cores,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
            **ctx.info,
        }
    finally:
        try:
            if spark is not None:
                _stop(spark)
                workloads.log("stopped")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass  # another run's directory is still there
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
