"""Run-environment set-up shared by the benchmark and its calibration.

Everything the benchmark and the program write goes under
``perfbench/_work`` of the checkout: Python's temp dir (the package's
staging dirs, ANN indexes, stream checkpoints), Spark's local dirs and
the JVM's ``java.io.tmpdir``. :func:`prepare` must run before pyspark
is imported, because the JVM reads its options at launch.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "_work")
BLAS_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)


def prepare(run_dir: str) -> None:
    """Point every temp/scratch location into ``run_dir`` (under the
    checkout) and pin the session width to the CPUs this process may run
    on (``local[nproc]``) unless ``SPARK_GRAFT_CPUS`` is already set. BLAS
    thread variables are left as found."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    jopts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    prior = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{prior} {jopts}".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(app: str):
    """Start the engine's session and keep the query registry from
    shipping a package zip through ``/tmp``: ``get_spark`` already
    exports the package to the Python workers via PYTHONPATH."""
    from mrt_data_integration_spark.queries import registry
    from mrt_data_integration_spark.session import get_spark

    spark = get_spark(app)
    registry._SHIPPED_CONTEXTS.add(id(spark.sparkContext))
    return spark


def stop_session(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (it exits when its stdin closes; one that hangs is killed)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def describe(spark) -> dict:
    """The run environment recorded next to every result."""
    import numpy
    import pandas
    import pyarrow

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "blas_env": {v: os.environ.get(v) for v in BLAS_VARS},
    }
