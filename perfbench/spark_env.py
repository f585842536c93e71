"""Spark session start and stop for the benchmark's processes.

Sessions come from the program's own factory
(``parquet_generator_spark.session.get_spark``) on
``local[<usable cores>]``. Every scratch file Spark, the JVM and Python
write stays under ``.perfbench/tmp`` in the checkout, and ``stop``
waits for the JVM to exit.
"""

from __future__ import annotations

import os
import subprocess

STATE = ".perfbench"
DRIVER_MEMORY = "3g"


def _tmp() -> str:
    path = os.path.abspath(os.path.join(STATE, "tmp"))
    os.makedirs(path, exist_ok=True)
    return path


def configure_env() -> None:
    """Point every temporary directory into the checkout; call before
    pyspark starts a JVM."""
    tmp = _tmp()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)


def start(app: str):
    configure_env()
    from parquet_generator_spark.session import get_spark

    tmp = _tmp()
    spark = get_spark(app, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop(spark) -> None:
    """Stop the session, shut the gateway and wait for the JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
