"""The pinned run environment and the Spark session the benchmark uses."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"


def pin_env() -> dict:
    """Cores, scratch dirs and driver memory for this process and the JVMs
    and Python workers it starts; everything is written under WORK."""
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "OT_SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": os.path.join(WORK, "tmp"),
        # every JVM (the spark-submit launcher too): temp files under WORK,
        # no /tmp/hsperfdata_* files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    return env


def start(app: str):
    """``ot_spark.session.get_spark`` with ``local[SPARK_GRAFT_CPUS]``."""
    from ot_spark.session import get_spark

    return get_spark(app, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def stop(spark) -> None:
    """Stop the session and wait for its JVM (and so its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — still running: kill it
            proc.kill()
            proc.wait(timeout=30)
