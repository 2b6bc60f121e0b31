"""Spark session lifecycle for one benchmark run.

One Spark application on ``local[<cpus>]`` (the engine's own
``session.get_spark``), with every scratch path Spark and the JVM use
pointed inside the run's work directory.  A session stopped and started
again keeps the JVM, so the start measures the engine's session set-up,
not JVM launch.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile


def configure_env(work: str, cpus: int) -> None:
    """Environment the engine reads; must run before pyspark starts a JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # inputs are a few MB; a small heap keeps the shared host's memory free
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


class Engine:
    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.jvm_pid: int | None = None

    def _conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        return {
            # -XX:-UsePerfData: no hsperfdata files outside the work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads per-span job/stage counts at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def start(self) -> None:
        """Start (or re-create) the session."""
        from flink_bm25_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self._conf())
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
