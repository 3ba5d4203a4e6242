"""Spark session for the benchmark: ``local[4]`` sized for a 4-core,
15 GiB host, with every scratch path kept inside the checkout and the JVM
shut down (and waited for) on close."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import time

CORES = 4
DRIVER_MEMORY = "3g"


class SparkHost:
    """Owns the JVM. Sessions can be stopped and restarted on it (set-up is
    timed from a fresh session); ``close`` ends the JVM and every process
    under it."""

    def __init__(self, root: str, scratch: str):
        self.root = root
        self.scratch = scratch
        self.spark = None
        self._proc = None
        self._gateway = None
        for sub in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(scratch, sub), exist_ok=True)
        # set before the JVM starts: the JVM and the Python workers it
        # forks inherit them
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
        os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
        # no hsperfdata files in the system temp directory
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def start(self):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.scratch, "tmp")
        self.spark = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName("sketchbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(self.scratch, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.scratch, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.default.parallelism", str(CORES))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self._gateway = sc._gateway
        self._proc = getattr(sc._gateway, "proc", None)
        return self.spark

    @property
    def jvm_pid(self) -> int:
        return self._proc.pid

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, end the JVM and wait for it and its children."""
        from sketchbench.tracing import alive, descendants

        if self._proc is None:
            self.stop_session()
            return
        pids = descendants(self._proc.pid)
        self.stop_session()
        self._gateway.shutdown()
        # the gateway JVM exits when its stdin closes
        if self._proc.stdin is not None:
            self._proc.stdin.close()
        try:
            self._proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        left = [p for p in pids if alive(p)]
        while left and time.monotonic() < deadline:
            time.sleep(0.1)
            left = [p for p in left if alive(p)]
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        self._proc = None
