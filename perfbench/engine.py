"""One Spark JVM per benchmark run; SparkSessions start and stop on it.

Everything Spark, the JVM and the Python workers write goes under the
run's work directory: local dirs, warehouse, temp files and event logs.
``close`` stops the session, ends the JVM and waits until every process
the run started has exited.
"""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import time

from procfs import tree_pids

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Engine:
    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self._pkg = os.path.join(work, "nobletools_spark.zip")
        for sub in ("local", "tmp", "warehouse", "eventlog"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # the JVMs and the Python workers they fork inherit these
        self.java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                          "-XX:-UsePerfData")
        os.environ["SPARK_LAUNCHER_OPTS"] = self.java_opts
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    def start(self, slots: int = 4, event_log: bool = False):
        """Stop the current session, if any, and start a ``local[slots]``
        one with the library shipped to its workers."""
        from pyspark.sql import SparkSession
        self.stop()
        b = (SparkSession.builder.master(f"local[{slots}]")
             .appName("perfbench")
             .config("spark.driver.extraJavaOptions", self.java_opts)
             # two shuffle partitions per slot: the inputs are small
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(self.work, "local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.work, "warehouse"))
             .config("spark.eventLog.enabled", str(event_log).lower())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir",
                     os.path.join(self.work, "eventlog")))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self._ship()
        return self.spark

    def _ship(self) -> None:
        """``addPyFile`` the library, as ``spark-submit --py-files`` would."""
        if not os.path.exists(self._pkg):
            sys.path.insert(0, os.path.join(REPO, "scripts"))
            from package_pyfiles import build
            build(self._pkg)
        self.spark.sparkContext.addPyFile(self._pkg)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self, timeout_s: float = 60.0) -> None:
        """Stop the session, end the JVM and wait for every descendant."""
        from pyspark import SparkContext
        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        started = [p for p in tree_pids() if p != os.getpid()]
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()      # the JVM exits on stdin EOF
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + timeout_s
        for pid in started:         # workers forked by the JVM
            while _alive(pid):
                if time.monotonic() > deadline:
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
