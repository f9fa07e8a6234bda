"""The pinned Spark session the Spark workloads run on.

``local[nproc]``, a fixed 2 GiB driver heap (``-Xms`` = ``-Xmx``, so the
heap never resizes and ``peak_rss_mb`` does not drift with GC), UI and
console progress off, and every JVM scratch path inside the run
directory. The session comes from the program's own ``get_spark``, so its
engine settings (AQE, Arrow, time zone) are the ones users get.
"""

from __future__ import annotations

import os
import subprocess
import time

from perfbench.harness import vm_hwm_mb

DRIVER_HEAP = "2g"


class SparkEnv:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self._proc = None

    def start(self) -> float:
        """Start the JVM and session; returns the seconds it took."""
        nproc = len(os.sched_getaffinity(0))
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["SPARK_MASTER"] = f"local[{nproc}]"
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
        t0 = time.perf_counter()
        from olympia_spark.session import get_spark
        self.spark = get_spark("perfbench", shuffle_partitions=nproc,
                               extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_HEAP} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir,
                                                    "spark-warehouse"),
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = self.spark.sparkContext._gateway.proc
        return time.perf_counter() - t0

    def stop(self) -> float:
        """Stop the session, wait for the JVM to exit, and return the JVM's
        peak resident set in MiB."""
        if self.spark is None:
            return 0.0
        proc, self._proc = self._proc, None
        hwm = vm_hwm_mb(proc.pid)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        return hwm
