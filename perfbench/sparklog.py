"""Spark engine counters for a traced window.

An event-log listener is attached to the running context only for the
traced operation, so the untraced operation of the same run pays
nothing for it, then the written log is summed over the tasks that
launched inside the window.
"""

from __future__ import annotations

import glob
import json
import os


class EventLog:
    def __init__(self, spark, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        sc = spark.sparkContext
        jvm = sc._jvm
        self.dir = log_dir
        self._sc = sc._jsc.sc()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId, jvm.scala.Option.apply(None),
            jvm.java.net.URI("file:" + os.path.abspath(log_dir)),
            self._sc.conf(), sc._jsc.hadoopConfiguration())
        self._listener.start()
        self._sc.addSparkListener(self._listener)

    def close(self) -> None:
        """Detach and flush; the log file is complete afterwards."""
        self._sc.removeSparkListener(self._listener)
        self._listener.stop()

    def task_totals(self, t0_ms: float, t1_ms: float) -> dict:
        """Sum task metrics of tasks launched in [t0_ms, t1_ms]."""
        tot = {"spark.tasks": 0, "spark.executor_run_s": 0.0,
               "spark.executor_cpu_s": 0.0, "spark.gc_s": 0.0,
               "spark.shuffle_write_mb": 0.0, "spark.shuffle_read_mb": 0.0,
               "spark.spill_mb": 0.0}
        mb = 1024.0 * 1024.0
        for path in glob.glob(os.path.join(self.dir, "*")):
            with open(path) as fh:
                for line in fh:
                    if '"SparkListenerTaskEnd"' not in line:
                        continue
                    ev = json.loads(line)
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics")
                    if not m or not t0_ms <= info.get("Launch Time", 0) <= t1_ms:
                        continue
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    tot["spark.tasks"] += 1
                    tot["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["spark.shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / mb
                    tot["spark.shuffle_read_mb"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)) / mb
                    tot["spark.spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                              + m.get("Disk Bytes Spilled", 0)) / mb
        return tot


def last_job_id(spark) -> int:
    """Highest job id the status tracker knows; ids are sequential, so
    the difference across a window is the number of jobs it ran."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1
