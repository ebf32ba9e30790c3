"""Process, session and measurement plumbing shared by every workload.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
``work-<pid>/`` holds the Spark local dir, temp files, snapshot roots
and the event log of one run and is removed when the run ends;
``traces/`` keeps the span file of each traced run.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
CORES = 4


def prepare_process() -> str:
    """Make the program importable in Python workers, keep every temp
    file inside the checkout, drop the program's env knobs, and adopt
    orphaned descendants (see ``stop_children``). Returns this run's
    work dir."""
    become_subreaper()
    work = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: temp files in the checkout, no
    # hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return work


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)


def become_subreaper() -> None:
    """Make descendants this run leaves orphaned (the JVM spark-submit
    starts, Python workers) re-parent to this process, so
    ``stop_children`` can see and reap them."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the field after the ")" that closes the command name is the
        # state, the one after it the parent pid
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(name))
    return kids


def stop_children(term_after_s: float = 2.0, kill_after_s: float = 15.0) -> None:
    """Stop every process this run started and wait until each has
    ended: close the JVM's stdin (it exits on EOF), SIGTERM what is
    left after ``term_after_s``, SIGKILL after ``kill_after_s``, and
    reap until no child is left."""
    try:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None):
            gateway.proc.stdin.close()
    except Exception:
        pass
    start = time.monotonic()
    signalled: dict[int, int] = {}
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children()
        if not kids:
            return
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited >= kill_after_s
               else signal.SIGTERM if waited >= term_after_s else None)
        for pid in kids:
            if sig is not None and signalled.get(pid) != sig:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
                signalled[pid] = sig
        time.sleep(0.05)


def build_spark(work: str):
    """The benchmark's pinned session: local[4], shuffle, temp and
    warehouse dirs inside the run's work dir."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.default.parallelism", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # read by the event-log listener traced runs attach (sparklog.py)
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_probe(n: int = 3_000_000) -> float:
    """Seconds for a fixed single-threaded CPU loop. Run beside every
    measurement so a noisy host window is visible when two sets of runs
    are compared."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0


def peak_rss_mb() -> float:
    """Peak resident set of this (driver) Python process."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once
    when the run ends. A disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> int:
        """Record a span measured elsewhere (e.g. a crawl round read
        back from its snapshot); returns its index."""
        if not self.enabled:
            return -1
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run": self.run_id})
        return len(self.spans) - 1

    def self_time(self, idx: int) -> float:
        """Duration minus the part of it that child spans cover."""
        s = self.spans[idx]
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == idx)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [dict(s, self_s=self.self_time(i))
                for i, s in enumerate(self.spans)]
        with open(path, "w") as fh:
            json.dump(rows, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.start = self.end = 0.0
        self.idx = -1

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def __enter__(self):
        t = self.tracer
        self.start = time.monotonic()
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.idx = t.add(self.name, self.start, self.start, parent)
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.monotonic()
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = self.end
            t._stack.pop()
        return False
