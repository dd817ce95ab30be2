"""Spark session lifecycle, Spark counters and worker memory, all observed
from outside the library."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

# Deployment settings only; extraction tuning comes from the library's own
# configure_session_defaults.  maxPartitionBytes reproduces bench.py's
# split layout so both report on the same task sizes.
_CONF = {
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": "2g",
    "spark.sql.files.maxPartitionBytes": "8m",
}


class Session:
    """One Spark driver JVM for the whole run.  ``restart`` replaces the
    SparkContext (and with it the Python workers) inside the same JVM, so a
    set-up can be repeated without paying the JVM launch each time."""

    def __init__(self, workdir: str, cores: int):
        self.workdir = workdir
        self.cores = cores
        self.spark = None

    def start(self):
        from pyspark.sql import SparkSession

        from nreadspark.pipeline import configure_session_defaults

        tmp = os.path.join(self.workdir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        builder = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            .config("spark.local.dir", os.path.join(self.workdir, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.workdir, "warehouse"))
            # fixed, pre-touched heap (-Xms = -Xmx), as DEPLOY.md sets the
            # executors; JIT and GC stay at the JVM defaults.  No perf-data
            # file: the JVM would write it under /tmp, outside the checkout
            .config(
                "spark.driver.extraJavaOptions",
                f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            )
        )
        for key, value in _CONF.items():
            builder = builder.config(key, value)
        self.spark = configure_session_defaults(builder).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark, wait for the JVM process to end, then for every
        process it had started: the pyspark daemon and its workers are
        signalled by the JVM but may outlive it by a moment."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        started = descendants(proc.pid) if proc is not None else {}
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        if proc is not None:
            started.update(descendants(proc.pid))
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin pipe closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(started)


def processes() -> dict[int, tuple[int, str, int]]:
    """``pid -> (parent pid, command name, start time)`` of every live
    process, from ``/proc``; zombies are left out."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm is parenthesised and may hold spaces
        close = stat.rfind(")")
        fields = stat[close + 2 :].split()
        if fields[0] in ("Z", "X"):
            continue
        out[int(entry)] = (int(fields[1]), stat[stat.find("(") + 1 : close], int(fields[19]))
    return out


def descendants(root: int, table: dict | None = None) -> dict[int, int]:
    """``pid -> start time`` of every live process below ``root``."""
    table = processes() if table is None else table
    out = {}
    for pid, (parent, _name, start) in table.items():
        while parent not in (None, 0, 1, root):
            parent = table.get(parent, (None,))[0]
        if parent == root:
            out[pid] = start
    return out


def wait_gone(pids: dict[int, int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` (``pid -> start time``, so a reused pid
    is not mistaken for the process) is alive; kill what is left at the
    deadline and wait for that too."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        table = processes()
        alive = [p for p, start in pids.items() if table.get(p, (0, "", None))[2] == start]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} did not end")
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.05)


class JobGroups:
    """Tags each measured unit with its own job group and reads the jobs,
    stages and tasks it ran from ``statusTracker`` afterwards.  The status
    listener is asynchronous, so counts are read once all units are done."""

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.groups: list[str] = []

    def begin(self) -> None:
        group = f"{self.prefix}-{len(self.groups)}"
        self.groups.append(group)
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> list[dict]:
        tracker = self.sc.statusTracker()
        # let the listener bus drain: completed-task counts trail the action
        deadline = time.monotonic() + 5.0
        while True:
            out = [self._count(tracker, g) for g in self.groups]
            if time.monotonic() > deadline or all(c["settled"] for c in out):
                break
            time.sleep(0.1)
        return [{k: c[k] for k in ("jobs", "stages", "tasks")} for c in out]

    @staticmethod
    def _count(tracker, group: str) -> dict:
        jobs = list(tracker.getJobIdsForGroup(group) or [])
        stages: set[int] = set()
        tasks = 0
        settled = True
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                settled = False
                continue
            if info.status not in ("SUCCEEDED", "FAILED"):
                settled = False
            for sid in info.stageIds:
                if sid in stages:
                    continue
                stage = tracker.getStageInfo(sid)
                # skipped stages (shuffle output reused) ran no task
                if stage is not None and stage.numCompletedTasks > 0:
                    stages.add(sid)
                    tasks += stage.numCompletedTasks
                    if stage.numActiveTasks:
                        settled = False
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "settled": settled}


class WorkerRss:
    """Samples the resident size of every Python process under the JVM
    (the pyspark daemon and its forked workers) from ``/proc``."""

    INTERVAL_S = 0.1

    def __init__(self, jvm_pid: int | None):
        self.jvm_pid = jvm_pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def sample(self) -> None:
        if self.jvm_pid is None:
            return
        table = processes()
        for pid in descendants(self.jvm_pid, table):
            if not table[pid][1].startswith("python"):
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
            self.peak_bytes = max(self.peak_bytes, rss)
