"""Spark session lifecycle, worker memory and provenance.

``WorkerMemory`` samples the Python workers' peak resident memory from
``/proc`` while a run goes on.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import platform
import subprocess
import tempfile
import threading
import time

import pyarrow
import pyspark
from pyspark import SparkContext

from legal_ner_spark.session import get_spark

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_start_epoch() -> float:
    """Wall-clock time at which this interpreter process started."""
    with open("/proc/self/stat") as fh:
        # field 22 (starttime) counts clock ticks since boot; fields after
        # the parenthesised command name are space separated
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


class WorkerMemory:
    """Background sampler of the peak resident set (VmHWM) of every
    Python process below this driver, i.e. the PySpark daemons and the
    workers they fork.  Workers can exit between samples, so the peak is
    kept across samples."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "WorkerMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read()
                # the JVM's command line names pyspark-shell; only the
                # daemon and the workers it forks run pyspark.daemon
                if b"pyspark.daemon" not in cmd \
                        and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            self.peak_kb = max(self.peak_kb,
                                               int(line.split()[1]))
            except OSError:
                continue


def descendants() -> list[int]:
    """Live processes below this one (its JVM, and the JVM's children)."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            parents[int(entry)] = int(fields[1])
    me, out = os.getpid(), []
    for pid in parents:
        p, hops = parents.get(pid), 0
        while p is not None and p != me and hops < 16:
            p, hops = parents.get(p), hops + 1
        if p == me:
            out.append(pid)
    return out


class Session:
    """One benchmark session, on ``local[cores]`` unless ``master`` names
    another.  ``work_dir`` receives Spark's scratch space, the JVM's temp
    files and the event log."""

    def __init__(self, work_dir: str, trace: bool, cores: int,
                 master: str | None = None):
        self.work_dir = work_dir
        self.trace = trace
        self.cores = cores
        self.master = master or f"local[{cores}]"
        self.event_dir = os.path.join(work_dir, "events")
        self.spark = None

    def _conf(self) -> dict:
        tmp = os.path.join(self.work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": REPO_ROOT,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir,
                                                    "warehouse"),
        }
        if self.trace:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            })
        return conf

    def start(self) -> None:
        os.environ["PYTHONPATH"] = REPO_ROOT
        # temp files of this process, the JVM launch and the workers
        tempfile.tempdir = os.environ["TMPDIR"] = os.path.join(
            self.work_dir, "tmp")
        self.spark = get_spark(app_name="perfbench",
                               master=self.master,
                               shuffle_partitions=self.cores,
                               extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait until every
        process they started has exited."""
        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            # the JVM exits when its stdin pipe from this process closes
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 60
        while descendants() and time.time() < deadline:
            time.sleep(0.2)

    def profile(self, on: bool) -> None:
        """Switch the Python UDF profiler for the next queries; switching
        it on drops what it gathered so far."""
        key = "spark.sql.pyspark.udf.profiler"
        if on:
            self.spark.profile.clear(type="perf")
            self.spark.conf.set(key, "perf")
        else:
            self.spark.conf.unset(key)

    def perf_profiles(self) -> dict:
        """UDF id → pstats.Stats gathered by the Python UDF profiler."""
        return dict(self.spark._profiler_collector._perf_profile_results)


def source_digest() -> str:
    """sha256 over the package's Python sources, for checkouts without
    git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(REPO_ROOT, "legal_ner_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(dirpath, f)
                h.update(os.path.relpath(full, REPO_ROOT).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_sha() -> str | None:
    if not os.path.isdir(os.path.join(REPO_ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", REPO_ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def provenance(**extra) -> dict:
    return {"git_sha": git_sha(), "source_sha256": source_digest(),
            "date": datetime.datetime.now(datetime.timezone.utc)
            .isoformat(timespec="seconds"),
            "nproc": nproc(), "host": platform.node(),
            "python": platform.python_version(),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            **extra}
