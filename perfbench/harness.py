"""Process-level plumbing shared by the workloads: machine fit, the
Spark session's life cycle, memory sampling and small statistics.

Everything the benchmark writes goes under one work directory inside
the checkout (Spark scratch, the catalog warehouse, JVM and Python
temp files, state stores, generated tables).
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time
from pathlib import Path

WORK_DIR_NAME = ".perfbench_work"


def nproc() -> int:
    """Cores this process may use (affinity-aware)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def total_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """Driver heap for local mode: a fifth of physical RAM, 1-3 GiB.
    The inputs are small; the cap leaves room for the Python workers
    and for other tenants of the machine."""
    return max(1024, min(3072, total_ram_mb() // 5))


def prepare_work_dir(root: Path) -> Path:
    work = root / WORK_DIR_NAME
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "warehouse", "stores", "tables"):
        (work / sub).mkdir(parents=True)
    return work


def configure_env(root: Path, work: Path, epoch_trace: bool) -> None:
    """Environment the JVM and its Python workers inherit: the package
    importable from the checkout, scratch and temp files kept inside
    the work dir, and the in-program epoch trace on only when asked."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    # no hsperfdata files under /tmp, JVM temp files in the work dir
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join([os.environ.get(var, ""), *jvm_options(work)]).strip()
    if epoch_trace:
        os.environ["SPARK_GRAFT_EPOCH_TRACE"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_EPOCH_TRACE", None)


def jvm_options(work: Path) -> list[str]:
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]


def start_spark(work: Path, cores: int):
    from web_archive_downloader_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": " ".join(jvm_options(work)),
            "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.range(1).count()  # the first job starts the executor threads
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for both the
    JVM and the Python workers it forked to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of every process below this one (the
    driver JVM and the Python workers it forks), sampled on a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def median(values) -> float:
    return float(statistics.median(values))


def keep_going(started: float, seconds: float, last_job_s: float) -> bool:
    """Run another job only if it is projected to end inside the
    measuring window (the first job always runs)."""
    return time.perf_counter() - started + last_job_s <= seconds


class Timer:
    """``with Timer() as t: ...`` then ``t.s``."""

    def __enter__(self) -> "Timer":
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.perf_counter()
        self.s = self.end - self.start
