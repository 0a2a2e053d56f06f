"""Spark session, process-tree memory and on-disk sizes for the benchmark.

The session mirrors ``jobs/pipeline.py`` (UTC, every other setting at its
shipped default) except for what a small shared box needs: master
``local[nproc]``, a driver heap that fits, scratch directories inside the
benchmark's state directory, and no console progress bar. Tuning belongs in
the program, not here.
"""

from __future__ import annotations

import os
import subprocess
import threading

DRIVER_MEMORY = "2g"
SPAN_PROPERTY = "perfbench.span"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(state_dir: str, event_log_dir: str | None = None):
    """Start (or, after ``stop``, restart in the same JVM) a SparkSession.

    Driver memory and the JVM temp dir only take effect on the first start,
    which launches the JVM."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(state_dir, "tmp")
    local = os.path.join(state_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir, neither
    # from spark-submit's launcher JVM nor from the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    builder = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(event_log_dir is not None).lower())
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", f"file://{os.path.abspath(event_log_dir)}")
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then the JVM this process launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _touch_workers(batches):
    import bufr2geojson_spark.operators.decode  # noqa: F401

    yield from batches


def touch_python_workers(spark) -> None:
    """Fork the Python worker pool and import the engine in every worker."""
    n = cores()
    spark.range(0, 4 * n, 1, n).mapInPandas(_touch_workers, "id long").count()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss pages) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = (int(rest[1]), int(rest[21]))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants.

    A child whose RSS is within 2 % of its parent's is a spawn between fork
    and exec (the JVM makes one for every ``chmod`` of a file it writes): it
    shares its parent's pages and is not counted again."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [(root_pid, 0)]
    while todo:
        pid, parent_rss = todo.pop()
        rss = table.get(pid, (0, 0))[1]
        if abs(rss - parent_rss) > 0.02 * parent_rss:
            total += rss
        todo.extend((child, rss) for child in children.get(pid, ()))
    return total * os.sysconf("SC_PAGE_SIZE")


class PeakRss:
    """Samples the benchmark's process tree (driver, JVM, Python workers)
    every ``interval`` seconds while active; ``peak`` is the largest sum."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
