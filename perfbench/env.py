"""Spark session, scratch paths and memory sampling for one benchmark run.

Everything Spark writes (shuffle and spill files, the warehouse, the
event log, JVM and Python temp files) goes under the run's work
directory inside the checkout, and the JVM is shut down and waited for
before the run ends.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

CORES = len(os.sched_getaffinity(0))
# The engine's default driver heap is 16g. In local mode that is also the
# executors' heap, and the JVM grows it as GC ergonomics decide: on a
# 4-core, 15 GB VM a flagship run's peak RSS went from 2.5 to 3.1 GB over
# five passes, by different amounts on different runs. With 1 GiB it stays
# near 1.6 GB at the same pass times, and a run's memory stays well inside
# a machine that other jobs share.
DRIVER_MEM = "1g"
PAGE = os.sysconf("SC_PAGE_SIZE")


def prepare_env(root: str, work: str) -> None:
    """Point Spark's and the workers' scratch space at *work*."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # local-mode Python workers import the engine from the checkout
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(work: str, conf: dict | None = None, event_log: bool = False):
    from pdf_parser_spark.engine.session import build_session

    tmp = os.path.join(work, "tmp")
    extra = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        **(conf or {}),
    }
    if event_log:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logs,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session("perfbench", master=f"local[{CORES}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree = _children()
    out, todo = [], list(tree.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(tree.get(p, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Summed RSS of this process's descendants (the JVM and its Python
    workers), sampled on a background thread. ``mark()`` closes one
    interval; ``peaks`` holds each closed interval's peak in bytes."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peaks: list[int] = []
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = rss_bytes(descendants(me))
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval_s)

    def mark(self) -> None:
        with self._lock:
            self.peaks.append(self._peak)
            self._peak = 0

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def wait_for_children(timeout_s: float = 30.0) -> list[int]:
    """Wait until this process has no descendants left; returns any
    still alive at the deadline."""
    deadline = time.monotonic() + timeout_s
    left = descendants(os.getpid())
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = descendants(os.getpid())
    return left
