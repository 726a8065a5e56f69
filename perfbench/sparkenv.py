"""Machine-fit Spark session, process-tree RSS sampling and teardown.

Everything the session writes stays under the benchmark's work directory:
Spark's local dir, the JVM's and Python's temp dirs, and the warehouse.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time


def machine() -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def spark_conf(work_dir: str, facts: dict) -> dict:
    """Spark settings sized to this machine: the driver heap and off-heap
    pool stay well under physical RAM (the session defaults assume a much
    larger host), and every scratch path is under ``work_dir``."""
    ram = facts["ram_mb"]
    heap_mb = max(1024, min(4096, ram // 6))
    offheap_mb = max(512, min(2048, ram // 16))
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    return {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.memory.offHeap.size": f"{offheap_mb}m",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # prepended to the session's own extraJavaOptions (its GC choice);
        # a fixed-size heap keeps the JVM's resident set from depending on
        # when the collector chose to grow it
        "spark.driver.defaultJavaOptions": (
            f"-Xms{heap_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def prepare_env(root: str, work_dir: str) -> None:
    """Process environment the JVM and its Python workers inherit: workers
    import ``horus_spark`` from ``root`` whatever the working directory,
    and temp files land under ``work_dir``."""
    import tempfile

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir if set
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(cpus: int, conf: dict):
    from horus_spark.session import get_spark

    spark = get_spark(app_name="horus_perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [pid]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Tracks the peak resident set of a process tree (the driver JVM and
    the Python workers it forks) from a background thread: every process's
    own high-water mark (VmHWM, kept by the kernel, so short spikes between
    samples still count), summed over every process seen, exited ones
    included. ``peak_mb`` is that sum."""

    def __init__(self, pid: int, interval_s: float = 0.25):
        self.pid = pid
        self.interval_s = interval_s
        self._hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        for p in process_tree(self.pid):
            kb = _hwm_kb(p)
            if kb:
                self._hwm_kb[p] = max(self._hwm_kb.get(p, 0), kb)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return sum(self._hwm_kb.values()) / 1024.0


def _running(pid: int) -> bool:
    """Exists and is not a zombie (an orphan reparented to a non-reaping
    init stays in /proc as a zombie, but has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> bool:
    """Make this process the reaper of its orphaned descendants: when the
    Spark JVM ends, its Python daemon and workers are reparented here, not
    to init, so ``reap_children`` can wait for every one of them."""
    import ctypes

    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def reap_children(grace_s: float = 10.0) -> None:
    """Return once this process has no child left, running or zombie:
    reap those that have ended, SIGTERM the rest, and SIGKILL whatever
    still runs after ``grace_s`` (orphans reparented here included)."""
    import signal

    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    sent: set[int] = set()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, sent = signal.SIGKILL, set()
        for p in _children_map().get(me, ()):
            if p not in sent and _running(p):
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
                sent.add(p)
        time.sleep(0.02)


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, end the gateway JVM, and wait until it and every
    process it started (the Python worker daemon and workers) are gone."""
    from pyspark import SparkContext

    pid = jvm_pid()
    tree = process_tree(pid) if pid else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    alive = [p for p in tree[1:] if _running(p)]
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if _running(p)]
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
