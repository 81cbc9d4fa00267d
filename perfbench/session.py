"""Spark session, its processes, and what the benchmark reads from them.

The JVM and its Python workers write only under the benchmark's work
directory, the session runs at local[N] with N = nproc, and stopping the
session waits until the JVM, the Python daemon and every worker ended.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import sys
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
HEAP = "1g"


def cpus() -> int:
    """nproc: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def master_url() -> str:
    return f"local[{cpus()}]"


def configure_env(root: str, work: str, tmp: str) -> None:
    """Point every temporary file of the driver, the JVM and the
    workers into the checkout, before the JVM starts. `tmp` persists
    between runs so the fast-scan extension is compiled once."""
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # Local mode runs the executor inside the driver JVM. With the
    # program's own 16g maximum, G1 sizes the heap by GC timing, and the
    # JVM's RSS varied from 1.2 to 2.2 GB between seeds of the same
    # workload. A 1 GB heap committed and touched at start makes the
    # JVM's share of peak_rss_mb a near-constant, so the RSS metrics move
    # with the program's memory outside the heap; growth inside the heap
    # shows only as GC time in pass_s.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    # -XX:-UsePerfData keeps HotSpot from writing a file under /tmp.
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} "
                 "-XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def start_spark():
    from html_parser_spark.spark.session import get_spark

    spark = get_spark("perfbench", master=master_url())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


# ---- process tree ----------------------------------------------------

def _stat(pid: int):
    """(state, ppid) of a live process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    fields = data[data.rindex(b")") + 2:].split()
    return fields[0].decode(), int(fields[1])


def _processes() -> dict:
    """pid -> (state, ppid) of every process in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(root: int) -> list:
    children: dict = {}
    for pid, (_, ppid) in _processes().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def rss_mb(pids) -> float:
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                kb += int(f.read().split()[1]) * _PAGE_KB
        except OSError:
            pass
    return kb / 1024


class RssSampler:
    """Peak summed RSS of the JVM and all its descendants (the Python
    daemon and workers), sampled from /proc every 20 ms while a pass
    runs; the process tree is re-read every 0.5 s. The peak of the
    descendants alone is kept too."""

    def __init__(self, root: int):
        self.root = root
        self.peak = self.workers_peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        workers, refreshed = [], 0.0
        while True:
            now = time.monotonic()
            if now - refreshed >= 0.5:
                workers = descendants(self.root)
                refreshed = now
            rest = rss_mb(workers)
            self.peak = max(self.peak, rss_mb([self.root]) + rest)
            self.workers_peak = max(self.workers_peak, rest)
            if self._stop.wait(0.02):
                return


# ---- worker parse cache ----------------------------------------------

def _clear_parse_cache(batches):
    import pyarrow as pa

    import html_parser_spark.spark.udfs as udfs

    for _ in batches:
        pass
    udfs._PARSE_CACHE.clear()
    yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})


def clear_worker_caches(spark, attempts: int = 8) -> None:
    """Empty the parse cache of every live Python worker that SQL Python
    functions run in, so a timed pass starts from the cache state of a
    one-shot job. The clearing job is a mapInArrow like the kernel's, so
    it runs in the same worker pool; it repeats until every live worker
    of that pool's daemon has answered, else raises."""
    n = spark.sparkContext.defaultParallelism
    job = spark.range(0, n, 1, n).mapInArrow(_clear_parse_cache, "pid long")
    cleared: set = set()
    for _ in range(attempts):
        cleared.update(r.pid for r in job.collect())
        daemons = {st[1] for st in map(_stat, cleared) if st is not None}
        live = {pid for pid, (state, ppid) in _processes().items()
                if ppid in daemons and state != "Z"}
        if live <= cleared:
            return
    raise RuntimeError(
        f"parse cache not cleared in workers {sorted(live - cleared)}")


# ---- shutdown ----------------------------------------------------------

def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, the JVM and its Python processes, and wait
    until each has ended."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    others = descendants(proc.pid)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        finally:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout)
            SparkContext._gateway = None
            SparkContext._jvm = None
    if _wait_ended(others, timeout):
        return
    for pid in others:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    if not _wait_ended(others, timeout):
        raise RuntimeError(f"Spark processes did not end: {others}")


def _wait_ended(pids, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while any((_stat(p) or ("X", 0))[0] not in ("Z", "X") for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
    return True
