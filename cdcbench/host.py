"""Process environment, Spark session and host context for one run.

Everything a run writes stays under its work directory: Spark's local
and warehouse dirs, the JVM's and Python's temp dirs, the event log.
"""

from __future__ import annotations

import os
import signal
import statistics
import sys
import threading
import time

# share of MemTotal given to the driver heap (local mode: the driver JVM is
# also the only executor), clamped so small hosts still start and large
# ones do not hand the benchmark memory it never touches
HEAP_SHARE = 0.15
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 8192


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal not found in /proc/meminfo")


def heap_mb(mem_mb: int) -> int:
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, int(mem_mb * HEAP_SHARE)))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(repo_root: str, work: str, event_log_dir: str | None) -> dict:
    """Set the variables the session, its JVM and its Python workers read.
    Must run before the first SparkSession is created."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = mem_total_mb()
    heap = heap_mb(mem)
    n = cores()
    os.environ["TMPDIR"] = tmp
    # Python workers are started by the JVM with this process's
    # environment: they must import emailcdc from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}m"
    # -Xms = -Xmx: the heap is committed once, so the garbage collector's
    # heap resizing does not differ from run to run; AlwaysPreTouch faults
    # every heap page in during session start, not at first use in the
    # timed part, where first-touch speed varies several-fold on this kind
    # of virtualised host.  -UsePerfData: the JVM would otherwise keep a
    # file in /tmp/hsperfdata_<user>, outside the work directory
    os.environ["EMAILCDC_DRIVER_JAVA_OPTS"] = (
        f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ.pop("EMAILCDC_TIMING", None)
    confs = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    pinned = any(k in os.environ for k in ("LD_PRELOAD", "MALLOC_ARENA_MAX"))
    return {"cores": n, "mem_total_mb": mem, "heap_mb": heap,
            "heap_pinned": True, "heap_pretouched": True,
            "allocator_pinned": pinned}


def start_session():
    from emailcdc.session import get_spark
    spark = get_spark(app="cdcbench", master=f"local[{cores()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so
    a process whose parent exits first (PySpark's worker daemon leaves its
    JVM's process group and outlives it) stays a descendant that
    ``reap_descendants`` can find and wait for."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def stop_session() -> None:
    """Stop the active session, if any, then shut its JVM down through
    the gateway, and wait until every process this one started (the JVM,
    the Python workers) has exited."""
    try:
        if "pyspark" in sys.modules:
            from pyspark import SparkContext
            sc, gateway = SparkContext._active_spark_context, SparkContext._gateway
            if sc is not None:
                sc.stop()
            if gateway is not None and gateway.proc is not None:
                gateway.shutdown()
                gateway.proc.stdin.close()  # the JVM exits when its stdin closes
                gateway.proc.wait(timeout=30)
    finally:
        reap_descendants()


def reap_descendants(grace_s: float = 20, signal_s: float = 10) -> None:
    """Wait until every descendant of this process has exited and been
    reaped: ``grace_s`` for them to end on their own, then SIGTERM, then
    SIGKILL, each given ``signal_s``."""
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, signal_s),
                        (signal.SIGKILL, signal_s)):
        if sig is not None:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap_zombies()
            if not _descendants(os.getpid()):
                return
            if time.monotonic() >= deadline:
                break
            time.sleep(0.05)


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _descendants(root: int) -> list[int]:
    """Pids of the live (not yet exited) descendants of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            if fields[0] != "Z":
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def first_touch_gbps(mb: int = 256) -> float:
    """GB/s writing freshly mapped pages (page-fault path of this host)."""
    import numpy as np
    rates = []
    for _ in range(3):
        a = np.empty(mb << 20, dtype=np.uint8)
        t0 = time.perf_counter()
        a.fill(1)
        rates.append(mb / 1024 / (time.perf_counter() - t0))
        del a
    return statistics.median(rates)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this host since boot, from /proc/stat;
    steal is time the hypervisor ran other guests on this guest's CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def canary_s(spark) -> float:
    """A fixed JVM-side job: median of three timings.  Reported as the
    run's ``host_factor`` so runs on different hosts or under different
    load can be told apart."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 20_000_000, numPartitions=cores()) \
            .selectExpr("sum(hash(id)) AS h").collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class RssSampler:
    """Peak summed RSS of this process and all its descendants, sampled
    every ``interval`` s: of the whole tree (driver Python, the JVM,
    Python workers) and of its Python processes alone."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.peak_py_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total, py = _tree_rss_kb(me)
            self.peak_kb = max(self.peak_kb, total)
            self.peak_py_kb = max(self.peak_py_kb, py)
            self._stop.wait(self.interval)


def _tree_rss_kb(root: int) -> tuple[int, int]:
    """(all, Python-only) RSS in KiB of ``root`` and its descendants."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page_kb
    total = py = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    py += rss.get(pid, 0)
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total, py
