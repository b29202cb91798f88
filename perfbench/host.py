"""Host-derived resources, the host's stolen CPU time, the process-tree RSS
sampler and process clean-up.

Nothing here imports Spark: :func:`configure` must run before the first
``pyspark`` import so that the session ``buildlogparser_spark.session``
builds sees the environment set here.
"""

from __future__ import annotations

import os
import shlex
import signal
import subprocess
import tempfile
import threading
import time
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_int(path: str) -> int | None:
    try:
        with open(path) as f:
            tok = f.read().split()[0]
    except (OSError, IndexError):
        return None
    return None if tok == "max" else int(tok)


def host_cpus() -> int:
    """CPUs this process may use: the affinity mask (what ``nproc`` prints),
    capped by a cgroup v2 ``cpu.max`` or v1 CFS quota when one is set."""
    cpus = len(os.sched_getaffinity(0))
    quota = period = None
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            q, p = f.read().split()
        if q != "max":
            quota, period = int(q), int(p)
    except (OSError, ValueError):
        q = _read_int("/sys/fs/cgroup/cpu/cpu.cfs_quota_us")
        if q is not None and q > 0:
            quota, period = q, _read_int("/sys/fs/cgroup/cpu/cpu.cfs_period_us")
    if quota and period:
        cpus = min(cpus, max(1, quota // period))
    return cpus


def host_memory_mb() -> int:
    """Memory available to this process: ``MemAvailable`` from /proc/meminfo,
    capped by the cgroup memory limit when one is set."""
    avail_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    if avail_kb is None:
        raise RuntimeError("/proc/meminfo has no MemAvailable line")
    mb = avail_kb // 1024
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        limit = _read_int(path)
        if limit is not None and limit < (1 << 60):
            mb = min(mb, limit // (1 << 20))
    return mb


@dataclass(frozen=True)
class Resources:
    cpus: int
    spark_cpus: int
    memory_mb: int
    driver_memory_mb: int
    duckdb_threads: int
    duckdb_memory_mb: int
    tmpdir: str

    def describe(self) -> str:
        return (f"cpus={self.cpus} host_memory_mb={self.memory_mb} "
                f"SPARK_GRAFT_CPUS={self.spark_cpus} "
                f"SPARK_DRIVER_MEMORY={self.driver_memory_mb}m "
                f"duckdb_threads={self.duckdb_threads} "
                f"duckdb_memory_limit={self.duckdb_memory_mb}MB "
                f"TMPDIR={self.tmpdir}")


def configure(work_dir: str) -> Resources:
    """Derive resources from the host and export them through the
    environment overrides the package already reads.

    Spark runs one task thread per CPU but one: the spare CPU runs the
    driver JVM's compiler and collector threads and the Python driver, so a
    run's speed depends less on how the OS schedules those against tasks.
    The JVM heap and the DuckDB reference each get an eighth of available
    memory: the JVM, its Python workers and DuckDB share the host. The heap
    is fixed and touched at start (``-Xms`` = ``-Xmx``, pre-touch), as
    production JVMs run, so the tree's resident set does not follow the
    garbage collector's heap-sizing decisions from run to run; what moves
    it is off-heap, code and Python memory. ``TMPDIR`` (and with it every
    ``materialize`` snapshot, the shipped package zip and Spark's scratch
    space) points into ``work_dir`` so the benchmark can count and remove
    what the program leaves there.
    """
    cpus = host_cpus()
    mem = host_memory_mb()
    tmp = os.path.join(work_dir, "tmp")
    spark_local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(spark_local, exist_ok=True)
    res = Resources(cpus=cpus, spark_cpus=max(1, cpus - 1), memory_mb=mem,
                    driver_memory_mb=max(1024, mem // 8),
                    duckdb_threads=cpus,
                    duckdb_memory_mb=max(512, mem // 8), tmpdir=tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(res.spark_cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{res.driver_memory_mb}m"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    java_opts = (f"-Djava.io.tmpdir={tmp} -Xms{res.driver_memory_mb}m "
                 "-XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", shlex.quote(f"spark.local.dir={spark_local}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    return res


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def _stat(pid: int | str) -> tuple[str, int]:
    """(comm, ppid) of a process."""
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    comm, rest = stat[stat.index("(") + 1:].rsplit(")", 1)
    return comm, int(rest.split()[1])


def _processes() -> dict[int, tuple[str, int]]:
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _stat(name)
            except OSError:
                pass  # exited while listing
    return procs


def descendants(procs: dict[int, tuple[str, int]] | None = None) -> list[int]:
    procs = _processes() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (_comm, ppid) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out: list[int] = []
    stack = [os.getpid()]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return _rss(pid)


def tree_rss_bytes() -> int:
    """Resident bytes of the process tree: this Python driver, the Spark JVM
    and the Python workers, with pages shared between processes counted once.

    Forked Python workers share pages with the daemon that forked them, so
    they count their proportional share (PSS). The JVM's short-lived helper
    children (``chmod`` and the like) are left out: between vfork and exec
    they report the whole JVM's memory as their own.
    """
    procs = _processes()
    total = _rss(os.getpid())
    for pid in descendants(procs):
        comm, ppid = procs[pid]
        try:
            if comm.startswith("python"):
                total += _pss(pid)
            elif comm == "java" and procs.get(ppid, ("",))[0] != "java":
                total += _rss(pid)
        except OSError:
            pass  # exited between listing and reading
    return total


class RssSampler:
    """Samples :func:`tree_rss_bytes` on a background thread while active;
    ``peak`` is the largest sample seen since the last :meth:`reset`."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._lock = threading.Lock()
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        rss = tree_rss_bytes()
        with self._lock:
            self.peak = max(self.peak, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                self._sample()
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def active(self, on: bool) -> None:
        """Sample now, then keep sampling (``on``) or stop."""
        self._sample()
        if on:
            self._active.set()
        else:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) CPU ticks of every vCPU since boot, from the first line
    of /proc/stat. Stolen ticks are those a runnable vCPU spent waiting for
    the hypervisor to run it, because other guests of the same machine had
    its physical CPU; busy ticks are every tick a vCPU was runnable: user,
    nice, system, irq, softirq and stolen (not idle, not I/O wait)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    # the guest times that follow are already counted in user and nice
    return steal, user + nice + system + irq + softirq + steal


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the JVM down and wait until every process this
    benchmark started has exited; kill what is left after ``timeout_s``."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + timeout_s
    killed = False
    while True:
        left = [p for p in descendants() if not _is_zombie(p)]
        if not left:
            return
        if time.time() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} outlived SIGKILL")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.time() + 10
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True  # already gone
