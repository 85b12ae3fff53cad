"""Shared pieces of the benchmark: percentile rules, result comparison,
process-tree sampling from ``/proc`` and the host/run stamp."""

from __future__ import annotations

import math
import os
import platform
import subprocess
import sys
import threading
import time

# -- percentiles -------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def beyond(values, q: float) -> int:
    """How many samples lie strictly above the ``q``-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def min_samples_for(q: float, tail: int = 10) -> int:
    """The fewest samples for which the ``q``-th percentile has ``tail``
    samples beyond it (p90 needs 100)."""
    n = 1
    while n - math.ceil(q / 100.0 * n) < tail:
        n += 1
    return n


def parquet_bytes(path: str) -> int:
    """Bytes of the parquet files at ``path``, a file or a directory tree."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files if f.endswith(".parquet"))


def median(values) -> float:
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


# -- comparing result rows ----------------------------------------------------


def values_equal(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)
    return a == b


def _sort_key(row):
    """NULLs last, then NaNs, then values (a column holds one type)."""
    def key(v):
        nan = isinstance(v, float) and math.isnan(v)
        return (v is None, nan, 0 if v is None or nan else v)
    return tuple(key(v) for v in row)


def rows_equal(got, want, ordered: bool) -> bool:
    """Row lists equal up to float tolerance; unordered lists compare as
    multisets (both sides sorted with NULLs last)."""
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    return all(
        len(g) == len(w) and all(values_equal(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


# -- /proc sampling of the process tree ----------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_time() -> float:
    """This process's start, on the ``time.time()`` clock."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _TICK


def _children_map():
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def wait_gone(pids, timeout: float) -> list:
    """Poll until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def process_tree(root: int) -> list:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _classify(pid: int, root: int) -> str:
    if pid == root:
        return "driver_py"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ")
    except OSError:
        return "other"
    if b"java" in cmd.split(b" ", 1)[0]:
        return "jvm"
    if b"pyspark" in cmd or b"python" in cmd:
        return "pyworker"
    return "other"


def _stat(pid: int, rss: bool = True):
    """(cpu seconds, resident bytes) of one process.

    CPU is the process's own user and system time: the time of reaped
    children is left out, because a dead worker was sampled while it ran
    and its reaper's ``cutime`` would count it a second time.  Resident
    bytes are the proportional set size: a page shared by several
    processes (a forked Python worker and its daemon) counts once across
    them, so the tree's sum does not jump when a worker forks."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    cpu = (int(fields[11]) + int(fields[12])) / _TICK     # utime stime
    if not rss:
        return cpu, 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return cpu, int(line.split()[1]) * 1024
    except OSError:
        pass
    return cpu, int(fields[21]) * _PAGE


def _task_cpu(pid: int, tid: str) -> float:
    with open(f"/proc/{pid}/task/{tid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def jit_threads(pid: int) -> list:
    """Thread ids of a JVM's JIT compiler threads (HotSpot names them
    ``C1 CompilerThreadN`` and ``C2 CompilerThreadN``, cut to 15 bytes).
    The session runs with ``-XX:-UseDynamicNumberOfCompilerThreads``, so
    the set is fixed once the JVM is up."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:                       # ended: the launcher's own JVM
        return []
    out = []
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    out.append(tid)
        except OSError:
            continue
    return out


class ProcSampler:
    """Samples the RSS and CPU time of this process and all its
    descendants (the JVM and the Python workers) on a background thread.

    ``peak_rss`` is the largest summed resident size seen while
    ``measuring`` is set (the runner sets it while a step runs, so the
    benchmark's own checks are left out), ``peak_py_rss`` the largest of
    its Python part (the driver's Python and the Python workers).  CPU per
    class is the last reading of each process minus its reading when
    :meth:`mark` was last called.  The sampler's own CPU is taken out of
    ``driver_py``: it is the benchmark's, not the program's."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.root = os.getpid()
        self.measuring = False
        self.peak_rss = self.peak_py_rss = 0
        self.peak_by_class = {}
        self._own = 0.0         # the sampler's CPU seconds since mark()
        self._cpu = {}          # pid -> (class, cpu seconds)
        self._base = {}
        self._jit = {}          # JVM pid -> its JIT compiler thread ids
        self._jit_base = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval):
            t0 = time.thread_time()
            self.sample()
            with self._lock:
                self._own += time.thread_time() - t0

    def sample(self, rss: bool = True) -> None:
        by_class = {}
        seen = {}
        for pid in process_tree(self.root):
            try:
                cpu, r = _stat(pid, rss)
            except (OSError, IndexError, ValueError):
                continue
            # classified on every sample: the JVM starts as a launcher
            # script and execs into java under the same pid
            cls = _classify(pid, self.root)
            by_class[cls] = by_class.get(cls, 0) + r
            seen[pid] = (cls, cpu)
        with self._lock:
            self._cpu.update(seen)
            if rss and self.measuring:
                if sum(by_class.values()) > self.peak_rss:
                    self.peak_rss = sum(by_class.values())
                    self.peak_by_class = by_class
                py = by_class.get("driver_py", 0) + by_class.get("pyworker", 0)
                self.peak_py_rss = max(self.peak_py_rss, py)

    def _jit_cpu(self) -> float:
        total = 0.0
        for pid, tids in self._jit.items():
            for tid in tids:
                try:
                    total += _task_cpu(pid, tid)
                except (OSError, IndexError, ValueError):
                    continue
        return total

    def mark(self) -> None:
        """Start CPU accounting from now."""
        self.sample()
        with self._lock:
            jvms = [pid for pid, (cls, _) in self._cpu.items() if cls == "jvm"]
        self._jit = {pid: jit_threads(pid) for pid in jvms}
        jit = self._jit_cpu()
        with self._lock:
            self._base = dict(self._cpu)
            self._jit_base = jit
            self._own = 0.0

    def cpu_by_class(self) -> dict:
        """CPU seconds since :meth:`mark` of the driver's Python, the JVM and
        the Python workers; ``jit`` is the part of ``jvm`` spent in JIT
        compiler threads."""
        t0 = time.thread_time()
        self.sample(rss=False)
        jit = self._jit_cpu()
        out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
        with self._lock:
            self._own += time.thread_time() - t0
            for pid, (cls, cpu) in self._cpu.items():
                if cls in out:
                    out[cls] += cpu - self._base.get(pid, (cls, 0.0))[1]
            out["driver_py"] -= self._own
            out["jit"] = jit - self._jit_base
        return out

    def work_cpu(self) -> float:
        """The process tree's CPU seconds since :meth:`mark`, JIT compiler
        threads left out."""
        c = self.cpu_by_class()
        return c["driver_py"] + c["jvm"] - c["jit"] + c["pyworker"]


# -- host and run stamp ------------------------------------------------------


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of the host's CPUs since boot, from
    ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already counted in user)
    return fields[7], sum(fields[:8])


def steal_share(start: tuple, end: tuple) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_ticks` readings: a host judged with a high share was busy."""
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total else 0.0


def nproc() -> int:
    """The CPUs this process may run on, as ``nproc`` counts them: fewer
    than ``os.cpu_count()`` when the process is pinned to part of the host."""
    return len(os.sched_getaffinity(0))


def total_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_for_host() -> str:
    """Driver heap for a local[N] session on this host: a sixth of RAM,
    between 1 and 8 GiB (the JVM also hosts every executor thread)."""
    gib = total_ram_bytes() / 2**30
    return f"{int(min(8, max(1, gib // 6)))}g"


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True,
                             timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0] if first else "unknown"


def _commit(root: str) -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def code_digest(root: str) -> str:
    """sha256 over the package's Python sources: identifies the code when
    the checkout carries no git metadata."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "vinum_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def host_stamp(spark, root: str, seed: int, workload: str, trace: bool) -> dict:
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": nproc(),
        "online_cpus": os.cpu_count(),
        "master": spark.sparkContext.master,
        "total_ram_gb": round(total_ram_bytes() / 2**30, 1),
        "spark.driver.memory": conf.get("spark.driver.memory", "unset"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "commit": _commit(root),
        "code_sha256": code_digest(root),
        "argv": sys.argv[1:],
    }
