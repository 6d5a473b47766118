"""Host-sized Spark configuration and the host record kept with every result.

Cores come from the CPU affinity set and the driver heap is a fixed share
of physical RAM, so the benchmark fits whatever host it runs on.  Every
file Spark writes (shuffle, spill, temp files) stays under the run's work
directory.
"""

from __future__ import annotations

import os
import resource
import threading
import time

#: driver heap = this share of physical RAM, clamped to [1, 2] GiB
HEAP_SHARE = 0.25
HEAP_MAX_GIB = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def heap_mib() -> int:
    return int(min(max(ram_bytes() * HEAP_SHARE / 2**20, 1024), HEAP_MAX_GIB * 1024))


def spark_conf(work_dir: str, repo_root: str, bench_dir: str) -> dict:
    """Session settings for ``local[cores]``.  Exports ``PYTHONPATH`` so the
    Python workers import the engine and the benchmark modules from this
    checkout wherever the command was started."""
    inherited = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    path = [repo_root, bench_dir] + inherited
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(path))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts (the launcher too) keeps its temp files
    # in the work directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    n = cores()
    return {
        "master": f"local[{n}]",
        "shuffle_partitions": n,
        "extra_conf": {
            "spark.driver.memory": f"{heap_mib()}m",
            # initial heap = max heap: the resident size does not depend on
            # when the collector decides to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{heap_mib()}m",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    }


def _cpu_ticks() -> dict:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def _loadavg() -> list:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


class HostRecord:
    """nproc, RAM, heap, load average and the hypervisor steal share over the
    run (from ``/proc/stat``), for the result's detail line."""

    def __init__(self):
        self._t0 = _cpu_ticks()
        self._loadavg0 = _loadavg()

    def finish(self) -> dict:
        t1 = _cpu_ticks()
        d_total = max(1, t1["total"] - self._t0["total"])
        d_steal = t1["steal"] - self._t0["steal"]
        return {
            "nproc": cores(),
            "ram_gib": round(ram_bytes() / 2**30, 2),
            "driver_heap_mib": heap_mib(),
            "loadavg_start": self._loadavg0,
            "loadavg_end": _loadavg(),
            "steal_ticks": d_steal,
            "steal_share": round(d_steal / d_total, 4),
            "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
        }


def _children_map() -> dict:
    kids: dict = {}
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


def descendants(pid: int) -> list:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """User + system CPU time of this process and its descendants (the
    driver JVM and its Python workers), including children they reaped.
    Hypervisor steal is not charged as CPU time."""
    ticks = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    own = resource.getrusage(resource.RUSAGE_SELF)
    return ticks / os.sysconf("SC_CLK_TCK") + own.ru_utime + own.ru_stime


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Background sampler of the summed resident memory of this process's
    descendants: the driver JVM and the Python workers it forks."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.sample(me)
            self._stop.wait(self.interval)

    def sample(self, pid: int) -> int:
        total = sum(_rss_bytes(p) for p in descendants(pid))
        with self._lock:
            self.peak = max(self.peak, total)
        return total

    def reset(self):
        with self._lock:
            self.peak = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids, timeout: float = 20.0) -> list:
    """Wait until every pid has exited; returns those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive
