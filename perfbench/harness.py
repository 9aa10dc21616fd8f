"""Host-fit Spark session, process-tree memory sampling and the small
statistics the benchmark reports (percentiles, tail selection)."""

from __future__ import annotations

import math
import os
import subprocess
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

#: the benchmark never asks for more parallelism than this, whatever the host
MAX_CORES = 4


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[min(rank, len(s)) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie beyond the nearest-rank ``q``-th
    percentile."""
    return n - min(n, max(1, math.ceil(q / 100.0 * n)))


def tail_percentile(n: int) -> int | None:
    """The highest of p99/p90/p50 that leaves at least ten samples beyond
    it, or None when the sample is too small for any of them."""
    for q in (99, 90, 50):
        if samples_beyond(n, q) >= 10:
            return q
    return None


def host_fit() -> dict:
    """Size the JVM heap and off-heap pool from this host's memory and
    CPUs, leaving most of the memory to the OS page cache, the Python
    workers and other tenants.  The sizes follow MemTotal, so they do not
    change from run to run with other tenants' use; MemAvailable only
    decides whether they fit."""
    mem_kib = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            mem_kib[key] = int(val.split()[0])
    mem_gib = mem_kib["MemTotal"] / (1 << 20)
    avail_gib = mem_kib.get("MemAvailable", mem_kib["MemTotal"]) / (1 << 20)
    cpus = len(os.sched_getaffinity(0))
    # half the CPUs: the JVM's own threads (GC, JIT, scheduler), the Python
    # workers and the serving loop keep the other half.  On a shared
    # 4-vCPU host, local[4] made a live_refresh run's topk_multi p50 and
    # warm-build throughput vary about twice as much from run to run as
    # local[2], and was no faster.
    cores = max(1, min(MAX_CORES, cpus // 2))
    heap_gib = int(max(2, min(8, mem_gib // 5)))
    offheap_gib = int(max(1, min(cores, mem_gib // 6)))
    if heap_gib + offheap_gib + 1 > avail_gib:
        raise RuntimeError(
            f"host has {avail_gib:.1f} GiB available; the benchmark needs "
            f"{heap_gib + offheap_gib + 1} GiB (heap + off-heap + workers)")
    return {"cpus": cpus, "cores": cores, "mem_gib": round(mem_gib, 1),
            "driver_mem": f"{heap_gib}g", "offheap_gib": offheap_gib}


def start_session(host: dict, workdir: Path, *, event_log: Path | None):
    """Start the engine's tuned local session with host-fit memory; all
    temporary files (shuffle, spill, JVM temp) stay under ``workdir``."""
    from elastic_indexer4s_spark.config import tuned_builder

    local = workdir / "spark-local"
    tmp = workdir / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    # Python workers import the package from the checkout; Python's and the
    # JVM's temp files stay inside the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    b = (tuned_builder(f"local[{host['cores']}]", "perfbench",
                       shuffle_partitions=host["cores"],
                       driver_mem=host["driver_mem"], cores=host["cores"])
         .config("spark.memory.offHeap.size", f"{host['offheap_gib']}g")
         .config("spark.local.dir", str(local)))
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(event_log))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.logBlockUpdates.enabled", "true"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_rss(root_pid: int) -> dict[str, list[int]]:
    """RSS of ``root_pid`` and every descendant (JVM, Python workers), by
    command name → [processes, bytes]."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        ppid = int(rest.split()[1])
        children.setdefault(ppid, []).append(int(name))
        names[int(name)] = comm
    page = os.sysconf("SC_PAGE_SIZE")
    parts: dict[str, list[int]] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue
        part = parts.setdefault(names.get(pid, "?"), [0, 0])
        part[0] += 1
        part[1] += rss
    return parts


class RssSampler:
    """Background sampler of the process tree's summed RSS (peak kept,
    with its split by command name)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict[str, list[int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = _tree_rss(pid)
            total = sum(b for _, b in parts.values())
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mib(self) -> float:
        return self.peak / (1 << 20)


#: entries the speed probe builds and sorts: about half a millisecond
PROBE_ITEMS = 1000

#: seconds one probe takes at the reference speed, the speed the scaled
#: times are given at: about the probe's median inside benchmark runs on
#: the 4-vCPU host the benchmark was tuned on
PROBE_REF_S = 0.5e-3


def speed_probe() -> float:
    """Seconds of fixed pure-Python work, the best of three: how fast this
    CPU runs Python right now.  The work (build a dict of small strings and
    lists, sort it) allocates like the serving tier's row unpacking.  On a
    shared host the same work's time moves by up to 1.5x from one second
    to the next with other tenants' load on the same cores, and a
    serving-tier query's time moves with it."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        d = {str(i): [i, i * 7 % 13] for i in range(PROBE_ITEMS)}
        sorted(d.items(), key=lambda kv: kv[1][1])
        best = min(best, time.perf_counter() - t0)
    return best


#: py4j round trips per ping probe
PING_CALLS = 9

#: seconds one py4j round trip takes at the reference speed: about its
#: median next to Spark-path queries on the host the benchmark was tuned on
PING_REF_S = 1.2e-3


def ping_probe(spark) -> float:
    """Median seconds of a py4j round trip to the session's JVM (a call to
    ``System.nanoTime``): how long a hand-off between this process and the
    JVM takes right now.  A Spark-path query is made of many such
    hand-offs (py4j calls, task launches, Arrow batches to and from the
    Python workers), and on a busy host each waits longer for a CPU."""
    jvm = spark.sparkContext._jvm
    times = []
    for _ in range(PING_CALLS):
        t0 = time.perf_counter()
        jvm.java.lang.System.nanoTime()
        times.append(time.perf_counter() - t0)
    return sorted(times)[PING_CALLS // 2]


class Clock:
    """Seconds since construction (monotonic)."""

    def __init__(self):
        self.t0 = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0
