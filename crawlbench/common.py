"""Process plumbing shared by every workload: the Spark session, the process
tree it spawns (for peak RSS and CPU), load context and shutdown."""

from __future__ import annotations

import os
import threading
import time

#: repository root: the benchmark lives one directory below it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NPROC = os.cpu_count() or 1
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: process names that mark a live Spark driver JVM or PySpark worker daemon
SPARK_MARKERS = ("org.apache.spark.deploy.SparkSubmit", "pyspark.daemon")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if raw is None:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    start = int(_stat_fields(os.getpid())[19]) / _TICK
    return float(_read("/proc/uptime").split()[0]) - start


def live_spark_pids() -> list[int]:
    """Pids of Spark JVMs and PySpark daemons running on this machine."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        cmd = _read(f"/proc/{name}/cmdline")
        if cmd and any(m in cmd for m in SPARK_MARKERS):
            out.append(int(name))
    return out


def load_context() -> dict:
    mem = {}
    for line in (_read("/proc/meminfo") or "").splitlines():
        k, _, v = line.partition(":")
        mem[k] = v.strip()
    return {
        "load_avg_1m": os.getloadavg()[0],
        "nproc": NPROC,
        "mem_available_mb": int(mem.get("MemAvailable", "0 kB").split()[0])
        // 1024,
    }


class ProcessTree:
    """This process and its descendants, sampled in a background thread for
    peak RSS; ``cpu_s`` reads their CPU time on demand. Pids in ``exclude``
    (and their descendants) are left out — the loopback site's server.
    The sampler thread's own CPU is left out of ``cpu_s``: it lists every
    process on the machine, so its cost follows the host, not the engine."""

    def __init__(self, interval_s: float = 0.1):
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self.pids: list[int] = [self.root]
        self.seen: set[int] = {self.root}
        self.peak_rss_mb = 0.0
        self._sampler_cpu_s = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "ProcessTree":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def refresh(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
        tree, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            tree.append(pid)
            todo.extend(children.get(pid, []))
        self.pids = tree
        self.seen.update(tree)

    def rss_mb(self) -> float:
        total = 0
        for pid in self.pids:
            f = _stat_fields(pid)
            if f is not None:
                total += int(f[21]) * _PAGE
        return total / 2**20

    def cpu_s(self) -> float:
        """User+system CPU of the tree, including reaped children (a Python
        worker that exits is folded into its daemon's child time)."""
        ticks = 0
        for pid in self.pids:
            f = _stat_fields(pid)
            if f is not None:
                ticks += sum(int(x) for x in f[11:15])
        return ticks / _TICK - self._sampler_cpu_s

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.refresh()
            self.peak_rss_mb = max(self.peak_rss_mb, self.rss_mb())
            self._sampler_cpu_s = time.thread_time()
            self._stop.wait(self._interval)


def build_spark(work: str):
    """The benchmark's own session: local[nproc], a driver heap that fits a
    16 GB machine, every scratch path inside ``work``."""
    from pyspark.sql import SparkSession

    heap = "2g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{NPROC}]")
        .appName("crawlbench")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * NPROC))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bucketed corpus table: consume the on-disk per-bucket sort
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        # the heap starts at its maximum: a heap G1 grows on demand made
        # the JVM's peak RSS differ by half a GB between runs of one input
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap} -Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (closing the gateway's
    stdin is PySpark's own signal for the JVM to quit)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def wait_gone(pids, timeout_s: float = 30.0) -> list[int]:
    """Wait for processes we do not parent (PySpark daemons) to exit; kill
    the stragglers. Returns pids still alive."""
    import signal

    deadline = time.monotonic() + timeout_s
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return alive
