"""Measurement plumbing shared by the workloads: host identity, contention
window, process-tree RSS sampling, output digests and the Spark session.

Everything here reads /proc or the Spark session from outside the
package; nothing in ``trajlib_spark`` is modified or patched."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import tempfile
import threading
import time

# The Spark JVM's heap, fixed and pre-touched (see start_session). Both
# workloads run in it with room to spare.
JVM_HEAP = "2g"


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# --- host identity -----------------------------------------------------------

def host_identity() -> dict:
    """The fields that make two records comparable: a record from a box with
    another CPU count, CPU model or RAM size, or another Spark or Python
    version, measures something else."""
    import pyspark

    model = ""
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    model = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    ram_kb = 0
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    ram_kb = int(line.split()[1])
                    break
    except OSError:
        pass
    return {
        "nproc": os.cpu_count() or 1,
        "cpu_model": model or platform.processor(),
        "ram_gb": round(ram_kb / 1024 / 1024, 1),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
    }


def box_cores() -> int:
    """Cores this process may run on (the affinity mask, not the host's
    count), so ``local[n]`` never oversubscribes a pinned container."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# --- contention window ---------------------------------------------------------

def cpu_sample() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) summed over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the box's CPU time the hypervisor gave to other guests
    between two ``cpu_sample()`` readings."""
    return 100.0 * (b[0] - a[0]) / max(1, b[1] - a[1])


class Window:
    """Samples CPU steal share, 1-min loadavg and the RSS of this process
    tree (this Python process, the Spark JVM and its Python workers)
    while open.
    ``stats()`` gives steal_pct, load1_max and peak_rss_mb."""

    def __init__(self, period_s: float = 0.2):
        self.period = period_s
        self._loads: list[float] = []
        self._peak_kb = 0

    def __enter__(self) -> "Window":
        self._c0 = cpu_sample()
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._run, daemon=True)
        self._th.start()
        return self

    def _run(self) -> None:
        while True:
            self._peak_kb = max(self._peak_kb, tree_rss_kb())
            self._loads.append(os.getloadavg()[0])
            if self._stop.wait(self.period):
                return

    def __exit__(self, *exc) -> bool:
        self._stop.set()
        self._th.join()
        self._c1 = cpu_sample()
        return False

    def stats(self) -> dict:
        return {
            "steal_pct": round(steal_pct(self._c0, self._c1), 3),
            "load1_max": max(self._loads, default=0.0),
            "peak_rss_mb": self._peak_kb / 1024.0,
        }


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by ppid, rss_kb by pid) for every live process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            # the comm field may contain spaces; state and ppid follow the last ')'
            state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if state == "Z":
            continue
        children.setdefault(int(ppid), []).append(int(name))
        rss[int(name)] = pages * page_kb
    return children, rss


def descendants() -> dict[int, int]:
    """{pid: rss_kb} for every live descendant of this process."""
    children, rss = _proc_table()
    out, todo = {}, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out[pid] = rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_kb() -> int:
    """RSS of the session's process tree: this Python process, the Spark
    JVM (its child) and the JVM's Python workers.
    Other children of the JVM are left out: between fork and exec they
    report the JVM's whole RSS a second time."""
    children, rss = _proc_table()
    me = os.getpid()
    total = rss.get(me, 0)
    for jvm in children.get(me, []):
        total += rss.get(jvm, 0)
        todo = list(children.get(jvm, []))
        while todo:
            pid = todo.pop()
            if _is_pyspark(pid):
                total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
    return total


def _is_pyspark(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


# --- output digests --------------------------------------------------------------

def digest_of(df) -> list:
    """Order-insensitive, byte-exact digest: [row count, sum of per-row
    xxhash64 over every column]. The sum is taken as DECIMAL so it cannot
    overflow under ANSI mode; equal multisets of rows give equal digests
    whatever the partitioning or row order."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("h").cast("decimal(20,0)")).alias("s"),
        )
        .collect()[0]
    )
    return [int(row["n"]), str(row["s"] if row["s"] is not None else 0)]


# --- Spark session -----------------------------------------------------------------

def start_session(root: str, work: str, cores: int):
    """A ``local[cores]`` session through the package's own factory, with
    shuffle partitions = cores and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # in case something already cached the default
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    # Python workers import trajlib_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp dir, from either JVM
    # spark-submit starts (its launcher and the Spark JVM)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from trajlib_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                # a fixed, pre-touched heap: peak RSS then does not swing
                # with how far the JVM happened to grow its heap
                f" -Xms{JVM_HEAP} -XX:+AlwaysPreTouch"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the Spark JVM and its workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants()
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the JVM's Python workers see their socket close and exit on their own
    deadline = time.time() + 15
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.time() < deadline:
        time.sleep(0.1)


def now() -> float:
    return time.perf_counter()
