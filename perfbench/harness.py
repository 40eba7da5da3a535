"""Measurement environment and process probes shared by the benchmark's
entry points (run.py, generate.py).

Everything the benchmark writes lives under ``.bench_build/perfbench`` in the
checkout it runs from. The environment is pinned here, before pyspark starts
its JVM, so that neither the repository's defaults nor the caller's shell
decide the core count, the heap or where Spark spills.
"""

from __future__ import annotations

import os
import shutil
import signal
import time
from pathlib import Path

# Four task slots at most: the benchmark shares its host, and every figure in
# README.md was taken with four.
CPUS = min(4, len(os.sched_getaffinity(0)))
# Driver heap, committed up front (-Xms = -Xmx) so heap growth, and with it
# RSS and GC cadence, does not depend on GC pause timing.
HEAP = "2g"


def checkout_root() -> Path:
    """The benchmark runs from the root of a checkout (see README.md)."""
    return Path.cwd().resolve()


def work_dir(root: Path) -> Path:
    return root / ".bench_build" / "perfbench"


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def pin_environment(root: Path, scratch: Path) -> dict[str, str]:
    """Pin the Spark environment; → the extra Spark conf for get_spark.

    ``scratch`` is emptied: Spark's local dirs, the JVM's and Python's
    temporary files all go there, so nothing outside the checkout is
    written and nothing from an earlier run is reused."""
    fresh_dir(scratch)
    local = fresh_dir(scratch / "spark-local")
    tmp = fresh_dir(scratch / "tmp")
    path = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        {
            # Python workers import the engine by module path
            "PYTHONPATH": os.pathsep.join(path),
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_LOCAL_DIRS": str(local),
            "SPARK_DRIVER_MEMORY": HEAP,
            "TMPDIR": str(tmp),
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    return {
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(conf: dict[str, str]):
    from pagerank_optimization_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all of
    them to exit."""
    from pyspark import SparkContext

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: kill below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if Path(f"/proc/{p}").exists() and not _zombie(p)]
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# -- process probes ----------------------------------------------------------

def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    stat = Path("/proc/self/stat").read_text()
    start_ticks = int(stat.rsplit(")", 1)[1].split()[19])
    uptime = float(Path("/proc/uptime").read_text().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _stat_fields(pid: int) -> list[str] | None:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _zombie(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is None or fields[0] == "Z"


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in Path("/proc").iterdir():
        if entry.name.isdigit():
            fields = _stat_fields(int(entry.name))
            if fields is not None:
                kids.setdefault(int(fields[1]), []).append(int(entry.name))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_peak_rss_mb() -> float:
    """Σ VmHWM over this process and its descendants: the Spark driver's
    Python process, its JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_psi_some_us() -> float:
    """Cumulative µs in which some runnable task waited for a CPU (host-wide;
    0 where the kernel has no PSI)."""
    try:
        for line in Path("/proc/pressure/cpu").read_text().splitlines():
            if line.startswith("some"):
                return float(line.rsplit("total=", 1)[1])
    except OSError:
        pass
    return 0.0


def cpu_steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks since boot, host-wide: time the hypervisor
    ran something else while this machine's CPUs wanted to run."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def jvm_gc_s(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_heap_committed_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20
