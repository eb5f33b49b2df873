"""Host facts, session sizing and lifecycle, and code identity for the
manifest of each run."""

from __future__ import annotations

import hashlib
import os
import subprocess
from importlib import metadata

# The library defaults to a 32g driver heap; this host class has ~15 GiB of
# RAM and no swap, so the benchmark sizes the Spark driver heap itself.
DRIVER_MEM = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` counters of ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times()`` readings that this
    machine's virtual CPUs were ready but the hypervisor ran other guests:
    a run measured while it is high was slowed by its neighbours, not by
    the code."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def session_env(root: str) -> dict[str, str]:
    """Environment for the worker and, through the JVM, its Python UDF
    workers: the checkout must be importable from any cwd."""
    pythonpath = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(root, ".perfbench_work", "tmp")
    return {
        "PYTHONPATH": pythonpath,
        # Keep JVM and Python scratch files inside the checkout; without
        # -XX:-UsePerfData every JVM writes /tmp/hsperfdata_<user>.
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(root, ".perfbench_work", "local"),
    }


def source_digest(root: str) -> str:
    """sha256 over the library and generator sources (the checkout the
    benchmark runs in is not a git repository)."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "tools", "gen_sf.py")]
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "compss_python_spark")):
        dirnames.sort()
        paths.extend(os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py"))
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def manifest(root: str) -> dict:
    env = session_env(root)
    return {
        "commit": git_commit(root),
        "source_sha256": source_digest(root),
        "nproc": cores(),
        "ram_mb": ram_mb(),
        "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
        "spark_local_dirs": env["SPARK_LOCAL_DIRS"],
        "versions": {p: metadata.version(p) for p in ("pyspark", "pyarrow", "duckdb")},
    }


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
