"""Host-derived session sizing and the environment fingerprint.

The session comes from the program's own ``get_spark``; only its
arguments and ``extra`` confs are chosen here, from the host: cores from
the CPU affinity mask, driver memory and shuffle partitions from cores
and RAM. Scratch space (Spark local dirs, warehouse, JVM and Python temp
files) lives under the benchmark's work directory in the checkout.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# extraJavaOptions replaces get_spark's value, so its GC flag is repeated
GC_FLAGS = "-XX:+UseParallelGC"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def sizing() -> dict:
    cores = nproc()
    return {
        "cores": cores,
        "shuffle_partitions": 2 * cores,
        # a quarter of RAM, at most 8 GiB: leaves room for Python workers
        # and page cache on a shared host
        "driver_memory": f"{max(1, min(8, ram_mb() // 4096))}g",
    }


def prepare_env(work: str) -> None:
    """Process environment the JVM and its Python workers inherit."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # Python workers import the program by module path; the checkout root
    # must be importable wherever the benchmark is launched from
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_extra(work: str, size: dict) -> dict[str, str]:
    return {
        "spark.driver.memory": size["driver_memory"],
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"{GC_FLAGS} -Xms{size['driver_memory']} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def source_digest() -> str:
    """sha1 over the program's Python sources: identifies the code when
    the checkout is not a git repository."""
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "optimizing_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def fingerprint(spark) -> dict:
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    keys = ("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.driver.memory", "spark.driver.extraJavaOptions",
            "spark.sql.files.maxPartitionBytes", "spark.sql.autoBroadcastJoinThreshold")
    return {
        "git_sha": git_sha(),
        "source_sha1": source_digest(),
        "nproc": nproc(),
        "ram_mb": ram_mb(),
        "cpu": platform.processor() or platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "conf": {k: conf.get(k, spark.conf.get(k, None)) for k in keys},
    }


# Fingerprint keys that must match for two results to be compared.
HOST_KEYS = ("nproc", "ram_mb", "python", "pyspark", "duckdb", "java", "conf")


def incomparable(fp_a: dict | None, fp_b: dict | None) -> list[str]:
    """Reasons two results may not be compared (empty when they may)."""
    if not fp_a or not fp_b:
        return ["missing environment fingerprint"]
    return [f"{k}: {fp_a.get(k)!r} != {fp_b.get(k)!r}"
            for k in HOST_KEYS if fp_a.get(k) != fp_b.get(k)]


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of the process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")
