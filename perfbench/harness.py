"""Session sizing, start/stop, and process memory for the benchmark."""

from __future__ import annotations

import os

# driver JVM heap: an eighth of physical RAM, clamped. The inputs are
# small, and shared boxes run other tenants beside the benchmark. The
# heap is fixed (-Xms = -Xmx) and touched at JVM start: on a VM that
# hands freed guest pages back to its host, a heap that grows and
# shrinks may pay a host page fault per fresh page, and a growing heap
# leaves a different resident set after every run.
HEAP_SHARE = 0.125
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 2048
# glibc keeps freed memory instead of returning it to the kernel, for
# the same reason (Python workers allocate and free their batches)
MALLOC_KEEP = "1073741824"


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    return int(min(HEAP_MAX_MB, max(HEAP_MIN_MB, mem_total_mb() * HEAP_SHARE)))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc (no psutil here)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat. Steal is time
    the hypervisor ran something else while this VM wanted the CPU."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def prepare_env(repo_root: str, tmp_dir: str) -> None:
    """Environment every process the session starts inherits: the repo
    on the Python workers' path (they import the package by name) and
    temp files inside the checkout. Must run before the JVM starts."""
    import tempfile

    os.makedirs(tmp_dir, exist_ok=True)
    paths = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["TMPDIR"] = tmp_dir
    os.environ["MALLOC_TRIM_THRESHOLD_"] = MALLOC_KEEP
    os.environ["MALLOC_MMAP_THRESHOLD_"] = MALLOC_KEEP
    tempfile.tempdir = None  # re-read TMPDIR
    # the short-lived launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"


def start_session(work_dir: str):
    """A SparkSession sized from this machine: ``local[nproc]``, a fixed
    heap from /proc/meminfo, UI and console progress off, spill and temp
    files under ``work_dir``. Re-running it after ``spark.stop()``
    starts a new context in the same JVM."""
    from pyspark.sql import SparkSession

    cores = cpu_count()
    heap = driver_heap_mb()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.driver.memory", f"{heap}m")
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}m -XX:+AlwaysPreTouch",
        )
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def shutdown(spark) -> None:
    """Stop the context, then the gateway JVM, and wait until it exits
    (Python workers are its children and go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
