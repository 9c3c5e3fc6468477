"""Host settings for the benchmark: environment, Spark session, probes.

Everything the benchmark writes lives under ``.perfbench/`` in the
checkout: Spark local dirs, temp files, the warehouse, Spark's log
file, input caches and trace records.
"""

from __future__ import annotations

import concurrent.futures as cf
import hashlib
import os
import time

# The package default heap (48g) exceeds a small host's memory, and a
# heap far above the working set makes peak RSS measure GC laziness.
DRIVER_MEM = "1g"
# The heap is committed and touched at full size from the start, so it
# is a constant 1,024 MB of the driver's peak RSS and the rest is the
# JVM's native memory and the driver Python. The parallel collector
# replaces G1, whose heap sizing follows pause times measured on a noisy
# host: with G1 the driver's peak RSS spread 6-17% across runs; with a
# committed but untouched heap it spread 2-5%, with a touched one about
# 1%. (The serial collector's pauses stop every task thread and slowed
# link_em by 15%.)
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:+UseParallelGC"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare(root: str, run_id: str) -> str:
    """Export the run's environment (inherited by Spark's JVM and Python
    workers) and return its scratch dir."""
    work = os.path.join(root, ".perfbench", "work", run_id)
    logs = os.path.join(root, ".perfbench", "logs")
    for d in (work, os.path.join(work, "tmp"), os.path.join(work, "local"), logs):
        os.makedirs(d, exist_ok=True)
    log4j = os.path.join(work, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write(
            "rootLogger.level = warn\n"
            "rootLogger.appenderRef.file.ref = file\n"
            "appender.file.type = File\n"
            "appender.file.name = file\n"
            f"appender.file.fileName = {os.path.join(logs, run_id + '.log')}\n"
            "appender.file.layout.type = PatternLayout\n"
            "appender.file.layout.pattern = %d{HH:mm:ss.SSS} %p %c{1}: %m%n\n"
        )
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # Python workers must import dedupe_spark from the checkout
            "PYTHONPATH": root + (os.pathsep + pythonpath if pythonpath else ""),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PERFBENCH_WORK": work,
        }
    )
    return work


def start_spark(app: str, extra_conf: dict[str, str] | None = None):
    """local[nproc] session with the benchmark's fixed settings."""
    from dedupe_spark.session import get_spark

    work = os.environ["PERFBENCH_WORK"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"{JVM_OPTS} -Dlog4j.configurationFile=file:{os.path.join(work, 'log4j2.properties')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        **(extra_conf or {}),
    }
    return get_spark(app, cores=nproc(), extra_conf=conf)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit (it exits
    when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def code_hash(root: str) -> str:
    """sha256 over the Python sources of the program and the benchmark,
    so counts are compared only between runs of the same code."""
    h = hashlib.sha256()
    for pkg in ("dedupe_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, pkg))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, root).encode() + b"\x00")
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def clear_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS, so the peak leaves
    out the benchmark's own input build and digests."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of a process and its reaped children."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc/<pid>/status VmHWM."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _sha_work(_i: int) -> None:
    blk = b"x" * 1_000_000
    h = b""
    for _ in range(40):
        h = hashlib.sha256(blk + h).digest()


def probe() -> dict[str, float]:
    """1-minute load average and aggregate sha256 MB/s over nproc
    threads (hashlib releases the GIL), best of two."""
    n = nproc()
    best = 0.0
    with cf.ThreadPoolExecutor(n) as ex:
        for _ in range(2):
            t0 = time.perf_counter()
            list(ex.map(_sha_work, range(n)))
            best = max(best, 40 * n / (time.perf_counter() - t0))
    return {"load1": os.getloadavg()[0], "sha256_mbps": best, "nproc": n}
