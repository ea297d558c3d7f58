"""Host fitting, the host fingerprint, and driver-JVM memory and CPU readings."""

from __future__ import annotations

import os
import platform
import resource

HEAP_CAP_MB = 2048  # the benchmark inputs need far less; keep shared RAM free


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_mb(field: str) -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) // 1024
    raise KeyError(field)


def fit_session_env() -> dict[str, str]:
    """Point the engine's session factory at this host: one local core
    per CPU this process may run on, and a driver heap that fits in the
    memory available now. Returns the settings for the fingerprint."""
    heap_mb = min(HEAP_CAP_MB, _meminfo_mb("MemAvailable") // 2)
    heap_mb -= heap_mb % 256
    if heap_mb < 512:
        raise RuntimeError(f"only {heap_mb * 2} MB available; need 1 GB")
    settings = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
    }
    os.environ.update(settings)
    return settings


def fingerprint(spark, settings: dict[str, str]) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "ram_gb": round(_meminfo_mb("MemTotal") / 1024),
        "cpu": platform.processor() or platform.machine(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "master": spark.sparkContext.master,
        **settings,
    }


def _children(pid: int) -> list[int]:
    """Child processes of ``pid``, listed per thread. A thread that ends
    while it is read is skipped: its children pass to another thread of
    the process, which is read as well."""
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return out


def driver_jvm_pid(spark) -> int:
    """The java process behind the py4j gateway (spark-submit may sit
    between them as a shell)."""
    pid = spark.sparkContext._gateway.proc.pid
    for _ in range(4):
        with open(f"/proc/{pid}/comm") as fh:
            if fh.read().strip() == "java":
                return pid
        kids = _children(pid)
        if not kids:
            break
        pid = kids[0]
    raise RuntimeError("driver JVM process not found")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` since it started."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise KeyError("VmHWM")


def _tree_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid``, its live descendants and the
    children they have waited for."""
    ticks, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            stack += _children(p)
        except OSError:  # the process ended meanwhile
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and by the driver JVM with
    its Python workers. Unlike wall time, it leaves out time the host
    gives to other machines (steal)."""
    own = resource.getrusage(resource.RUSAGE_SELF)
    return own.ru_utime + own.ru_stime + _tree_cpu_s(jvm_pid)
