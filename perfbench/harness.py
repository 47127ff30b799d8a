"""Session, host context and statistics shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
import time


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def driver_heap_mb(mem: dict[str, int] | None = None) -> int:
    """Driver heap sized from /proc/meminfo: a sixth of physical RAM,
    at most half of what is available now, within [1 GiB, 2 GiB]. The
    session pins -Xms to -Xmx and pre-touches the heap, so this is
    resident from the start and must stay well below physical RAM."""
    mem = mem or meminfo_mb()
    total = mem["MemTotal"]
    avail = mem.get("MemAvailable", total)
    return int(max(1024, min(2048, total // 6, avail // 2)))


def start_spark(work: str, app: str, java_opts: str = ""):
    """A ``local[nproc]`` session through the package's ``get_spark``,
    with every scratch file (shuffle, JVM temp, warehouse) inside
    ``work`` and ``java_opts`` added to the driver JVM's options.
    Returns (spark, seconds to start)."""
    cores = nproc()
    heap = f"{driver_heap_mb()}m"
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    t0 = time.perf_counter()
    from fec_cn_support_etl_spark.session import get_spark

    spark = get_spark(
        app_name=app,
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_memory=heap,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp} {java_opts}"
            ).strip(),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # py4j surfaces JVM errors as generic exceptions
        return None


def vm_hwm_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ------------------------------------------------------------ host context


def steal_pct(dur_sec: float = 0.5) -> float:
    """Hypervisor steal over ``dur_sec``, from /proc/stat."""

    def _read():
        with open("/proc/stat") as f:
            return list(map(int, f.readline().split()[1:]))

    a = _read()
    time.sleep(dur_sec)
    b = _read()
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / (sum(d) or 1) if len(d) > 7 else 0.0


def _proc_stat(pid: str) -> tuple[str, int] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
        comm = data[data.index("(") + 1 : data.rindex(")")]
        ppid = int(data[data.rindex(")") + 2 :].split()[1])
        return comm, ppid
    except (OSError, ValueError, IndexError):
        return None


def competing_procs() -> int:
    """java / pytest processes that are not descendants of this one."""
    me = os.getpid()

    def mine(pid: int) -> bool:
        for _ in range(64):
            if pid == me:
                return True
            if pid <= 1:
                return False
            st = _proc_stat(str(pid))
            if st is None:
                return False
            pid = st[1]
        return False

    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        st = _proc_stat(pid)
        if st is None:
            continue
        hit = "java" in st[0]
        if not hit and "python" in st[0]:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    hit = b"pytest" in f.read()
            except OSError:
                pass
        if hit and not mine(int(pid)):
            n += 1
    return n


def host_context() -> dict:
    mem = meminfo_mb()
    return {
        "nproc": nproc(),
        "mem_total_mb": mem["MemTotal"],
        "steal_pct": round(steal_pct(), 2),
        "competing_procs": competing_procs(),
    }


def python_worker_cpu_s() -> float:
    """User+system CPU of pyspark Python worker processes descended
    from this process (read from /proc; workers still alive)."""
    me = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd or b"daemon" not in cmd and b"worker" not in cmd:
                continue
            with open(f"/proc/{pid}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rindex(")") + 2 :].split()
        # utime, stime, cutime, cstime: fields 14-17 of stat (1-based)
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


# -------------------------------------------------------------- statistics


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that has at least ``min_beyond`` samples
    above it. Returns (percentile, value, sample count); with fewer than
    ``min_beyond + 1`` samples the median stands in (percentile 50)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 50.0, 0.0, 0
    if n <= min_beyond:
        return 50.0, median(xs), n
    # rank k (1-based) leaves n - k samples beyond it
    k = n - min_beyond
    pct = math.floor(1000.0 * k / n) / 10.0
    return pct, float(xs[k - 1]), n
