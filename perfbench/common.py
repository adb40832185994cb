"""Shared plumbing for the benchmark workloads: the Spark session, the
run's work directory, statistics, memory and the host fingerprint.

Nothing here starts a process or opens a file at import time.
"""

from __future__ import annotations

import contextlib
import math
import os
import platform
import shutil
import subprocess
import tempfile
import time

#: Tail percentiles are only reported where the sample supports them:
#: at least this many samples must lie beyond the percentile.
TAIL_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def supported_tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least :data:`TAIL_BEYOND` samples
    beyond it, floored at the median for samples too small to support
    any tail.  Returns ``(value, percentile, sample_count)``."""
    n = len(values)
    p = max(0.5, 1.0 - TAIL_BEYOND / n) if n else 0.5
    return percentile(values, p), round(p, 4), n


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            return [int(c) for c in fh.read().split()]
    except OSError:
        return []


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant (the JVM and its Python workers), including what
    their exited children used."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def rss_mb() -> dict:
    """Peak resident set (high-water mark) in MiB of this process
    (``driver``), of the JVM the session started (``jvm``) and, summed,
    of the live Python workers and other processes under it
    (``workers``).  How many idle workers are still alive at the end
    varies from run to run, so ``peak_rss_mb`` counts the driver and the
    JVM only."""
    me = os.getpid()
    below = _descendants(me)
    jvm = [p for p in below if _comm(p) == "java"]
    return {
        "driver": _hwm_kb(me) / 1024.0,
        "jvm": sum(_hwm_kb(p) for p in jvm) / 1024.0,
        "workers": sum(_hwm_kb(p) for p in below if p not in jvm) / 1024.0,
    }


def make_session(work: str, cpus: int, app: str):
    """A Spark session with the engine's default configuration, except
    that every directory Spark writes (warehouse, shuffle/spill, JVM
    temp, Derby home) lives under ``work`` and the shuffle-partition
    count is two per core, the sizing ``session.py`` recommends."""
    from pyspark.sql import SparkSession

    from unicargo_medallion_data_pipeline_spark.session import _DEFAULT_CONF

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = dict(_DEFAULT_CONF)
    heap = "2g"
    conf.update(
        {
            "spark.sql.shuffle.partitions": str(2 * cpus),
            "spark.driver.memory": heap,
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # A fixed heap (-Xms = -Xmx) keeps peak RSS from following the
            # collector's run-to-run heap-growth decisions (15-18% spread).
            "spark.driver.extraJavaOptions": f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        }
    )
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


@contextlib.contextmanager
def spark_session(root: str, app: str, cpus: int):
    """Open a warmed-up session whose files all live in a fresh work
    directory under ``<root>/.perfbench_work``; yields ``(spark, work,
    seconds the start took)``.  On exit the session and its JVM are
    stopped and the directory is removed."""
    import unicargo_medallion_data_pipeline_spark  # noqa: F401 - fail before any work if absent

    # Python workers are started by the JVM and import the engine too.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    work = os.path.join(root, ".perfbench_work", f"{app}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    spark = None
    try:
        with Clock() as c:
            spark = make_session(work, cpus, app)
            spark.range(1000).selectExpr("sum(id)").collect()  # JVM and Python-worker warm-up
        yield spark, work, c.s
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _git_commit(root: str) -> str | None:
    """Read HEAD without running git (the benchmark may run in a plain
    export of the tree, where there is no ``.git``)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def fingerprint(spark, root: str) -> dict:
    """Host and configuration identity written into every result.  The
    ``host`` part must match for two results to be compared."""
    sc = spark.sparkContext
    conf = spark.conf
    java = sc._jvm.java.lang.System.getProperty("java.version")
    import pyspark

    return {
        "host": {
            "nproc": os.cpu_count(),
            "machine": platform.machine(),
            "cpu_model": _cpu_model(),
            "mem_total_kb": _mem_total_kb(),
        },
        "config": {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "aqe": conf.get("spark.sql.adaptive.enabled"),
            "pyspark": pyspark.__version__,
            "java": java,
            "python": platform.python_version(),
        },
        "git_commit": _git_commit(root),
    }


def _cpu_model() -> str | None:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of this host since boot, from
    ``/proc/stat``: the share stolen over a window shows how much the
    hypervisor's other guests slowed it."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def cpu_probe_s() -> float:
    """Seconds the repository's fixed-work CPU probe (``bench._cpu_probe``)
    takes now: a context field that shows how busy the host was."""
    import bench

    return bench._cpu_probe()


class Clock:
    """``with Clock() as c: ...`` then ``c.s`` is the elapsed seconds."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return False
