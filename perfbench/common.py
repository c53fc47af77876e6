"""Shared helpers: checkout paths, the engine environment, statistics and
host-noise fields.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
the seeded input cache and one scratch directory per run (removed when
the run ends).
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Task slots the engine runs with (local[N], and N shuffle partitions).
# Fewer than the 4 cores of the reference machine, so a JVM, its Python
# workers and the load generator are not all runnable at once: on a shared
# host the run then measures the program rather than the hypervisor's
# scheduling of contended cores (and time it steals from them).
ENGINE_CPUS = 2
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")


def add_root_to_path() -> None:
    """Make ``smallquery_spark`` and ``tools`` importable from the checkout."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def engine_env(run_dir: str) -> dict[str, str]:
    """Environment for any process that starts a JVM: Spark scratch, the
    JVM temp dir and Python's temp dir all point inside ``run_dir``, the
    engine gets ENGINE_CPUS task slots, and no ad-hoc session conf or
    master override applies."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_MASTER")}
    env["SPARK_GRAFT_CPUS"] = str(ENGINE_CPUS)
    # -XX:-UsePerfData: the JVM would otherwise keep a file in /tmp
    env.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return env


def apply_engine_env(run_dir: str) -> None:
    """Give this process the engine environment (before its JVM starts)."""
    import tempfile

    env = engine_env(run_dir)
    for k in set(os.environ) - set(env):
        del os.environ[k]
    os.environ.update(env)
    tempfile.tempdir = None


def new_run_dir(tag: str) -> str:
    path = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- statistics -------------------------------------------------------------


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, int]:
    """The highest of p99/p90/p75/p50 that has at least ten samples beyond
    it, as (value, percentile). With fewer than 20 samples, the maximum
    (percentile 100)."""
    s = sorted(values)
    n = len(s)
    for pct in (99, 90, 75, 50):
        if n * (100 - pct) / 100 >= 10:
            return _percentile(s, pct), pct
    return s[-1], 100


def _percentile(s: list[float], pct: float) -> float:
    """Nearest-rank percentile of the sorted list ``s``."""
    k = max(0, math.ceil(pct / 100 * len(s)) - 1)
    return s[k]


# -- host noise and memory --------------------------------------------------


def _sha_rounds(rounds: int) -> None:
    buf = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    for _ in range(rounds):
        h.update(buf)
    h.digest()


def host_fields() -> dict:
    """Host-noise fields for the run record: load average, a fixed
    single-core and all-core sha256 calibration (hashlib releases the
    GIL, so the threads occupy every core) and the usable core count."""
    ncpu = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    _sha_rounds(128)
    one = time.perf_counter() - t0
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=ncpu) as ex:
        list(ex.map(lambda _: _sha_rounds(64), range(ncpu)))
    par = time.perf_counter() - t0
    return {
        "nproc": ncpu,
        "loadavg1": round(os.getloadavg()[0], 2),
        "calibration_cpu_s": round(one, 4),
        "calibration_par_s": round(par, 4),
    }


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root``, its live
    descendants and the children they have reaped. Time the hypervisor
    steals from the VM is not charged to a process, so a difference of two
    readings measures the program's own work even on a contended host."""
    cpu, kids = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # fields after the ")" that closes the command name: state, ppid,
        # ..., utime (12th), stime, cutime, cstime
        fields = stat[stat.rindex(")") + 2:].split()
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
        kids.setdefault(int(fields[1]), []).append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, stolen ticks) of the machine's CPUs so far."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor took from this VM between two
    :func:`cpu_ticks` readings: host contention the wall times include."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total else 0.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.lstat(os.path.join(dirpath, f)).st_size
    return total / (1024.0 * 1024.0)


def stop_engine(spark) -> None:
    """Stop the session and wait until its JVM process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def session_fields(spark) -> dict:
    return {
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
