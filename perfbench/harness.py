"""Session, memory and timing helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics
import subprocess
import tempfile
import time

THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def configure_env(work: str, trace: bool) -> None:
    """Session settings shared by every workload: all cores of this host in
    one local session, one BLAS thread per Python worker, and every
    temporary file of Spark, the JVM and Python inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["SPARK_GRAFT_UI"] = "1" if trace else "0"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in THREAD_VARS:
        os.environ[var] = "1"
    tempfile.tempdir = None


def start_session():
    from patternly_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the context, then the JVM it ran in, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reset_peak_rss(spark) -> tuple[int, int]:
    """Collect the JVM's garbage, then reset the peak-RSS marks of this
    Python process and of the driver JVM; returns their pids.  Without
    the collection the JVM's peak would mostly show how much garbage
    set-up left behind."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    pids = (os.getpid(), int(jvm.java.lang.ProcessHandle.current().pid()))
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    return pids


def peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) since the last reset."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cache_state(spark) -> tuple[int, float]:
    """(cached blocks, cached MB) held by the block manager now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    blocks = sum(int(i.numCachedPartitions()) for i in infos)
    mb = sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 2**20
    return blocks, mb


WARMUP_MIN, WARMUP_MAX, WARMUP_FALL = 2, 8, 0.95


def warm_up(op) -> list[float]:
    """Call ``op()`` (returns its own duration) until it stops getting
    faster: the latest call is no more than 5% under the fastest one
    before it.  At least WARMUP_MIN calls, at most WARMUP_MAX."""
    times: list[float] = []
    while len(times) < WARMUP_MAX:
        times.append(op())
        if len(times) >= WARMUP_MIN and times[-1] > WARMUP_FALL * min(times[:-1]):
            break
    return times


def timed(op, seconds: float, max_ops: int | None = None) -> tuple[list, float]:
    """Call ``op(i)`` until ``seconds`` have passed; returns the results
    and the timed seconds."""
    out = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds and (max_ops is None or len(out) < max_ops):
        out.append(op(len(out)))
    return out, time.perf_counter() - t0


def median(values) -> float:
    return float(statistics.median(values))
