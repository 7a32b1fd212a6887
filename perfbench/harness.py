"""Process-level plumbing: working directory, Spark start and stop,
provenance, memory, CPU steal and cache probes.

Everything the benchmark writes goes under one work directory inside
the directory it runs from; Spark's local dirs, the JVM temp dir and
Python's temp dir are pointed there before the JVM starts.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time


def prepare_workdir(work: str) -> None:
    """Create an empty ``work`` and route every temp location into it.
    Must run before the JVM starts."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.local.dir={os.path.join(work, 'spark-local')} "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        # the traced run reads every job and stage back from the status store
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(cpus: int):
    """Start the session through the program's own factory; returns
    (spark, seconds taken)."""
    from tgres_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    # the next session in this process launches a fresh JVM
    type(sc)._gateway = None
    type(sc)._jvm = None


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmHWM:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this Python process plus the Spark JVM."""
    kb = _vm_hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


class StealMeter:
    """CPU steal share over an interval, from /proc/stat."""

    @staticmethod
    def _read():
        try:
            with open("/proc/stat") as f:
                vals = [int(x) for x in f.readline().split()[1:]]
        except (OSError, ValueError):
            return None
        return vals

    def __init__(self):
        self.start = self._read()

    def share(self) -> float | None:
        end = self._read()
        if self.start is None or end is None:
            return None
        d = [b - a for a, b in zip(self.start, end)]
        total = sum(d[:8])
        return (d[7] / total) if total > 0 and len(d) > 7 else 0.0


def provenance(cpus: int) -> dict:
    import duckdb
    import pyspark

    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = None
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "loadavg_1m_before": load1,
    }


def cache_state(spark) -> tuple[int, int]:
    """(bytes held by Spark's block cache, number of persisted RDDs)."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    nbytes = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
    return nbytes, int(jsc.getPersistentRDDs().size())


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``; Spark's
    checksum and marker files are not archive data."""
    nbytes = nfiles = 0
    for root, _dirs, files in os.walk(path):
        if "_spark_metadata" in root:
            continue
        for f in files:
            if f.endswith(".parquet"):
                nbytes += os.path.getsize(os.path.join(root, f))
                nfiles += 1
    return nbytes, nfiles


def pct(values: list[float], q: int) -> float:
    """q-th percentile (q in 1..99) by statistics.quantiles."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
