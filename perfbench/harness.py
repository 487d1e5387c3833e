"""Run plumbing: a Spark session confined to the run's work directory,
the run-environment record, and the statistics the metrics use."""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import subprocess


DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine(work: str, cpus: int) -> None:
    """Point every temporary and scratch location Python, Spark and the
    JVM use at ``work``, and pin the package's local core count.  Must
    run before the first Spark or tempfile use in the process."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the package defaults to an 8g driver heap that grows as GC timing
    # dictates; a fixed 2g heap with a fixed 512m young generation holds
    # every workload here and keeps the JVM's peak memory from wandering
    # between runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_MASTER", None)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    driver_opts = f"{java_opts} -Xms{DRIVER_MEM} -Xmn512m"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.local.dir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={driver_opts}",
        "--conf", f"spark.executor.extraJavaOptions={java_opts}",
        "pyspark-shell",
    ])


def start_spark():
    """The package's own local session, exactly as its users get it."""
    from webarchive_indexing_spark.session import get_session

    spark = get_session("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and, with it, the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of this process plus the JVM."""
    def hwm_kb(pid) -> int:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    total = hwm_kb("self")
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        total += hwm_kb(proc.pid)
    return total / 1024.0


def env_record(spark, seed: int, cpus: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark_graft_cpus": cpus,
        "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "jvm": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean_of_kind_medians(samples: list[tuple[str, float]]) -> float:
    """Mean over op kinds of each kind's median — steady when a loop
    mixes kinds of very different cost, unlike a median over the mix."""
    by_kind: dict[str, list[float]] = {}
    for kind, v in samples:
        by_kind.setdefault(kind, []).append(v)
    return statistics.fmean(statistics.median(v) for v in by_kind.values())
