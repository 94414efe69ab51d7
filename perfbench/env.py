"""The benchmark's Spark environment: one run directory that holds every
file a run writes, a session pinned to ``local[<cores>]``, and the
process bookkeeping (peak RSS, orderly JVM shutdown)."""

from __future__ import annotations

import os
import resource
import shutil
import subprocess
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, "perfbench", ".run")


def cores() -> int:
    """CPUs this process may run on (the container's share, not the host's)."""
    return len(os.sched_getaffinity(0))


def make_run_dir(name: str) -> str:
    """A fresh directory under ``perfbench/.run`` and the process
    environment pointed at it, so Spark, Python workers and temporary
    files all write inside the checkout. Call before the JVM starts."""
    path = os.path.join(RUNS, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # collect() turns timestamps into naive datetimes in the process zone;
    # the sessions run in UTC, so this process must too
    os.environ["TZ"] = "UTC"
    time.tzset()
    return path


def spark_conf(run_dir: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        # Python workers import the package from the checkout, whatever
        # the working directory
        "spark.executorEnv.PYTHONPATH": ROOT,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict[str, str], n_cores: int):
    """``session.get_spark`` on ``local[n_cores]``; the first call in a
    process launches the JVM, later calls (after ``stop``) reuse it."""
    from flink_examples_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=max(n_cores, 8),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark) -> subprocess.Popen:
    return spark.sparkContext._gateway.proc


def peak_rss_mb(jvm: subprocess.Popen) -> float:
    """Peak resident memory of the Spark JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{jvm.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024.0


def release(spark) -> None:
    """Free the RDDs one operation pinned (persist and localCheckpoint)."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def pinned(spark) -> tuple[int, int]:
    """RDDs currently persisted, and their bytes in memory and on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit; the
    next ``start_session`` launches a new JVM."""
    from pyspark import SparkContext

    jvm = jvm_process(spark)
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if jvm.stdin is not None:
        jvm.stdin.close()  # the gateway exits when its stdin closes
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait(timeout=30)
