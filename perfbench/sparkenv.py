"""Session start and stop for the benchmark, confined to its checkout.

Everything Spark, the JVM and the Python workers write (shuffle files,
temporary files, the warehouse) goes under the benchmark's work directory,
and stopping a session also ends the JVM process and waits for it.
"""

from __future__ import annotations

import os
import signal
import sys
import time

from procmem import alive, descendants

HEAP = "1g"


def prepare_env(root: str, work: str) -> None:
    """Environment the JVM and its Python workers inherit: the checkout's
    texoo_spark on the import path and temporary files under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # the inputs are a few MB; a 1 GB driver heap (get_spark's default is
    # 8 GB) keeps the JVM small on a shared machine, and fixing its size
    # and touching all of it at launch (-Xms, -XX:+AlwaysPreTouch in
    # start_session) keeps the JVM's resident set from swinging with how
    # much of the heap the collector happened to touch: without the
    # pre-touch, its peak varied by 200 MB between runs of one workload
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    if root not in sys.path:
        sys.path.insert(0, root)


def start_session(master: str, work: str, cores: int):
    """texoo_spark.session.get_spark with the scan split bench.py uses
    (8 MB: extraction cost tracks rows, not bytes)."""
    from texoo_spark.session import get_spark
    spark = get_spark(
        "perfbench", master=master, shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "8388608",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, end the JVM process and wait for it and for every
    process it started (the Python workers)."""
    from pyspark import SparkContext
    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()      # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in started:
        while alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if alive(pid):
            os.kill(pid, signal.SIGKILL)
