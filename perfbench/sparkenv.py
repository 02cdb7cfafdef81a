"""The benchmark's Spark session: ``local[<cores>]``, every scratch and
event-log directory under the run's work directory, and a shutdown that
waits for the JVM and its Python workers to exit."""

from __future__ import annotations

import os
import signal
import subprocess
import time

from . import proctree

STOP_TIMEOUT_S = 60.0


def confine_tmp(work: str) -> None:
    """Point every temporary-file location this process and its children
    use (Python ``tempfile``, Spark local dirs, the JVM tmpdir) at
    ``work``. Must run before the session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no /tmp/hsperfdata_* file from spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def export_repo_path() -> str:
    """Put the repository root (the directory above this package) on the
    PYTHONPATH that Spark's Python workers inherit, so they import the same
    ``kgpipe`` the driver does. Returns the root."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    return root


def start(work: str, cores: int, event_log: bool):
    from kgpipe.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep Derby's log and metastore out of the current directory
        "spark.sql.catalogImplementation": "in-memory",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": log_dir,
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    spark = get_spark(
        "kgpipe-perfbench", master=f"local[{cores}]",
        shuffle_partitions=2 * cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, close the JVM gateway and wait for every process
    this one started to exit (killing any left after ``STOP_TIMEOUT_S``)."""
    from pyspark import SparkContext

    # workers re-parent away from this tree once the JVM exits, so the
    # pids to wait for are taken while the tree is still whole
    started = [p for p in proctree.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # PythonGatewayServer exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    while True:
        alive = [p for p in started if proctree.is_running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
