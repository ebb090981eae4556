"""Spark session lifecycle, operation accounting and file sizes."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

#: Driver heap for the benchmark session unless SPARK_GRAFT_DRIVER_MEM
#: is set: well under the program's 8g default, so that a run fits
#: beside other processes.
DRIVER_MEMORY = "2g"


def _ship_nothing(spark: SparkSession) -> None:
    """Stands in for ``session.ship_package``, which zips the package
    into /tmp. The benchmark keeps every file in its checkout, and its
    Python workers import the package from there through PYTHONPATH."""


def build_session(work: str, cores: int, event_log_dir: str | None = None) -> SparkSession:
    """The program's own session, ``session.get_spark``, on
    ``local[cores]`` with one shuffle partition per core, and every
    scratch file kept under ``work``."""
    from batch_process_dpla_index_spark import session

    session.ship_package = _ship_nothing
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # SparkSession.builder keeps options between sessions: set it every time
        "spark.eventLog.enabled": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark: SparkSession | None) -> None:
    """Stop the session, then the JVM the gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Ops:
    """Attempted and failed operations. Each call into the program
    starts an operation (``begin``); it fails, once, when any check of
    its output does not hold. A call that raises ends the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._current_failed = False

    def begin(self, n: int = 1) -> None:
        self.attempted += n
        self._current_failed = False

    def fail(self, what: str) -> None:
        if not self._current_failed:
            self.failed += 1
            self._current_failed = True
        if len(self.failures) < 20:
            self.failures.append(what)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(what)
        return ok


def du(path: str) -> int:
    """Bytes in regular files under ``path``."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
