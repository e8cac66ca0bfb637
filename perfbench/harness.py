"""Run plumbing shared by the workloads: the Spark session, the feed
staging, the failure tally and the closed measuring loop.

Every temporary artifact of a run (lake roots, checkpoints, the Derby
database and its log, Spark local dirs, the event log) lives under the
run's own work directory, which ``run.py`` removes at the end.
"""

from __future__ import annotations

import os
import subprocess
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

CORES = 4
DRIVER_MEM = "2g"


def start_spark(work: str, cores: int = CORES, event_dir: str | None = None):
    """``local[cores]`` session with the package's defaults, quiet logs and
    every temp path under ``work``. The first call launches the JVM; later
    calls (after ``spark.stop()``) reuse it."""
    from patuha_etl_dlt_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files of the JVM, its launcher and the Python workers stay in the
    # run's work dir (no perf-data file in /tmp either)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
            f"-Xms{DRIVER_MEM}",
            "-XX:-UsePerfData",
        ]
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    # one plain-text event-log file per application (Spark 4 otherwise
    # compresses and rolls it)
    conf["spark.eventLog.enabled"] = "true" if event_dir else "false"
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in (and with it the Python
    workers), and wait until that process has exited."""
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
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Tally:
    """Operations attempted and failed in one run. A failure is an
    exception, a failed sync status or an oracle mismatch."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def ok(self, good: bool, what: str) -> bool:
        self.attempted += 1
        if not good:
            self.failed += 1
            self.problems.append(what)
        return good

    def call(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failure and yields
        ``None``."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            self.failed += 1
            self.problems.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None


def run_periods(seconds: float, period, clock) -> int:
    """Closed loop over whole periods of work until ``clock()`` (seconds
    spent committing) has grown by ``seconds``; always at least one
    period. Returns the periods run."""
    start, n = clock(), 0
    while n == 0 or clock() - start < seconds:
        period()
        n += 1
    return n


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0
