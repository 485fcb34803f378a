"""Pieces every workload shares: failure accounting, the Spark session the
benchmark runs on, and small statistics helpers."""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import traceback

MASTER = "local[4]"
DRIVER_MEMORY = "2g"
MB = 1024.0 * 1024.0


class Accounting:
    """Counts attempted and failed operations. A failure is recorded with
    its traceback on stderr and never aborts the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"[perfbench] FAILED {what}: {detail}", file=sys.stderr)

    def call(self, what: str, fn):
        """Run one timed operation; returns ``(ok, value)``."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception:  # noqa: BLE001 - a failed operation is a measurement
            self.fail(what, traceback.format_exc())
            return False, None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Record one output check as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.fail(what, detail)


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        # A heap committed and touched up front keeps peak memory from
        # depending on when the collector chose to grow the heap; without
        # perf data the JVM writes nothing to /tmp.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir}/tmp -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
        ),
        "spark.local.dir": f"{run_dir}/local",
        "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
        "spark.sql.streaming.checkpointLocation": f"{run_dir}/checkpoints",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{run_dir}/eventlog",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start_session(run_dir: str, trace: bool):
    from featureengineer_spark import get_spark

    spark = get_spark(master=MASTER, app_name="perfbench", extra_conf=session_conf(run_dir, trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the JVM that PySpark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def noop(df) -> None:
    """Execute every column of ``df`` without keeping the rows."""
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def data_files(path: str) -> int:
    """Data files under ``path``, not counting Spark's marker and checksum files."""
    return sum(not f.startswith(("_", ".")) for _root, _dirs, files in os.walk(path) for f in files)
