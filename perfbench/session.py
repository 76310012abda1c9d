"""The benchmark's Spark session lifecycle.

Every session of a run is built by the program's own
``rds_pgbadger_etl_spark.session.get_spark`` on ``local[<usable cores>]``
with a driver heap below the machine's memory, and keeps its scratch files
inside the run's work directory.
"""

from __future__ import annotations

import os
import time

DRIVER_MEMORY = "3g"


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


class Sessions:
    """Starts, restarts and finally stops the run's SparkSession and the
    JVM behind it. One session is live at a time."""

    def __init__(self, work: str) -> None:
        self._work = work
        self.spark = None

    def start(self, extra_conf: dict[str, str] | None = None):
        """Stop the live session, if any, and start a new one; returns
        (session, seconds the start took)."""
        from rds_pgbadger_etl_spark.session import get_spark

        self.stop()
        tmp = os.path.join(self._work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata files under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            **(extra_conf or {}),
        }
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=usable_cpus(),
            driver_memory=DRIVER_MEMORY,
            extra_conf=conf,
        )
        return self.spark, time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when the pipe from this process closes
            proc.stdin.close()
            proc.wait(timeout=60)
