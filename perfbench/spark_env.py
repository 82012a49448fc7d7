"""Spark session for the benchmark's Spark workloads, built with the
program's own ``get_spark`` and pinned to this run's work directory."""

from __future__ import annotations

from pathlib import Path

DRIVER_MEM = "2g"


def start_spark(work: Path, ui: bool):
    from iceberg_rest_server_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.port": "0",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            # a fixed, pre-touched heap: the driver's resident set is then
            # the heap plus native memory, not a record of when the
            # collector chose to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
        },
    )


def jvm_pid(spark) -> int:
    """The driver JVM (spark-submit execs into java)."""
    return spark.sparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit; it exits
    when its standard input closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
