"""Process helpers: core count, and a Spark shutdown that waits for the JVM
to end."""

from __future__ import annotations

import os


def cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def stop_spark(spark) -> None:
    """Stop the session (which stops its Python workers), then close the
    py4j gateway JVM's stdin, on which it exits, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
