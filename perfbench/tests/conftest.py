from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


def logged_spark(event_dir: str):
    """A fresh local session that writes an uncompressed event log to
    ``event_dir``; stopping it flushes the log."""
    from pyspark.sql import SparkSession

    from stacktrend_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return get_spark(
        "perfbench-tests",
        cpus=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
