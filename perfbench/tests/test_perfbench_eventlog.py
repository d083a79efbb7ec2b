"""The event-log reducer against a real Spark event log."""

from __future__ import annotations

import glob
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pytest
from conftest import logged_spark

import eventlog
from tracing import Tracer, self_times

#: jobs each fan-out thread submits; none of them sets a job group
FANOUT_WRITES = 4


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    import pandas as pd
    from pyspark.sql import functions as F

    event_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = logged_spark(event_dir)
    tracer = Tracer()

    def plus_one(s):
        return s + 1

    plus_one.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(plus_one, "long")

    with tracer.span("native"):
        spark.range(0, 20_000, 1, 8).groupBy((F.col("id") % 7).alias("k")).count().collect()
    with tracer.span("python"):
        spark.range(0, 5_000, 1, 4).select(udf("id").alias("x")).agg(F.sum("x")).collect()
    with tracer.span("fanout"):

        def write(i: int) -> None:
            df = spark.range(0, 1_000 * (i + 1), 1, 2).withColumn("y", F.col("id") * i)
            df.write.format("noop").mode("overwrite").save()

        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(write, range(FANOUT_WRITES)))
    spark.stop()
    yield event_dir, eventlog.read_events(event_dir), tracer


def _span(tracer, name):
    return next(s for s in tracer.spans if s.name == name)


def test_span_totals_sum_to_stage_completed_totals(traced):
    _, events, tracer = traced
    per_span = eventlog.reduce(events, tracer.spans)
    whole = eventlog.stage_totals(events)
    summed = eventlog.merge(list(per_span.values()))
    assert whole["spark.stages"] > 0
    for name, value in whole.items():
        assert summed[name] == pytest.approx(value, rel=1e-9, abs=1e-9), name
    # every job started inside a span, so nothing is left unattributed
    # except the jobs of no span at all (there are none here)
    assert per_span.get(None, eventlog.empty_metrics())["spark.jobs"] == 0


def test_jobs_from_worker_threads_are_attributed_without_a_group(traced):
    _, events, tracer = traced
    fanout = _span(tracer, "fanout")
    starts = [e for e in events if e.get("Event") == "SparkListenerJobStart"]
    in_fanout = [e for e in starts if fanout.start <= e["Submission Time"] / 1000 <= fanout.end]
    assert len(in_fanout) >= FANOUT_WRITES
    assert all("spark.jobGroup.id" not in e.get("Properties", {}) for e in in_fanout)
    per_span = eventlog.reduce(events, tracer.spans)
    assert per_span[fanout.id]["spark.jobs"] == len(in_fanout)
    assert per_span[fanout.id]["spark.tasks"] >= 2 * FANOUT_WRITES


def test_rolling_directories_are_read_in_part_order(traced, tmp_path):
    event_dir, events, _ = traced
    apps = glob.glob(os.path.join(event_dir, "eventlog_v2_*"))
    assert len(apps) == 1, "Spark 4 writes a rolling eventlog_v2_* directory"
    # split the one part into three, and name them so that a plain
    # lexical sort would put part 10 before part 2
    app = os.path.basename(apps[0])
    rolled = tmp_path / "rolled" / app
    rolled.mkdir(parents=True)
    src = glob.glob(os.path.join(apps[0], "events_*"))[0]
    with open(src) as fh:
        lines = fh.readlines()
    third = len(lines) // 3
    for index, chunk in ((1, lines[:third]), (2, lines[third : 2 * third]), (10, lines[2 * third :])):
        (rolled / f"events_{index}_{app[len('eventlog_v2_'):]}").write_text("".join(chunk))
    assert eventlog.read_events(str(rolled.parent)) == events
    # a non-rolling log is one plain file
    plain = tmp_path / "plain"
    plain.mkdir()
    shutil.copy(src, plain / app[len("eventlog_v2_") :])
    assert eventlog.read_events(str(plain)) == events


def test_python_accumulables_are_picked_up(traced):
    _, events, tracer = traced
    per_span = eventlog.reduce(events, tracer.spans)
    py = per_span[_span(tracer, "python").id]
    native = per_span[_span(tracer, "native").id]
    for name in ("python.run_s", "python.bytes_sent", "python.bytes_returned"):
        assert py[name] > 0, name
        assert native[name] == 0, name
    assert py["python.run_s"] <= py["spark.executor_run_s"]


def test_self_times_split_concurrent_children_and_sum_to_wall():
    from eventlog import Span

    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "fan", 4.0, 9.0, parent=0),
        Span(3, "w1", 4.0, 8.0, parent=2),
        Span(4, "w2", 5.0, 9.0, parent=2),
    ]
    own = self_times(spans)
    assert sum(own.values()) == pytest.approx(10.0)
    assert own[0] == pytest.approx(3.0)  # 0-1, 3-4 and 9-10
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(0.0)
    # 4-5 w1 alone, 5-8 shared, 8-9 w2 alone
    assert own[3] == pytest.approx(1.0 + 1.5)
    assert own[4] == pytest.approx(1.5 + 1.0)
