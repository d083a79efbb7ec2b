"""Every mix query runs its whole plan under the noop sink."""

from __future__ import annotations

import time

import pytest
from conftest import logged_spark

import datagen
import eventlog
import plancheck
from run import MIX, isolate

#: a query whose Window node a count() prunes away entirely
PRUNABLE = "window_lead_ntile"


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    from stacktrend_spark.plans.registry import all_queries

    data_dir = str(tmp_path_factory.mktemp("data"))
    datagen.write(data_dir, 0.001, seed=7)
    event_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = logged_spark(event_dir)
    specs = all_queries()
    built = {}
    for name in MIX + ("count:" + PRUNABLE,):
        isolate(spark)
        query = name.removeprefix("count:")
        start = time.time()
        df = specs[query].fn(spark, data_dir)
        ops = plancheck.query_operators(df)
        if name.startswith("count:"):
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()
        built[name] = (start, time.time(), ops)
    isolate(spark)
    spark.stop()
    return built, plancheck.executed_plans(eventlog.read_events(event_dir))


def _last_run(plans, start, end):
    inside = [ops for t, ops in plans if start <= t <= end]
    assert inside, "no SQL execution recorded for the query"
    return inside[-1]


@pytest.mark.parametrize("name", MIX)
def test_noop_sink_keeps_every_operator(runs, name):
    built, plans = runs
    start, end, ops = built[name]
    ran = _last_run(plans, start, end)
    assert ran["OverwriteByExpression"] == 1, "the last execution is the noop write"
    assert not ops - ran, f"operators the noop run lost: {ops - ran}"


def test_count_is_caught_dropping_operators(runs):
    built, plans = runs
    start, end, ops = built["count:" + PRUNABLE]
    assert ops["Window"] >= 1
    assert (ops - _last_run(plans, start, end))["Window"] == ops["Window"]
