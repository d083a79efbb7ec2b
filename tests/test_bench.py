"""bench.py: argument handling before any Spark work, series-safe
merges, and ``measure()`` timing the whole plan."""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

#: a Window node line of a formatted physical plan, e.g. ``+- Window (8)``
_WINDOW = re.compile(r"\bWindow \(\d+\)")


def test_unknown_query_exits_before_spark(monkeypatch):
    def no_spark(*args, **kwargs):
        raise AssertionError("bench.py started a Spark session")

    monkeypatch.setattr(bench, "get_spark", no_spark)
    path = os.path.join(bench.REPO, "BENCH_FULL.json")
    with open(path, "rb") as f:
        before = f.read()
    with pytest.raises(SystemExit) as exc:
        bench.main(["no_such_query"])
    assert exc.value.code not in (0, None)
    with open(path, "rb") as f:
        assert f.read() == before


@pytest.mark.parametrize(
    "stored", [{"sink": "noop", "sf": 0.1}, {"sf": 0.001}, {}], ids=["sf", "sink", "legacy"]
)
def test_merge_refuses_another_series(tmp_path, stored):
    path = tmp_path / "BENCH.json"
    path.write_text(json.dumps({**stored, "queries": {"q": 1.0}}))
    with pytest.raises(SystemExit):
        bench.load_series(str(path), 0.001, merge=True)
    # a full run replaces the file instead of merging into it
    assert bench.load_series(str(path), 0.001, merge=False) == {}
    path.write_text(json.dumps({"sink": "noop", "sf": 0.001, "queries": {"q": 1.0}}))
    assert bench.load_series(str(path), 0.001, merge=True)["queries"] == {"q": 1.0}


def _executed_plans(spark) -> dict[str, list[str]]:
    """Physical plans of the session's SQL executions, by description
    (``measure`` sets it to the job group name), from the status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = defaultdict(list)
    for i in range(executions.size()):
        e = executions.apply(i)
        plans[e.description()].append(e.physicalPlanDescription())
    return plans


def test_measure_runs_the_whole_plan(spark, sf_dir):
    """count() prunes window_lead_ntile's Window entirely; every run
    measure() times must keep it."""
    from stacktrend_spark.plans.registry import all_queries

    fn = all_queries()["window_lead_ntile"].fn
    result = bench.measure(spark, "measure:window_lead_ntile", fn, sf_dir)
    assert result["warm"] == sorted(result["warm_runs"])[1]
    spark.sparkContext.setJobGroup("count:window_lead_ntile", "count:window_lead_ntile")
    fn(spark, sf_dir).count()

    plans = _executed_plans(spark)
    timed = plans["measure:window_lead_ntile"]
    assert len(timed) == 4, "one cold and three warm runs"
    assert all(_WINDOW.search(p) for p in timed)
    counted = plans["count:window_lead_ntile"]
    assert counted and not any(_WINDOW.search(p) for p in counted)


@pytest.mark.slow
@pytest.mark.parametrize(
    "name",
    [
        "pagerank_copurchase",
        "label_propagation_communities",
        "hits_hubs_authorities",
        "bpe_merge_unrolled",
        "dedup_minhash_lsh",
        "dedup_incremental_batch",
    ],
)
def test_second_run_repeats_the_first(spark, sf_dir, name):
    """measure()'s warm runs must do the cold run's work: a query built
    and run again in the same session, with nothing cleared, submits as
    many jobs and stages as the first time (these six once read the
    first run's cached intermediates through equal plans)."""
    from stacktrend_spark.plans.registry import all_queries

    fn = all_queries()[name].fn
    tracker = spark.sparkContext.statusTracker()

    def run(group: str) -> tuple[int, int]:
        spark.sparkContext.setJobGroup(group, group)
        bench._noop(fn(spark, sf_dir))
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(group)
        return len(jobs), sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)

    try:
        first = run(f"first:{name}")
        assert run(f"second:{name}") == first
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
