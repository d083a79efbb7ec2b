"""One-shot timing for every registered query OUTSIDE bench.py's
HEADLINE list (r7 verdict task 3 — "no silent caps"): each excluded
query gets one cold + one warm run at $SPARK_GRAFT_SF_DIR (default
sf0.1), written to BENCH_LITE.json at the repo root as

    {"sf": ..., "n_excluded": N,
     "queries": {name: {"cold": s, "warm": s}}, ...}

so no registered query is without a recorded number: HEADLINE rows are
timed every round in BENCH_FULL.json; everything else is timed here.
Usage: python tools/bench_lite.py [query ...]  (no args = all excluded)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, input_stats  # noqa: E402
from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench_lite")
    specs = all_queries()
    head = set(HEADLINE)
    picked = set(sys.argv[1:])
    # no silent drops (the tool's whole purpose): a misspelled name or
    # a HEADLINE row on the command line must be an error, not a no-op
    unknown = picked - set(specs)
    if unknown:
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    in_headline = picked & head
    if in_headline:
        raise SystemExit(
            f"HEADLINE queries (bench.py times these): {sorted(in_headline)}"
        )
    run_list = [
        n for n in specs if n not in head and (not picked or n in picked)
    ]

    # same warmups as bench.py: JVM/codegen + the Python worker pool
    specs["q1_pricing_summary"].fn(spark, sf_dir).count()

    def _ident(batches):
        yield from batches

    spark.range(32).repartition(32).mapInPandas(_ident, "id long").count()

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH_LITE.json",
    )
    queries: dict[str, dict[str, float]] = {}
    if picked and os.path.exists(out_path):
        with open(out_path) as f:
            queries = json.load(f).get("queries", {})
    for i, name in enumerate(run_list):
        spark.catalog.clearCache()
        t0 = time.time()
        specs[name].fn(spark, sf_dir).count()
        cold = round(time.time() - t0, 3)
        t1 = time.time()
        specs[name].fn(spark, sf_dir).count()
        warm = round(time.time() - t1, 3)
        queries[name] = {"cold": cold, "warm": warm}
        print(f"[{i + 1}/{len(run_list)}] {name}: cold={cold}s warm={warm}s", flush=True)

    doc = {
        "metric": "excluded_queries_oneshot",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_excluded": len(queries),
        "n_headline": len(HEADLINE),
        "queries": queries,
        "warm_total": round(sum(q["warm"] for q in queries.values()), 3),
        "input_rows": {n: s["rows"] for n, s in input_stats(sf_dir).items()},
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({k: doc[k] for k in ("sf", "n_excluded", "warm_total")}))


if __name__ == "__main__":
    main()
