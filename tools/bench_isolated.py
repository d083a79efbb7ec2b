"""Isolated benchmark for the two pinned cross-round subsets.

A full bench session carries the heap and GC pressure of 250+ queries
(the same code once read 20.1 s in-session and 15.6 s alone), so the
number compared across rounds is measured here: each subset runs alone
in its OWN fresh Python process, after a fixed cooldown idle gap (a box
that has just run a test suite measures wide), with bench.py's protocol
(``warm_up``, then ``measure`` per query). Each subset reports the
median of its run totals, where a run total is the sum of the subset's
per-query warm medians.

- ``COMPARABLE`` (29 rows, defined in bench.py, membership pinned since
  r1) -- the official cross-round number;
- ``SCALE_OPS`` (8 rows) -- the two-phase ranking operator family,
  which COMPARABLE does not touch.

Modes:

- ``python tools/bench_isolated.py [sf_dir]`` -- 3 runs of each subset,
  writes ``BENCH_ISO.json``;
- ``python tools/bench_isolated.py [sf_dir] --single [--subset S]`` --
  one in-process pass over subset S (``comparable`` default, or
  ``scale_ops``), prints one JSON line (the subprocess worker);
- ``--cooldown N`` -- idle seconds before each subset subprocess
  (default 60; 0 disables, e.g. for quick smoke checks).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import COMPARABLE, SF_DIR, SINK, measure, warm_up  # noqa: E402

#: the two-phase-ranking-operator bench subset. Membership is PINNED --
#: additions would break cross-round comparability; new scale operators
#: get their own subset instead.
SCALE_OPS = (
    "feature_quantile_bins",
    "model_gains_deciles",
    "vocab_coverage_curve",
    "skyline_price_size",
    "pack_sequences",
    "quality_budget_cut",
    "rank_global_scalable",
    "conversion_latency_quantiles",
)
SUBSETS = {"comparable": tuple(COMPARABLE), "scale_ops": SCALE_OPS}

DEFAULT_COOLDOWN = 60
N_RUNS = 3
USAGE = (
    "usage: bench_isolated.py [sf_dir] [--single] "
    "[--subset comparable|scale_ops] [--cooldown SECONDS>=0]"
)


def run_single(sf_dir: str, subset: str = "comparable") -> dict:
    from stacktrend_spark.plans.registry import all_queries
    from stacktrend_spark.session import get_spark

    spark = get_spark("bench_isolated")
    specs = all_queries()
    warm_up(spark, sf_dir)
    runs = {n: measure(spark, n, specs[n].fn, sf_dir) for n in SUBSETS[subset]}
    return {
        "subset": subset,
        "warm_total": round(sum(r["warm"] for r in runs.values()), 3),
        "cold_total": round(sum(r["cold"] for r in runs.values()), 3),
        "queries_warm": {n: r["warm"] for n, r in runs.items()},
    }


def _run_subset(sf_dir: str, subset: str, cooldown: int) -> dict:
    if cooldown:
        print(f"cooldown {cooldown}s before {subset} run...", file=sys.stderr)
        time.sleep(cooldown)
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, "--single", "--subset", subset],
        capture_output=True,
        text=True,
        check=True,
        cwd=REPO,
    )
    return json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])


def run_series(sf_dir: str, cooldown: int = DEFAULT_COOLDOWN) -> dict:
    runs: dict[str, list[dict]] = {s: [] for s in SUBSETS}
    for i in range(N_RUNS):
        for subset in SUBSETS:
            runs[subset].append(_run_subset(sf_dir, subset, cooldown))
        print(
            f"run {i + 1}/{N_RUNS}: "
            + " ".join(f"{s}={r[-1]['warm_total']}s" for s, r in runs.items()),
            file=sys.stderr,
        )

    def series(subset: str, key: str) -> list[float]:
        return sorted(r[key] for r in runs[subset])

    per_query = {
        name: statistics.median(r["queries_warm"][name] for r in subset_runs)
        for subset_runs in runs.values()
        for name in subset_runs[0]["queries_warm"]
    }
    return {
        "metric": "comparable_warm_median_isolated",
        "value": statistics.median(series("comparable", "warm_total")),
        "scale_ops_warm": statistics.median(series("scale_ops", "warm_total")),
        "unit": "sec",
        "sink": SINK,
        "series_warm": series("comparable", "warm_total"),
        "series_cold": series("comparable", "cold_total"),
        "series_scale_ops_warm": series("scale_ops", "warm_total"),
        "series_scale_ops_cold": series("scale_ops", "cold_total"),
        "queries_warm_median": per_query,
        "sf_dir": sf_dir,
        "n_queries": len(COMPARABLE),
        "n_scale_ops": len(SCALE_OPS),
        "n_runs": N_RUNS,
        "cooldown_sec": cooldown,
        "protocol": (
            "each subset of each run in its own fresh process after the "
            "cooldown (comparable, then scale_ops); bench.warm_up, then "
            "bench.measure per query (noop sink, 1 cold + median of 3 "
            "warm); value = median of the comparable run warm totals"
        ),
    }


def main() -> None:
    argv = sys.argv[1:]
    single = "--single" in argv
    argv = [a for a in argv if a != "--single"]
    opts = {"--cooldown": str(DEFAULT_COOLDOWN), "--subset": "comparable"}
    for flag in opts:
        if flag in argv:
            i = argv.index(flag)
            if i + 1 >= len(argv):
                sys.exit(USAGE)
            opts[flag] = argv[i + 1]
            del argv[i : i + 2]
    if not opts["--cooldown"].isdigit() or opts["--subset"] not in SUBSETS or len(argv) > 1:
        sys.exit(USAGE)
    sf_dir = argv[0] if argv else SF_DIR
    if single:
        print(json.dumps(run_single(sf_dir, opts["--subset"])))
        return
    result = run_series(sf_dir, cooldown=int(opts["--cooldown"]))
    out_path = os.path.join(REPO, "BENCH_ISO.json")
    with open(out_path, "w") as f:
        json.dump(result, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: v for k, v in result.items() if k != "queries_warm_median"}))
    print(f"wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
