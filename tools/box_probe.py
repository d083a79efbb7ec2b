"""Box-factor probe: times the q1 anchor with bench.py's ``measure()``
in a fresh process at $SPARK_GRAFT_SF_DIR (default sf0.1) and prints
its warm runs and median. Committed calm-box reference at sf0.1: ~0.5 s
(BENCH_FULL q1_pricing_summary warm). Use before solo A/Bs to find a
calm measurement window.

Run: python tools/box_probe.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, measure  # noqa: E402
from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("box_probe")
    r = measure(spark, "q1_pricing_summary", all_queries()["q1_pricing_summary"].fn, SF_DIR)
    print({"q1_warm_runs": r["warm_runs"], "median": r["warm"]})


if __name__ == "__main__":
    main()
