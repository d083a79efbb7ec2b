"""Box-factor probe: times the q1 anchor 3x warm in a fresh subprocess
session and prints the median. Committed calm-box reference: ~0.5 s
(BENCH_FULL q1_pricing_summary warm). Use before solo A/Bs to find a
calm measurement window (the r11/r12 min-box discipline, one command).

Run: python tools/box_probe.py
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark("box_probe")
    fn = all_queries()["q1_pricing_summary"].fn
    fn(spark, "/root/testdata/sf0.1").count()  # warmup
    runs = []
    for _ in range(3):
        t0 = time.time()
        fn(spark, "/root/testdata/sf0.1").count()
        runs.append(round(time.time() - t0, 3))
    print({"q1_warm_runs": runs, "median": sorted(runs)[1]})


if __name__ == "__main__":
    main()
