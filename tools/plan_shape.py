"""Plan-shape triage: for the named queries, print operator counts
(scans, exchanges, joins by strategy, Python-eval nodes, sorts) from
explain('formatted') at sf0.001 — cheap (no execution), box-noise-free.

Run: python tools/plan_shape.py <query> [query ...]
With --dump DIR, also write the full formatted plan per query.
"""

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stacktrend_spark.plans.registry import all_queries  # noqa: E402
from stacktrend_spark.session import get_spark  # noqa: E402

SF = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shape(plan: str) -> dict:
    return {
        "scans": len(re.findall(r"Scan parquet", plan)),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused_exchanges": len(re.findall(r"ReusedExchange", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "py_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)
        ),
        "aggs": len(re.findall(r"HashAggregate|SortAggregate|ObjectHashAggregate", plan)),
        "inmem_scans": len(re.findall(r"Scan ExistingRDD|InMemoryTableScan", plan)),
    }


def main() -> None:
    dump_dir = None
    args = sys.argv[1:]
    if "--dump" in args:
        i = args.index("--dump")
        dump_dir = args[i + 1]
        args = args[:i] + args[i + 2 :]
        os.makedirs(dump_dir, exist_ok=True)
    spark = get_spark("plan_shape")
    specs = all_queries()
    hdr = None
    for name in args:
        df = specs[name].fn(spark, SF)
        plan = formatted_plan(df)
        s = shape(plan)
        if hdr is None:
            hdr = "  ".join(f"{k:>6}" for k in s)
            print(f"{'query':<34}{hdr}")
        print(f"{name:<34}" + "  ".join(f"{v:>6}" for v in s.values()))
        if dump_dir:
            with open(os.path.join(dump_dir, f"{name}.txt"), "w") as f:
                f.write(plan)


if __name__ == "__main__":
    main()
