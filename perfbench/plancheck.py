"""Does the plan that ran keep every operator of the query's plan?

A query materialized through ``count()`` loses operators Catalyst can
prune (a Window whose output is never read, projections, sorts), so its
timing covers less than the query does. The benchmark writes through the
noop sink instead; this module compares, operator by operator, the
physical plan of the query as built with the plan Spark recorded in the
event log when the write ran.
"""

from __future__ import annotations

import re
from collections import Counter

#: one node line of a formatted plan tree, e.g. ``:  +- * Window (8)``
_NODE = re.compile(r"^[\s:|+\-*]*([A-Za-z][\w .]*?)\s*\(\d+\)\s*$")


def operators(formatted: str) -> Counter:
    """Operator names, with multiplicity, of the main tree of a plan in
    Spark's ``formatted`` explain mode (subquery sections excluded)."""
    lines = formatted.splitlines()
    if "== Physical Plan ==" in lines:
        lines = lines[lines.index("== Physical Plan ==") + 1 :]
    out: Counter = Counter()
    for line in lines:
        if not line.strip():
            break
        m = _NODE.match(line)
        if m:
            out[m.group(1)] += 1
    return out


def query_operators(df) -> Counter:
    """Operators of ``df``'s physical plan as built, before any action."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return operators(df._jdf.queryExecution().explainString(mode))


def executed_plans(events: list[dict]) -> list[tuple[float, Counter]]:
    """(start epoch seconds, operators) of every SQL execution in an event log."""
    return [
        (ev["time"] / 1000.0, operators(ev.get("physicalPlanDescription", "")))
        for ev in events
        if ev.get("Event", "").endswith("SparkListenerSQLExecutionStart")
    ]

