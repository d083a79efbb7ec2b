"""Helpers for declaring column logic as Spark SQL text.

A DataFrame built from Column-DSL chains pays several py4j round trips
per function call on the driver; the same projection handed over as
SQL text costs one parse per expression. The pipeline builders
(pipelines/silver.py, gold.py, personal.py) are written this way, and
the column functions keep a Column-returning form for callers that
hold Column objects (``apply_sql``).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from datetime import date

from pyspark.sql import Column
from pyspark.sql import functions as F

_ISO_DATE = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")


def iso_date(value: str) -> str:
    """``value`` as a quoted SQL string literal, after checking it is an
    ISO ``YYYY-MM-DD`` calendar date (ValueError otherwise). The check
    is what makes interpolating a caller's date into SQL text safe."""
    if not isinstance(value, str) or not _ISO_DATE.fullmatch(value):
        raise ValueError(f"as_of_date must be an ISO YYYY-MM-DD date, got {value!r}")
    try:
        date.fromisoformat(value)
    except ValueError as exc:
        raise ValueError(f"as_of_date is not a calendar date: {value!r}") from exc
    return f"'{value}'"


def let(value: str, var: str, body: str) -> str:
    """SQL text evaluating ``body`` with lambda variable ``var`` bound to
    ``value``: a one-element ``transform``, so ``value`` is computed
    once per row however often ``body`` names it."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def apply_sql(kernel: Callable[..., str], *args: Column | str) -> Column:
    """Column form of a SQL-text kernel: ``kernel`` receives one SQL
    operand per argument and returns SQL text. The arguments (Columns,
    or column names) are bound once as fields of a struct lambda
    variable, so the kernel is written only in SQL."""
    cols = [F.col(a) if isinstance(a, str) else a for a in args]
    packed = F.array(F.struct(*[c.alias(f"a{i}") for i, c in enumerate(cols)]))
    body = kernel(*[f"sql_arg.a{i}" for i in range(len(cols))])
    return F.element_at(
        F.call_function("transform", packed, F.expr(f"sql_arg -> {body}")), 1
    )
