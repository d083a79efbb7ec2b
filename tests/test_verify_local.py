"""The oracle gate's canonical form, rule by rule (no Spark).

Every Spark-vs-DuckDB check decides through ``tools.verify_local``;
each test here pins one rule of its canonical form, so loosening a rule
fails here before it can hide a parity bug in the slow tier.
"""

from __future__ import annotations

import datetime
import math

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from tools.verify_local import compare, diff, duck_con

NAN = float("nan")


def test_row_and_column_order_do_not_matter():
    got = (["a", "b"], [(1, "x"), (2, "y")])
    assert diff(got, (["b", "a"], [("y", 2), ("x", 1)])) == []


def test_null_is_not_nan_on_rows():
    assert diff((["a"], [(None,)]), (["a"], [(NAN,)])) != []
    assert diff((["a"], [(NAN,), (None,)]), (["a"], [(None,), (NAN,)])) == []


def test_nan_must_sit_in_the_same_row():
    got = (["k", "v"], [(1, NAN), (2, 5.0)])
    assert diff(got, (["k", "v"], [(1, 5.0), (2, NAN)])) != []
    assert diff(got, (["k", "v"], [(2, 5.0), (1, NAN)])) == []


def test_one_ulp_fails():
    assert diff((["a"], [(0.1,)]), (["a"], [(math.nextafter(0.1, 1.0),)])) != []


def test_integer_equals_float_of_same_value():
    assert diff((["a"], [(3,)]), (["a"], [(3.0,)])) == []
    assert diff((["a"], [(3,)]), (["a"], [(3.5,)])) != []


def test_date_equals_its_midnight_timestamp():
    day = datetime.date(2024, 1, 1)
    midnight = datetime.datetime(2024, 1, 1)
    assert diff((["d"], [(day,)]), (["d"], [(midnight,)])) == []
    assert diff((["d"], [(day,)]), (["d"], [(midnight.replace(hour=1),)])) != []


def test_timestamps_compare_at_microseconds():
    us = datetime.datetime(2024, 1, 1, 0, 0, 0, 1)
    ns = pd.Timestamp(us) + pd.Timedelta(nanoseconds=999)
    assert diff((["t"], [(ns,)]), (["t"], [(us,)])) == []
    assert diff((["t"], [(ns,)]), (["t"], [(us.replace(microsecond=2),)])) != []


def test_column_set_mismatch_fails():
    assert diff((["a"], [(1,)]), (["b"], [(1,)])) == [
        "columns differ: got=['a'] want=['b']"
    ]


def test_row_count_mismatch_fails():
    assert diff((["a"], [(1,), (1,)]), (["a"], [(1,)])) == [
        "rowcount differs: got=2 want=1"
    ]


def test_duplicate_rows_count():
    assert diff((["a"], [(1,), (1,), (2,)]), (["a"], [(1,), (2,), (2,)])) != []


def test_compare_on_pandas():
    spark = pd.DataFrame(
        {
            "k": [2, 1],
            "v": [NAN, 0.5],
            "s": ["b", None],
            "t": pd.to_datetime(["2024-01-02", "2024-01-01"]),
        }
    )
    duck = pd.DataFrame(
        {
            "t": pd.to_datetime(["2024-01-01", "2024-01-02"]).as_unit("us"),
            "s": [None, "b"],
            "v": [0.5, None],
            "k": [1.0, 2.0],
        }
    )
    # pandas cannot keep a float NULL apart from NaN: one value here
    assert compare("q", spark, duck) == []
    off = duck.assign(v=[math.nextafter(0.5, 1.0), None])
    assert compare("q", spark, off) != []
    moved = duck.assign(v=[None, 0.5])
    assert compare("q", spark, moved) != []
    assert compare("q", spark, duck.drop(columns="s"))[0].startswith("columns differ")
    assert compare("q", spark, duck.head(1))[0].startswith("rowcount differs")


def test_duck_con_views_every_parquet_file(tmp_path):
    pq.write_table(pa.table({"x": [1, 2]}), tmp_path / "alpha.parquet")
    pq.write_table(pa.table({"y": ["z"]}), tmp_path / "beta.parquet")
    con = duck_con(str(tmp_path))
    assert con.execute("SELECT SUM(x) FROM alpha").fetchone() == (3,)
    assert con.execute("SELECT y FROM beta").fetchall() == [("z",)]
