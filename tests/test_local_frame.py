"""local_frame: driver rows → Arrow LocalRelation, equal to the list path."""

import datetime
import math

import pytest

from spark_validate.functions.local import local_frame

DDL = "i int, l bigint, s string, d double, b boolean, t timestamp, a array<string>"
ROWS = [
    (1, 2**40, "x", 1.5, True, datetime.datetime(2024, 3, 1, 12, 30, 5, 123456), ["p", None, "q"]),
    (None, None, None, None, None, None, None),
    (-7, -1, "", float("nan"), False, datetime.datetime(1999, 12, 31, 23, 59, 59), []),
    (0, 0, "ü", -0.0, None, datetime.datetime(2024, 7, 1), ["r"]),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _as_text(df):
    # repr keeps NaN, -0.0 and NULL apart; timestamps render in the session TZ
    rows = df.selectExpr("*", "cast(t as string) AS t_text").collect()
    return [repr(r) for r in rows]


@pytest.mark.parametrize("tz", [None, "America/Los_Angeles"])
def test_local_frame_matches_list_path(spark, tz):
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    if tz:
        spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        new = local_frame(spark, ROWS, DDL)
        old = spark.createDataFrame(ROWS, DDL)
        assert new.schema == old.schema
        assert _as_text(new) == _as_text(old)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_local_frame_keeps_null_and_nan_apart(spark):
    df = local_frame(spark, ROWS, DDL)
    r = df.selectExpr(
        "count_if(d IS NULL) AS n_null", "count_if(isnan(d)) AS n_nan", "count_if(d = 0) AS n_zero"
    ).first()
    assert (r.n_null, r.n_nan, r.n_zero) == (1, 1, 1)
    assert math.copysign(1.0, df.collect()[3].d) == -1.0


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_is_a_local_table_scan(spark, rows):
    df = local_frame(spark, rows, DDL)
    plan = _plan(df)
    assert plan.startswith("LocalTableScan"), plan
    assert "ExistingRDD" not in plan
    assert df.count() == len(rows)
    assert df.columns == ["i", "l", "s", "d", "b", "t", "a"]


def test_local_frame_takes_a_struct_schema(spark):
    schema = spark.createDataFrame([], "id bigint, comp bigint").schema
    df = local_frame(spark, [(3, 1), (1, 1)], schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == [(3, 1), (1, 1)]
