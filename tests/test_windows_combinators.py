"""moving/expanding windows (SURVEY §2.8) and merge/join (§2.5)."""

import pytest
from pyspark.sql import functions as F

from hobbes_spark import Pipeline
from hobbes_spark import expressions as E


@pytest.fixture(scope="module")
def daily(spark, sf_dir):
    """Daily event counts — the commit-frequency shape (Git.fs:12-17)."""
    ev = Pipeline.table(spark, sf_dir, "events")
    return (
        ev.create_column("date", E.format_date("ts", "date"))
        .group_by("date")
        .count_rows()
        .sort_by("date")
    )


def test_moving_mean_null_prefix(daily):
    out = daily.moving("m7", "mean", 7, "count")
    rows = out.df.select("date", "count", "m7").orderBy("date").collect()
    # first 6 rows NULL, then trailing-7 mean
    assert all(r["m7"] is None for r in rows[:6])
    for i in range(6, len(rows)):
        window = [rows[j]["count"] for j in range(i - 6, i + 1)]
        assert rows[i]["m7"] == pytest.approx(sum(window) / 7)


def test_moving_then_filter_missing(daily):
    # MTTR.hb:31-35 idiom: moving then drop the NULL prefix
    out = daily.moving("m7", "mean", 7, "count").only(E.isnt_missing("m7"))
    assert out.df.count() == daily.df.count() - 6


def test_expanding_sum_is_cumulative(daily):
    out = daily.expanding("burnup", "sum", "count")
    rows = out.df.select("count", "burnup").orderBy("date").collect()
    run = 0
    for r in rows:
        run += r["count"]
        assert r["burnup"] == run


def test_moving_partitioned(spark, sf_dir):
    # scale path: window keyed per event_type
    ev = Pipeline.table(spark, sf_dir, "events")
    p = (
        ev.create_column("date", E.format_date("ts", "date"))
        .group_by("event_type", "date")
        .count_rows()
        .sort_by("date")
    )
    out = p.moving("m3", "mean", 3, "count", partition_by=["event_type"])
    one = out.df.filter(F.col("event_type") == out.df.first()["event_type"])
    rows = one.orderBy("date").collect()
    assert all(r["m3"] is None for r in rows[:2])
    assert rows[2]["m3"] == pytest.approx((rows[0]["count"] + rows[1]["count"] + rows[2]["count"]) / 3)


def test_merge_preserves_rowcount_and_empty_sides(spark):
    # calculator.worker/tests/Processer.fs:62-72 semantics
    a = Pipeline(spark.createDataFrame([(1, "x")], "i int, s string"))
    b = Pipeline(spark.createDataFrame([(2.5, True)], "d double, b boolean"))
    empty = Pipeline(spark.createDataFrame([], "i int, s string"))
    out = Pipeline.merge(a, b, empty)
    assert out.df.count() == 2
    assert set(out.columns) == {"i", "s", "d", "b"}
    # disjoint columns null-filled
    row = out.df.filter(F.col("i") == 1).first()
    assert row["d"] is None and row["b"] is None


def test_join_on_field_outer(spark, sf_dir):
    cust = Pipeline.table(spark, sf_dir, "customer").slice_columns("c_custkey", "c_name")
    orders = (
        Pipeline.table(spark, sf_dir, "orders")
        .rename_column("o_custkey", "c_custkey")
        .group_by("c_custkey")
        .count_rows()
    )
    out = cust.join(orders, "c_custkey", how="outer")
    assert out.key_cols == ("c_custkey",)
    # outer: every customer present even without orders
    assert out.df.count() >= cust.df.count()


def test_join_broadcast_plan(spark, sf_dir):
    nation = Pipeline.table(spark, sf_dir, "nation")
    cust = Pipeline.table(spark, sf_dir, "customer").rename_column("c_nationkey", "n_nationkey")
    out = cust.join(nation, "n_nationkey", how="inner", broadcast=True)
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
