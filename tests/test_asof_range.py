"""As-of join and bin-bucketed range join: semantics and plan shape
(the oracle parity suite covers cross-engine value equality for the
catalog queries)."""

import pytest
from pyspark.sql import functions as F

from hobbes_spark.operators.asof import asof_join, range_join


@pytest.fixture()
def lr(spark):
    L = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c"), (3, 5, "z")],
        "uid bigint, t bigint, lbl string",
    )
    R = spark.createDataFrame(
        [(1, 8, 100.0), (1, 18, 200.0), (2, 15, 300.0)],
        "uid bigint, t bigint, v double",
    )
    return L, R


def test_asof_backward(lr):
    L, R = lr
    got = [
        (r["uid"], r["t"], r["r_t"], r["r_v"])
        for r in asof_join(L, R, on="t", by=["uid"]).orderBy("uid", "t").collect()
    ]
    assert got == [
        (1, 10, 8, 100.0),
        (1, 20, 18, 200.0),
        (2, 15, 15, 300.0),  # equal timestamps match (inclusive)
        (3, 5, None, None),  # no right rows for uid: NULLs kept
    ]


def test_asof_forward(lr):
    L, R = lr
    got = [
        (r["uid"], r["t"], r["r_t"])
        for r in asof_join(L, R, on="t", by=["uid"], direction="forward")
        .orderBy("uid", "t")
        .collect()
    ]
    assert got == [(1, 10, 18), (1, 20, None), (2, 15, 15), (3, 5, None)]


def test_asof_tolerance(lr):
    L, R = lr
    got = [
        (r["uid"], r["t"], r["r_t"])
        for r in asof_join(L, R, on="t", by=["uid"], tolerance=F.lit(2))
        .orderBy("uid", "t")
        .collect()
    ]
    # (1, 10) is 2 ticks from (1, 8): kept; nothing farther matches
    assert got == [(1, 10, 8), (1, 20, 18), (2, 15, 15), (3, 5, None)]


def test_asof_single_shuffle_plan(lr):
    L, R = lr
    plan = (
        asof_join(L, R, on="t", by=["uid"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one hash-partitioned exchange on the by-key feeds the window; the
    # union must not add its own shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "uid" in plan.split("Exchange hashpartitioning", 1)[1][:60]


def test_asof_rejects_bad_direction_and_clashes(lr, spark):
    L, R = lr
    with pytest.raises(ValueError, match="direction"):
        asof_join(L, R, on="t", by=["uid"], direction="nearest")
    # left already carries a column named like a prefixed right payload
    with pytest.raises(ValueError, match="clash"):
        asof_join(L.withColumnRenamed("lbl", "r_v"), R, on="t", by=["uid"])
    with pytest.raises(ValueError, match="bin_width"):
        range_join(L, R.withColumnRenamed("t", "lo").withColumn("hi", F.col("lo")),
                   "t", "lo", "hi", bin_width=0.0)


def test_range_join_inclusive_and_multi_band(spark):
    P = spark.createDataFrame([(1, 5.0), (2, 55.0), (3, 250.0), (4, 10.0)], "pid bigint, x double")
    B = spark.createDataFrame(
        [("low", 0.0, 50.0), ("mid", 50.0, 100.0), ("all", 0.0, 300.0), ("pt", 10.0, 10.0)],
        "band string, lo double, hi double",
    )
    got = sorted(
        (r["pid"], r["band"])
        for r in range_join(P, B, "x", "lo", "hi", bin_width=50.0).collect()
    )
    assert got == [
        (1, "all"), (1, "low"),
        (2, "all"), (2, "mid"),
        (3, "all"),
        (4, "all"), (4, "low"), (4, "pt"),  # boundaries inclusive; degenerate interval works
    ]


def test_range_join_left_keeps_unmatched(spark):
    P = spark.createDataFrame([(1, 999.0)], "pid bigint, x double")
    B = spark.createDataFrame([("low", 0.0, 50.0)], "band string, lo double, hi double")
    got = range_join(P, B, "x", "lo", "hi", bin_width=50.0, how="left").collect()
    assert [(r["pid"], r["band"]) for r in got] == [(1, None)]


def test_range_join_no_nested_loop(spark):
    P = spark.createDataFrame([(1, 5.0)], "pid bigint, x double")
    B = spark.createDataFrame([("low", 0.0, 50.0)], "band string, lo double, hi double")
    plan = (
        range_join(P, B, "x", "lo", "hi", bin_width=50.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan  # equi-join on the bin key


def test_range_join_by_keys_and_overlap_guard(spark):
    P = spark.createDataFrame([(1, "g1", 5.0), (2, "g2", 5.0)], "pid bigint, g string, x double")
    B = spark.createDataFrame(
        [("g1", "low", 0.0, 50.0)], "g string, band string, lo double, hi double"
    )
    got = [
        (r["pid"], r["band"])
        for r in range_join(P, B, "x", "lo", "hi", by=["g"], bin_width=50.0).collect()
    ]
    assert got == [(1, "low")]  # g2 point does not match the g1 band
    with pytest.raises(ValueError, match="overlapping"):
        range_join(P, B.withColumnRenamed("band", "pid"), "x", "lo", "hi", by=["g"])


def test_asof_null_timestamps_never_match(spark):
    """NULL `on` values compare unknown in SQL: a NULL-ts right row must
    never be handed out as a match (it used to sort NULLS FIRST under
    asc and win `last(ignorenulls)`), and a NULL-ts left row matches
    nothing in either direction (it used to sort LAST under desc and
    inherit the accumulated forward match)."""
    L = spark.createDataFrame(
        [(1, 5, "x"), (1, None, "y")], "uid bigint, t bigint, lbl string"
    )
    R = spark.createDataFrame(
        [(1, None, 111.0), (1, 3, 333.0)], "uid bigint, t bigint, v double"
    )
    back = {r["lbl"]: (r["r_t"], r["r_v"])
            for r in asof_join(L, R, on="t", by=["uid"]).collect()}
    assert back["x"] == (3, 333.0)      # real match, NULL right row skipped
    assert back["y"] == (None, None)    # NULL left ts matches nothing
    fwd = {r["lbl"]: (r["r_t"], r["r_v"])
           for r in asof_join(L, R, on="t", by=["uid"],
                              direction="forward").collect()}
    assert fwd["x"] == (None, None)     # no right row at/after t=5
    assert fwd["y"] == (None, None)     # NULL left ts matches nothing


# --------------------------------------------------------------------- #
# Review-hardening regressions (round 4, operators batch)
# --------------------------------------------------------------------- #


def test_asof_join_rejects_mismatched_on_types(spark):
    from hobbes_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k bigint, t bigint")
    right = spark.createDataFrame([(1, 10.7, "x")], "k bigint, t double, v string")
    with pytest.raises(ValueError, match="types differ"):
        asof_join(left, right, on="t", by=["k"])


def test_asof_join_null_by_keys_match_nothing(spark):
    from hobbes_spark.operators.asof import asof_join

    left = spark.createDataFrame([(None, 5)], "k string, t bigint")
    right = spark.createDataFrame([(None, 3, 1.0)], "k string, t bigint, v double")
    out = asof_join(left, right, on="t", by=["k"]).collect()
    # SQL equality: NULL key matches nothing -> unmatched left row
    assert len(out) == 1 and out[0]["r_v"] is None


def test_range_join_inverted_interval_matches_nothing(spark):
    from hobbes_spark.operators.asof import range_join

    left = spark.createDataFrame([(5.0,)], "p double")
    # one sane band + one inverted band with a HUGE downward span that
    # would explode the bin sequence without the guard
    right = spark.createDataFrame(
        [(0.0, 10.0, "ok"), (1e9, 0.0, "bad")], "lo double, hi double, tag string"
    )
    out = range_join(left, right, point="p", lower="lo", upper="hi",
                     bin_width=1.0).collect()
    assert [r["tag"] for r in out] == ["ok"]


def test_salted_join_rejects_overlapping_columns(spark):
    from hobbes_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, 2.0)], "k bigint, value double")
    dim = spark.createDataFrame([(1, 3.0)], "k bigint, value double")
    with pytest.raises(ValueError, match="overlapping"):
        salted_join(fact, dim, on="k")


def test_group_reduce_dot_path_value_columns(spark):
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame([("a", 1.0), ("a", 3.0)], ["k", "m.v"])
    out = Pipeline(df).group_by("k").reduce("mean").collect()
    assert out[0]["m.v"] == 2.0
