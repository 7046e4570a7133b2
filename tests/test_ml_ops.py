"""buckets, k-means, each, linear regression/extrapolation (SURVEY §2.8-2.9)."""

import pytest
from pyspark.sql import functions as F

from hobbes_spark import Pipeline


@pytest.fixture(scope="module")
def series(spark):
    rows = [(i, float(i) * 2.0 + 1.0, f"s{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "i int, y double, s string")
    return Pipeline(df).sort_by("i")


def test_buckets_remainder_to_last(series):
    out = series.buckets(3, "count")
    rows = {r["bucket"]: r["i"] for r in out.df.collect()}
    # 20 rows into 3 buckets: 6,6,8 (remainder to last, Deedle-style)
    assert rows == {1: 6, 2: 6, 3: 8}


def test_buckets_mean(series):
    out = series.buckets(4, "mean")  # 5 per bucket
    rows = out.df.orderBy("bucket").collect()
    assert rows[0]["i"] == pytest.approx(2.0)  # mean of 0..4
    assert rows[3]["i"] == pytest.approx(17.0)  # mean of 15..19
    assert "s" not in out.columns  # non-numeric discarded


def test_each_rowwise(spark):
    df = spark.createDataFrame([(1.0, 5.0, 3.0, "x")], "a double, b double, c double, s string")
    p = Pipeline(df)
    assert p.each("sum").df.first()["value"] == 9.0
    assert p.each("max").df.first()["value"] == 5.0
    assert p.each("mean").df.first()["value"] == 3.0
    assert p.each("median").df.first()["value"] == 3.0
    assert p.each("stddev").df.first()["value"] == pytest.approx(2.0)
    assert p.each("count").df.first()["value"] == 3.0


def test_each_skips_nulls(spark):
    df = spark.createDataFrame([(1.0, None, 3.0)], "a double, b double, c double")
    assert Pipeline(df).each("mean").df.first()["value"] == 2.0


def test_linear_regression(series):
    out = series.linear_regression("i", "y").df.first()
    assert out["slope"] == pytest.approx(2.0)
    assert out["intercept"] == pytest.approx(1.0)
    assert out["r2"] == pytest.approx(1.0)


def test_linear_extrapolation(series):
    out = series.linear_extrapolation("y", n_pred=3, n_train=5)
    rows = out.df.orderBy("ordinal").collect()
    assert len(rows) == 23
    preds = [r for r in rows if r["predicted"]]
    assert len(preds) == 3
    # perfect line: y = 2*ordinal - 1 (ordinal is 1-based => y=2(i+1)-1? check)
    # rows i=0..19 have y=2i+1; ordinal=i+1 => y = 2*ordinal - 1
    for r in preds:
        assert r["y"] == pytest.approx(2.0 * r["ordinal"] - 1.0)
        assert r["s"] is None  # non-fitted columns null on predicted rows


def test_linear_extrapolation_zero_and_negative_pred(series):
    """n_pred=0 appends NOTHING (sequence(t+1, t) would auto-step -1 and
    fabricate two phantom rows, one colliding with the last real
    ordinal); negative n_pred / zero n_train refuse up front."""
    import pytest as _pt

    out = series.linear_extrapolation("y", n_pred=0, n_train=5)
    rows = out.df.collect()
    assert len(rows) == 20
    assert not any(r["predicted"] for r in rows)
    with _pt.raises(ValueError):
        series.linear_extrapolation("y", n_pred=-1, n_train=5)
    with _pt.raises(ValueError):
        series.linear_extrapolation("y", n_pred=1, n_train=0)


def test_kmeans_two_blobs(spark):
    pts = [(float(i % 7) / 100 + (0.0 if i < 30 else 100.0),) for i in range(60)]
    df = spark.createDataFrame(pts, "x double")
    out = Pipeline(df).kmeans(2, "mean")
    rows = out.df.orderBy("cluster").collect()
    assert len(rows) == 2
    assert rows[0]["x"] == pytest.approx(0.03, abs=0.01)
    assert rows[1]["x"] == pytest.approx(100.03, abs=0.01)


class TestKmeansLloyd:
    def test_deterministic_across_runs(self, spark, sf_dir):
        from hobbes_spark.pipeline import Pipeline

        p = Pipeline.table(spark, sf_dir, "orders").slice_columns("o_totalprice")
        a = p.kmeans(4, "mean").df.collect()
        b = p.kmeans(4, "mean").df.collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert len(a) >= 2  # non-degenerate clustering

    def test_clusters_partition_value_range(self, spark, sf_dir):
        """1-D k-means at convergence: clusters are contiguous intervals,
        so cluster means must be strictly increasing and every row lands
        in a cluster."""
        from hobbes_spark.pipeline import Pipeline

        p = Pipeline.table(spark, sf_dir, "orders").slice_columns("o_totalprice")
        rows = p.kmeans(4, "mean").df.collect()
        means = [r["o_totalprice"] for r in rows]
        assert means == sorted(means)

    def test_nulls_skipped_and_multidim(self, spark):
        from hobbes_spark.pipeline import Pipeline

        df = spark.createDataFrame(
            [(0.0, 0.0), (0.1, 0.2), (10.0, 9.9), (10.2, 10.0), (None, 5.0)],
            "x double, y double",
        )
        out = Pipeline(df).kmeans(2, "count").df.collect()
        assert sum(r["x"] for r in out) == 4  # NULL row dropped, 2+2 split

    def test_hb_statement_same_rows_in_any_layout(self, spark):
        """``k-means 3 -> mean`` from .hb text gives the same rows over
        the same data in two layouts (reversed over 4 partitions vs one
        partition), and the same rows as ``Pipeline.kmeans``. Integer
        values keep every sum exact, so equality is exact."""
        from hobbes_spark.hb import run_hb

        rows = [(f"r{i}", float(i * 37 % 1000), float(i * 11 % 97)) for i in range(600)]
        schema = "id string, x double, y double"
        spread = spark.createDataFrame(rows[::-1], schema).repartition(4)
        single = spark.createDataFrame(rows, schema).repartition(1)
        prog = "k-means 3 -> mean\n"
        a = run_hb(prog, Pipeline(spread)).df.collect()
        b = run_hb(prog, Pipeline(single)).df.collect()
        direct = Pipeline(single).kmeans(3, "mean").df.collect()
        assert len(a) == 3
        assert a == b == direct


def test_each_count_zero_on_all_null_row(spark):
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("a", None, None), ("b", 1.0, 2.0)], "k string, x double, y double"
    )
    p = Pipeline(df).index_by("k")
    rows = {r["k"]: r["value"] for r in p.each("count").df.collect()}
    assert rows == {"a": 0, "b": 2}  # 0, not NULL


def test_kmeans_lloyd_empty_and_nan_guards(spark):
    from hobbes_spark.operators.ml import kmeans
    from hobbes_spark.pipeline import Pipeline

    empty = Pipeline(
        spark.createDataFrame([(None,)], "x double")
    )
    with pytest.raises(ValueError, match="no complete rows"):
        kmeans(empty, 2, "mean")
    nan = Pipeline(
        spark.createDataFrame([(float("nan"),), (1.0,), (2.0,)], "x double")
    )
    out = kmeans(nan, 2, "mean").df.collect()  # NaN row filtered, no crash
    assert len(out) <= 2
