"""Core Pipeline operators: filters, projection, create/rename, group by,
pivot, sort/keys/ordinals — mirrors the reference's operator evidence in
SURVEY §2.2-2.7."""

import pytest
from pyspark.sql import functions as F

from hobbes_spark import Pipeline
from hobbes_spark import expressions as E
from hobbes_spark.pipeline import read_parquet_any_ts


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return Pipeline.table(spark, sf_dir, "orders")


def test_only_filter(orders):
    out = orders.only(F.col("o_orderstatus") == "F")
    rows = out.df.select("o_orderstatus").distinct().collect()
    assert [r[0] for r in rows] == ["F"]


def test_only_true_identity(orders):
    assert orders.only(True).df.count() == orders.df.count()


def test_slice_columns_tolerates_missing(orders):
    out = orders.slice_columns("o_orderkey", "no_such_column", "o_totalprice")
    assert out.columns == ["o_orderkey", "o_totalprice"]


def test_rename_and_create(orders):
    out = (
        orders.rename_column("o_totalprice", "price")
        .create_column("price2", F.col("price") * 2)
        .create_column("tick", 1)
    )
    row = out.df.select("price", "price2", "tick").first()
    assert row["price2"] == row["price"] * 2
    assert row["tick"] == 1


def test_create_shadow_rename_recreate_idiom(orders):
    # MTTR.hb:25-26: rename then recreate referencing the renamed column
    out = (
        orders.rename_column("o_totalprice", "temp")
        .create_column("o_totalprice", F.col("temp") / 2)
    )
    row = out.df.first()
    assert row["o_totalprice"] == row["temp"] / 2


def test_group_by_reduce_all_columns(orders):
    out = orders.slice_columns("o_orderstatus", "o_totalprice", "o_orderkey").group_by(
        "o_orderstatus"
    ).reduce("sum")
    # sum applies to every remaining numeric column, names preserved
    assert set(out.columns) == {"o_orderstatus", "o_totalprice", "o_orderkey"}
    assert out.key_cols == ("o_orderstatus",)


def test_group_by_sum_drops_non_numeric(orders):
    out = orders.group_by("o_orderstatus").reduce("sum")
    assert "o_orderpriority" not in out.columns  # string col dropped under sum
    assert "o_totalprice" in out.columns


def test_group_by_maxby(orders):
    out = orders.group_by("o_custkey").maxby("o_orderdate", tiebreak=["o_orderkey"])
    # one row per customer, full row retained
    assert out.df.count() == orders.df.select("o_custkey").distinct().count()
    assert set(out.columns) == set(orders.columns)


def test_group_by_minby_matches_sql(spark, orders):
    out = orders.group_by("o_custkey").minby("o_orderdate", tiebreak=["o_orderkey"])
    got = {(r["o_custkey"], r["o_orderkey"]) for r in out.df.collect()}
    orders.df.createOrReplaceTempView("t_orders")
    exp = {
        (r[0], r[1])
        for r in spark.sql(
            """select o_custkey, o_orderkey from (
                 select o_custkey, o_orderkey,
                        row_number() over (partition by o_custkey
                                           order by o_orderdate, o_orderkey) rn
                 from t_orders) where rn = 1"""
        ).collect()
    }
    assert got == exp


def test_pivot_shape(orders):
    out = orders.pivot(["o_orderpriority"], "o_orderstatus", "count")
    # columns come from data values (FIXTURES.md F5)
    assert set(out.columns) == {"o_orderpriority", "F", "O", "P"}
    assert out.key_cols == ("o_orderpriority",)


def test_pivot_count_absent_cell_is_zero(spark):
    """An absent (row, col) combination must pivot-count to 0, not NULL:
    count of an empty sub-frame is 0, and downstream arithmetic (e.g.
    Velocity.hb's moving mean over the pivoted F column) treats NULL and
    0 differently. Non-count reductions keep NULL (no defined value)."""
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 3.0)], "r string, c string, v double"
    )
    p = Pipeline(df)
    cnt = {
        (row["r"]): (row["x"], row["y"])
        for row in p.pivot(["r"], "c", "count", "v").df.collect()
    }
    assert cnt["a"] == (1, 1) and cnt["b"] == (1, 0)
    sm = {
        (row["r"]): (row["x"], row["y"])
        for row in p.pivot(["r"], "c", "sum", "v").df.collect()
    }
    assert sm["b"] == (3.0, None)


def test_sort_keys_ordinals(orders):
    p = (
        orders.group_by("o_orderstatus")
        .reduce("sum")
        .sort_by("o_orderstatus")
    )
    p2 = p.create_column("k", p.keys_col()).create_column("i", p.ordinals_col())
    rows = p2.df.select("o_orderstatus", "k", "i").collect()
    assert [r["k"] for r in rows] == [r["o_orderstatus"] for r in rows]
    assert [r["i"] for r in rows] == list(range(len(rows)))


def test_compound_keys_dash_joined(orders):
    p = orders.group_by("o_orderstatus", "o_orderpriority").reduce("count")
    k = p.create_column("k", p.keys_col()).df.first()
    assert k["k"] == f"{k['o_orderstatus']}-{k['o_orderpriority']}"


def test_dense_rows_and_columns(spark):
    df = spark.createDataFrame(
        [(1, None, "a"), (2, 2.0, None), (3, 3.0, "c")],
        schema="id int, x double, s string",
    )
    p = Pipeline(df)
    assert p.dense_rows().df.count() == 1
    assert p.dense_columns().columns == ["id"]
    assert set(p.dense_columns(max_null_fraction=0.5).columns) == {"id", "x", "s"}


def test_numeric_columns(orders):
    out = orders.numeric_columns()
    assert "o_orderstatus" not in out.columns
    assert "o_totalprice" in out.columns


def test_expression_language(spark):
    df = spark.createDataFrame(
        [("Iteration 12 extra", "Completed"), ("Sprint 3", "InProgress"), ("Sprint 4", "Proposed")],
        schema="name string, cat string",
    )
    p = (
        Pipeline(df)
        .create_column(
            "n", E.int_cast(E.regex("name", r".*?(\d+).*", ["$1"]))
        )
        .create_column(
            "state",
            E.iff(
                E.contains("cat", ["Completed", "Resolved", "Remove"]),
                "Done",
                E.iff(F.col("cat") == "InProgress", "Doing", "Todo"),
            ),
        )
    )
    rows = {r["name"]: (r["n"], r["state"]) for r in p.df.collect()}
    assert rows["Iteration 12 extra"] == (12, "Done")
    assert rows["Sprint 3"] == (3, "Doing")
    assert rows["Sprint 4"] == (4, "Todo")


def test_format_date(spark):
    df = spark.createDataFrame([("2020-11-19 07:41:51",)], schema="ts string")
    p = Pipeline(df).create_column("ts2", F.to_timestamp("ts"))
    out = p.df.select(
        E.format_date("ts2", "year").alias("y"),
        E.format_date("ts2", "month").alias("m"),
        E.format_date("ts2", "day").alias("d"),
        E.format_date("ts2", "week").alias("w"),
        E.format_date("ts2", "date").cast("string").alias("dt"),
    ).first()
    assert (out["y"], out["m"], out["d"], out["w"], out["dt"]) == (2020, 11, 19, 47, "2020-11-19")


def test_missing_semantics(spark):
    df = spark.createDataFrame([(1.0,), (None,), (3.0,)], schema="x double")
    p = Pipeline(df)
    assert p.only(E.isnt_missing("x")).df.count() == 2
    assert p.only(E.is_missing("x")).df.count() == 1


def test_write_partitioned_clusters_files(spark, sf_dir, tmp_path):
    """Partitioned sink: each Hive partition written by few tasks (no
    small-files explosion), row cap respected, roundtrip lossless."""
    import glob

    from pyspark.sql import functions as F

    from hobbes_spark.sources.sinks import write_partitioned

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "etype", F.col("event_type")
    )
    out = str(tmp_path / "out")
    write_partitioned(ev, out, partition_cols=["etype"],
                      max_records_per_file=5000, sort_within=("user_id",))
    dirs = glob.glob(out + "/etype=*")
    files = glob.glob(out + "/etype=*/*.parquet")
    assert len(dirs) >= 2
    # clustered write: file count ~ partitions, not partitions x tasks
    assert len(files) <= len(dirs) * 2
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # sort_within survives the dynamic-partition writer's own sort
    import pyarrow.parquet as pq

    for f in files:
        uids = pq.read_table(f, columns=["user_id"]).column("user_id").to_pylist()
        assert all(a <= b for a, b in zip(uids, uids[1:])), f


def test_approx_median_close_to_exact(spark, sf_dir):
    """approx_median (the 100 TB path) tracks exact median closely on
    real data."""
    from pyspark.sql import functions as F

    from hobbes_spark.pipeline import Pipeline

    li = Pipeline.table(spark, sf_dir, "lineitem").slice_columns(
        "l_returnflag", "l_extendedprice"
    )
    exact = {r["l_returnflag"]: r["l_extendedprice"]
             for r in li.group_by("l_returnflag").reduce("median").collect()}
    approx = {r["l_returnflag"]: r["l_extendedprice"]
              for r in li.group_by("l_returnflag").reduce("median", approx_median=True).collect()}
    assert exact.keys() == approx.keys()
    for k in exact:
        assert abs(exact[k] - approx[k]) / exact[k] < 0.01


def test_write_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Two tables bucketed identically on the join key must sort-merge
    join with NO exchange on either side — the 100 TB co-location lever."""
    from hobbes_spark.sources.sinks import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", ("o_orderkey",), num_buckets=8,
                   sort_cols=("o_orderkey",))
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "b_lineitem", ("o_orderkey",), num_buckets=8,
                   sort_cols=("o_orderkey",))
    try:
        a, b = spark.table("b_orders"), spark.table("b_lineitem")
        # disable broadcast so the join strategy is the bucketed sort-merge
        with_conf = spark.conf
        old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join must not shuffle"
            assert joined.count() == li.count()
        finally:
            with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_write_bucketed_validation(spark):
    from hobbes_spark.sources.sinks import write_bucketed

    df = spark.range(3)
    with pytest.raises(ValueError, match="bucket_cols"):
        write_bucketed(df, "t", ())
    with pytest.raises(ValueError, match="num_buckets"):
        write_bucketed(df, "t", ("id",), num_buckets=0)


def test_approx_distinct_close_to_exact(spark, sf_dir):
    """approx_distinct (the 100 TB path: HLL sketch, map-side combinable)
    tracks exact distinct within its rsd on real data."""
    from hobbes_spark.pipeline import Pipeline

    li = Pipeline.table(spark, sf_dir, "lineitem").slice_columns(
        "l_returnflag", "l_partkey"
    )
    exact = {r["l_returnflag"]: r["l_partkey"]
             for r in li.group_by("l_returnflag").reduce("distinct").collect()}
    approx = {r["l_returnflag"]: r["l_partkey"]
              for r in li.group_by("l_returnflag")
              .reduce("distinct", approx_distinct=True).collect()}
    assert exact.keys() == approx.keys()
    for k in exact:
        assert abs(exact[k] - approx[k]) / exact[k] < 0.06  # 3x the 2% rsd


def test_setops_align_columns_and_distinct_cache_keys(spark, sf_dir):
    from hobbes_spark.pipeline import Pipeline

    a = Pipeline.table(spark, sf_dir, "orders").slice_columns("o_custkey", "o_orderkey")
    b_rev = Pipeline.table(spark, sf_dir, "orders").slice_columns("o_orderkey", "o_custkey")
    # reordered columns intersect by NAME, not position
    assert a.intersect_rows(b_rev).df.count() == a.df.distinct().count()
    with pytest.raises(ValueError, match="column sets differ"):
        a.intersect_rows(Pipeline.table(spark, sf_dir, "orders").slice_columns("o_custkey"))


def test_connected_components_rejects_bad_iterations(spark):
    from hobbes_spark.functions.dedup import connected_components

    edges = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    with pytest.raises(ValueError, match="max_iterations"):
        connected_components(edges, max_iterations=0)


class TestZorderLayout:
    def test_zorder_concentrates_multicolumn_matches(self, spark, sf_dir, tmp_path):
        """Rows matching a two-column range predicate must land in a
        small fraction of the files (the curve's locality guarantee —
        this is what lets parquet row-group stats skip the rest), and
        the layout must not change the data."""
        from hobbes_spark.pipeline import Pipeline
        from hobbes_spark.sources.sinks import write_zordered

        ev = Pipeline.table(spark, sf_dir, "events").df
        zdir, pdir = str(tmp_path / "z"), str(tmp_path / "p")
        write_zordered(ev, zdir, ["user_id", "value"], bits=8, n_files=16)
        ev.repartition(16).write.parquet(pdir)  # random-layout baseline

        zr, pr = spark.read.parquet(zdir), spark.read.parquet(pdir)
        assert zr.count() == ev.count()
        pred = (F.col("user_id").between(10, 30)) & (F.col("value") < 50)
        files = lambda df: (
            df.filter(pred).select(F.input_file_name().alias("f")).distinct().count()
        )
        z_files, p_files = files(zr), files(pr)
        assert z_files <= p_files / 2, (z_files, p_files)
        got = sorted(r.event_id for r in zr.filter(pred).collect())
        exp = sorted(r.event_id for r in ev.filter(pred).collect())
        assert got == exp

    def test_zorder_rejects_string_cols_and_needs_cols(self, spark, sf_dir, tmp_path):
        import pytest as _pytest

        from hobbes_spark.pipeline import Pipeline
        from hobbes_spark.sources.sinks import write_zordered

        ev = Pipeline.table(spark, sf_dir, "events").df
        with _pytest.raises(ValueError):
            write_zordered(ev, str(tmp_path / "x"), ["event_type"])
        with _pytest.raises(ValueError):
            write_zordered(ev, str(tmp_path / "y"), [])

    def test_zorder_constant_and_null_buckets(self, spark, tmp_path):
        from hobbes_spark.sources.sinks import write_zordered

        df = spark.createDataFrame(
            [(1, 5.0), (2, None), (3, 5.0)], "a bigint, b double"
        ).withColumn("c", F.lit(7))
        write_zordered(df, str(tmp_path / "z"), ["b", "c"], bits=4, n_files=2)
        back = spark.read.parquet(str(tmp_path / "z"))
        assert back.count() == 3  # NULLs and constant columns survive

    def test_zorder_value_negative_ids_well_defined(self, spark):
        """Spark's % is sign-preserving, so the naive bit extraction
        emitted -1/0 'bits' for negative ids; zorder_value now pmods ids
        into [0, 2^bits) — a negative id interleaves exactly like its
        pmod image, and z-values stay within the non-negative range."""
        from hobbes_spark.sources.sinks import zorder_value

        df = spark.createDataFrame(
            [(-3, 2), (-3 + 16, 2), (5, -1), (5, -1 + 16)], "a int, b int"
        )
        z = df.select(
            zorder_value([F.col("a"), F.col("b")], bits=4).alias("z")
        ).collect()
        vals = [r.z for r in z]
        assert all(v is not None and 0 <= v < 2**8 for v in vals)
        assert vals[0] == vals[1] and vals[2] == vals[3]  # pmod congruence


def test_unpivot_is_map_only_expand(spark, sf_dir):
    """Melt round-trip: pivot then unpivot restores long form, and the
    unpivot plan is an Expand with no shuffle."""
    from hobbes_spark.pipeline import Pipeline

    p = Pipeline.table(spark, sf_dir, "lineitem").slice_columns(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_tax"
    )
    m = p.unpivot(["l_orderkey", "l_linenumber"], ["l_extendedprice", "l_tax"],
                  var_name="comp", value_name="amt")
    assert m.df.columns == ["l_orderkey", "l_linenumber", "comp", "amt"]
    assert m.df.count() == 2 * p.df.count()
    plan = m.df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "Exchange" not in plan
    # values faithful: spot-check a key that occurs exactly once (the
    # driver's synthetic lineitem has duplicate (orderkey, linenumber))
    from pyspark.sql import functions as F

    uniq = (p.df.groupBy("l_orderkey", "l_linenumber")
            .agg(F.count(F.lit(1)).alias("c"),
                 F.first("l_extendedprice").alias("ep"),
                 F.first("l_tax").alias("tx"))
            .filter("c = 1").limit(1).collect()[0])
    got = {r["comp"]: r["amt"] for r in m.df.filter(
        (m.df.l_orderkey == uniq["l_orderkey"])
        & (m.df.l_linenumber == uniq["l_linenumber"])).collect()}
    assert got == {"l_extendedprice": uniq["ep"], "l_tax": uniq["tx"]}


# --------------------------------------------------------------------- #
# Review-hardening regressions (round 4)
# --------------------------------------------------------------------- #


def test_only_accepts_plain_bools(spark):
    p = Pipeline(spark.range(5).toDF("x"))
    assert p.only(True).df.count() == 5
    assert p.only(False).df.count() == 0  # not a PySparkTypeError


def test_rename_onto_existing_column_raises(spark):
    p = Pipeline(spark.createDataFrame([(1, 2)], ["a", "b"]))
    with pytest.raises(ValueError, match="already exists"):
        p.rename_column("a", "b")
    # renaming to itself and to a fresh name both stay legal
    assert p.rename_column("a", "a").columns == ["a", "b"]
    assert p.rename_column("a", "z").columns == ["z", "b"]


def test_pivot_counts_rows_in_null_keyed_groups(spark):
    df = spark.createDataFrame(
        [(None, "F"), (None, "F"), ("x", "O")], ["k", "s"]
    )
    out = Pipeline(df).pivot(["k"], "s", "count", col_values=["F", "O"]).df
    rows = {r["k"]: (r["F"], r["O"]) for r in out.collect()}
    # the NULL-keyed group has 2 real rows — count must say 2, not 0
    assert rows[None] == (2, 0)
    assert rows["x"] == (0, 1)


def test_pivot_on_dot_named_column(spark):
    """Flattened dot-path names are real flat columns; pivot must quote
    them instead of letting GroupedData.pivot do struct dot-resolution."""
    df = spark.createDataFrame(
        [(1, "Done"), (1, "Todo"), (2, "Done")], ["Sprint", "Iteration.State"]
    )
    out = (
        Pipeline(df)
        .pivot(["Sprint"], "Iteration.State", "count", col_values=["Done", "Todo"])
        .df
    )
    rows = {r["Sprint"]: (r["Done"], r["Todo"]) for r in out.collect()}
    assert rows == {1: (1, 1), 2: (1, 0)}


def test_moving_and_expanding_distinct_compile_and_count(spark):
    """`moving distinct n col` is grammar-legal; the window spelling is
    size(collect_set) because DISTINCT aggregates are window-illegal."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([1, 1, 2, 2, 3, 1])], ["i", "v"]
    )
    p = Pipeline(df).sort_by("i")
    got = [
        (r["m"], r["e"])
        for r in p.moving("m", "distinct", 3, "v")
        .expanding("e", "distinct", "v")
        .df.orderBy("i")
        .collect()
    ]
    assert got == [
        (None, 1), (None, 1), (2, 2), (2, 2), (2, 3), (3, 3),
    ]


def test_contains_single_string_is_one_value(spark):
    from hobbes_spark.expressions import contains

    df = spark.createDataFrame([("Done",), ("D",), ("o",)], ["s"])
    assert df.filter(contains("s", "Done")).count() == 1  # not per-char
    assert df.filter(contains("s", ["Done", "o"])).count() == 2


def test_nanos_sniff_handles_tz_aware_and_partitioned(tmp_path, spark):
    """tz-aware nanos ('timestamp[ns, tz=UTC]') and one-level partition
    dirs both reach the footer sniff, so the nanosAsLong escape hatch
    fires where it used to miss."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hobbes_spark.pipeline import _nanos_ts_cols

    ts = pd.Series(pd.to_datetime(["2021-01-01 12:00:00"]).tz_localize("UTC"))
    tbl = pa.table({"t": pa.Array.from_pandas(ts, type=pa.timestamp("ns", tz="UTC"))})
    flat = tmp_path / "flat.parquet"
    pq.write_table(tbl, flat)
    assert _nanos_ts_cols(str(flat)) == ["t"]

    part = tmp_path / "part"
    (part / "k=1").mkdir(parents=True)
    pq.write_table(tbl, part / "k=1" / "part0.parquet")
    assert _nanos_ts_cols(str(part)) == ["t"]

    # the first read infers, the second reuses the schema: both must
    # still carry the micros fix-up (the partition column rides along)
    for path in (flat, part):
        first = read_parquet_any_ts(spark, str(path))
        warm = read_parquet_any_ts(spark, str(path))
        assert warm.schema == first.schema
        assert dict(warm.dtypes)["t"].startswith("timestamp")
        assert warm.collect() == first.collect()
        assert warm.count() == 1


def _write(spark, path, cols):
    spark.createDataFrame([tuple(range(len(cols)))], cols).write.mode(
        "overwrite"
    ).parquet(str(path))


def test_schema_cache_warm_read_equals_first_read(spark, sf_dir, tmp_path, spark_jobs):
    """The warm read hands Spark the remembered schema and launches no
    job, yet yields the same schema and the same plan (equal
    ``semanticHash``) as the cold read, so the remembered schema changes
    nothing downstream of the scan."""
    path = str(tmp_path / "t")
    _write(spark, path, ["a", "b"])
    first, cold_jobs, _ = spark_jobs(lambda: read_parquet_any_ts(spark, path))
    warm, warm_jobs, _ = spark_jobs(lambda: read_parquet_any_ts(spark, path))
    assert (cold_jobs, warm_jobs) == (1, 0)
    assert warm.schema == first.schema
    assert warm.semanticHash() == first.semanticHash()
    assert warm.collect() == first.collect()

    Pipeline.table(spark, sf_dir, "orders")
    table, jobs, _ = spark_jobs(lambda: Pipeline.table(spark, sf_dir, "orders"))
    assert jobs == 0 and table.df.count() > 0


def test_schema_cache_never_serves_a_stale_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    spark_dir = str(tmp_path / "dir")
    _write(spark, spark_dir, ["a", "b"])
    assert read_parquet_any_ts(spark, spark_dir).columns == ["a", "b"]
    _write(spark, spark_dir, ["x", "y", "z"])
    assert read_parquet_any_ts(spark, spark_dir).columns == ["x", "y", "z"]

    flat = str(tmp_path / "flat.parquet")
    pq.write_table(pa.table({"a": [1]}), flat)
    assert read_parquet_any_ts(spark, flat).columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": ["two"]}), flat)
    df = read_parquet_any_ts(spark, flat)
    assert df.columns == ["a", "b"] and df.collect()[0]["b"] == "two"


def test_schema_cache_is_per_session(spark, tmp_path, spark_jobs):
    """A slot filled by another application is re-resolved, not reused:
    another session may infer differently."""
    from pyspark.sql.types import LongType, StructField, StructType

    from hobbes_spark.pipeline import _SCHEMA_CACHE

    path = str(tmp_path / "t")
    _write(spark, path, ["a", "b"])
    want = read_parquet_any_ts(spark, path).schema
    _, sig, nanos, _ = _SCHEMA_CACHE[path]
    bogus = StructType([StructField("zz", LongType())])
    _SCHEMA_CACHE[path] = ("another-application", sig, nanos, bogus)
    df, jobs, _ = spark_jobs(lambda: read_parquet_any_ts(spark, path))
    assert df.schema == want and jobs == 1
    assert _SCHEMA_CACHE[path][0] == spark.sparkContext.applicationId


def test_schema_cache_concurrent_readers_agree(spark, tmp_path):
    """Eight threads (more than the test cores) race the cold read of one
    path, with a short switch interval so they interleave inside it."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from hobbes_spark.pipeline import _SCHEMA_CACHE

    path = str(tmp_path / "t")
    _write(spark, path, ["a", "b", "c"])
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(lambda: read_parquet_any_ts(spark, path).schema)
                for _ in range(8)
            ]
            schemas = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert [f.name for f in schemas[0]] == ["a", "b", "c"]
    assert schemas == [schemas[0]] * 8
    app, _, _, cached = _SCHEMA_CACHE[path]
    assert (app, cached) == (spark.sparkContext.applicationId, schemas[0])


def test_winsorize_keeps_null_keyed_groups(spark):
    from hobbes_spark.functions.profile import winsorize

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 100.0), (None, 5.0), (None, 50.0)],
        "k string, v double",
    )
    out = winsorize(df, ["k"], "v", lo=0.0, hi=1.0).collect()
    # the NULL-key group must survive the bounds join (4 rows in, 4 out)
    assert len(out) == 4
    assert sum(1 for r in out if r["k"] is None) == 2


def test_profile_columns_dot_path_names(spark):
    from hobbes_spark.functions.profile import profile_columns

    df = spark.createDataFrame([(1, "x"), (2, None)], ["id", "a.b"])
    rows = {r["col_name"]: r["n_nulls"] for r in profile_columns(df).collect()}
    assert rows["a.b"] == 1


def test_stage_parquet_once_restages_a_foreign_dump(spark, tmp_path):
    """The dump is skipped only while its ``os.stat`` listing is the one
    this process wrote: overwritten or deleted from outside, it is
    staged again, so the oracle never replays foreign bytes."""
    import shutil

    from hobbes_spark.sources.sinks import stage_parquet_once

    path = str(tmp_path / "dump")
    df = spark.createDataFrame([(1,), (2,)], "a int")
    stage_parquet_once(df, path, key="k")
    spark.createDataFrame([(9,)], "a int").write.mode("overwrite").parquet(path)
    stage_parquet_once(df, path, key="k")
    assert sorted(r["a"] for r in spark.read.parquet(path).collect()) == [1, 2]
    shutil.rmtree(path)
    stage_parquet_once(df, path, key="k")
    assert sorted(r["a"] for r in spark.read.parquet(path).collect()) == [1, 2]


def test_roundtrip_parquet_reads_back_with_the_written_schema(
    spark, tmp_path, spark_jobs
):
    """The dump's read-back reuses ``df.schema``: the roundtrip runs the
    jobs of the write alone (no schema-inference job), and reads back
    the written rows."""
    from hobbes_spark.sources.sinks import roundtrip_parquet

    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, None, None), (3, "c", [])],
        "id bigint, s string, v array<double>",
    )
    _, write_jobs, _ = spark_jobs(
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "plain"))
    )
    back, jobs, _ = spark_jobs(lambda: roundtrip_parquet(df, str(tmp_path / "dump")))
    assert jobs == write_jobs
    assert back.schema == df.schema
    assert sorted(back.collect()) == sorted(df.collect())


def test_data_result_encodes_nested_and_decimal(spark):
    import json as _json

    from hobbes_spark.sources.sinks import to_data_result_json

    day = __import__("datetime").date(2020, 1, 2)
    df = spark.createDataFrame(
        [(1, [day], __import__("decimal").Decimal("1.50"), b"\x01\x02",
          (day, 5), [(day, 6)])],
        "id bigint, ds array<date>, d decimal(10,2), b binary, "
        "s struct<d:date,n:int>, xs array<struct<d:date,n:int>>",
    )
    out = _json.loads(to_data_result_json(df))
    row = out["values"][0]
    # a struct cell is an object, not a positional list
    assert row == [
        1, ["2020-01-02"], 1.5, "0102",
        {"d": "2020-01-02", "n": 5}, [{"d": "2020-01-02", "n": 6}],
    ]
