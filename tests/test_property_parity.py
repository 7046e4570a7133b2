"""Property-based oracle parity: random small tables (with NULLs and
duplicates) through Pipeline operators vs DuckDB SQL.

The reference has no property tests (SURVEY §5); this layer hunts the
edge semantics fixed fixtures miss — all-NULL groups, single-row
stddev/variance, even-count medians, empty filter results, NULL
comparison propagation.

Each example costs a Spark round-trip, so example counts are small but
the generators bias toward the nasty cases (NULL-heavy columns, tiny
groups).
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from hobbes_spark.pipeline import Pipeline

KEYS = ["x", "y", "z"]

cell_int = st.one_of(st.none(), st.integers(-5, 5))
cell_float = st.one_of(
    st.none(), st.floats(-100, 100, allow_nan=False, width=32).map(lambda v: round(v, 3))
)
row = st.tuples(st.sampled_from(KEYS), cell_int, cell_float)
tables = st.lists(row, min_size=1, max_size=25)


def _frames(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "a", "b"])
    pdf["a"] = pdf["a"].astype("Int64")
    sdf = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                                "k string, a bigint, b double")
    con = duckdb.connect()
    con.register("t", pdf)
    return sdf, con


def _close(x, y, tol=1e-6):
    if x is None and y is None:
        return True
    if x is None or y is None:
        return False
    if isinstance(x, float) and math.isnan(x):
        return isinstance(y, float) and math.isnan(y)
    return abs(float(x) - float(y)) <= tol * max(1.0, abs(float(x)))


SQL_RED = {
    "sum": "SUM({c})",
    "mean": "AVG({c})",
    "min": "MIN({c})",
    "max": "MAX({c})",
    "count": "COUNT({c})",
    "distinct": "COUNT(DISTINCT {c})",
    "median": "MEDIAN({c})",
    "stddev": "STDDEV_SAMP({c})",
    "variance": "VAR_SAMP({c})",
}


@pytest.mark.parametrize("red", sorted(SQL_RED))
@given(rows=tables)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_group_reduce_matches_duckdb(spark, red, rows):
    sdf, con = _frames(spark, rows)
    got = {
        r["k"]: (r["a"], r["b"])
        for r in Pipeline(sdf).group_by("k").reduce(red).collect()
    }
    agg_a = SQL_RED[red].format(c="a")
    agg_b = SQL_RED[red].format(c="b")
    want = {
        k: (a, b)
        for k, a, b in con.execute(
            f"SELECT k, {agg_a}, {agg_b} FROM t GROUP BY k"
        ).fetchall()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert _close(got[k][0], want[k][0]), (red, k, got[k], want[k])
        assert _close(got[k][1], want[k][1]), (red, k, got[k], want[k])


@given(rows=tables, lo=st.integers(-5, 5))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_filter_null_semantics(spark, rows, lo):
    """`only (a > lo)` drops NULLs (SQL three-valued logic on both sides)."""
    from pyspark.sql import functions as F

    sdf, con = _frames(spark, rows)
    got = Pipeline(sdf).only(F.col("a") > lo).df.count()
    want = con.execute(f"SELECT COUNT(*) FROM t WHERE a > {lo}").fetchone()[0]
    assert got == want


@given(rows=tables)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dense_rows_matches(spark, rows):
    sdf, con = _frames(spark, rows)
    got = Pipeline(sdf).dense_rows().df.count()
    want = con.execute(
        "SELECT COUNT(*) FROM t WHERE k IS NOT NULL AND a IS NOT NULL AND b IS NOT NULL"
    ).fetchone()[0]
    assert got == want


@given(rows=tables, n=st.integers(1, 5))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_moving_mean_matches(spark, rows, n):
    """moving mean over a deterministic order: NULL until the window has
    n rows, NULLs inside the window ignored (both engines' AVG)."""
    sdf, con = _frames(spark, rows)
    # deterministic order: add a row id on both sides
    pdf = pd.DataFrame(rows, columns=["k", "a", "b"])
    pdf["rid"] = range(len(pdf))
    sdf = spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        "k string, a bigint, b double, rid bigint",
    )
    got = [
        r["m"]
        for r in Pipeline(sdf)
        .sort_by("rid")
        .moving("m", "mean", n, "b")
        .df.orderBy("rid")
        .collect()
    ]
    con2 = duckdb.connect(); con2.register("t2", pdf)
    want = [
        r[0]
        for r in con2.execute(
            f"""SELECT CASE WHEN ROW_NUMBER() OVER (ORDER BY rid) >= {n}
                       THEN AVG(b) OVER (ORDER BY rid ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW)
                       END
                FROM t2 ORDER BY rid"""
        ).fetchall()
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert _close(g, w), (n, got, want)


@given(rows=tables)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pivot_count_matches(spark, rows):
    sdf, con = _frames(spark, rows)
    out = Pipeline(sdf).create_column("one", 1).pivot(["k"], "k", "count", "one").df
    got = {r["k"]: sum(v for c, v in r.asDict().items() if c != "k" and v is not None)
           for r in out.collect()}
    want = dict(con.execute("SELECT k, COUNT(*) FROM t GROUP BY k").fetchall())
    assert got == want


# --------------------------------------------------------------------- #
# Bloom joins: for ANY key universe (unicode, empty strings, NULLs,
# duplicates), results must equal the plain semi/anti joins and the
# filter must never produce a false negative.
# --------------------------------------------------------------------- #

keys_strat = st.lists(
    st.one_of(st.none(), st.text(max_size=8)), min_size=0, max_size=30
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left_keys=keys_strat, right_keys=keys_strat)
def test_bloom_joins_equal_plain_joins(spark, left_keys, right_keys):
    from hobbes_spark.operators.bloom import bloom_anti_join, bloom_semi_join

    ldf = spark.createDataFrame(
        [(k, i) for i, k in enumerate(left_keys)] or [(None, -1)],
        "k string, i bigint",
    )
    rdf = spark.createDataFrame(
        [(k,) for k in right_keys] or [(None,)], "k string"
    )
    key = lambda t: (t[0] is None, t[0] or "", t[1])  # NULL keys sortable
    semi_exp = sorted(
        ((r.k, r.i) for r in ldf.join(rdf, "k", "left_semi").collect()), key=key
    )
    anti_exp = sorted(
        ((r.k, r.i) for r in ldf.join(rdf, "k", "left_anti").collect()), key=key
    )
    semi_got = sorted(
        ((r.k, r.i) for r in bloom_semi_join(ldf, rdf, "k", 1 << 12, 3).collect()),
        key=key,
    )
    anti_got = sorted(
        ((r.k, r.i) for r in bloom_anti_join(ldf, rdf, "k", 1 << 12, 3).collect()),
        key=key,
    )
    assert semi_got == semi_exp
    assert anti_got == anti_exp


# --------------------------------------------------------------------- #
# Z-order (Morton) code: decodable — every coordinate's bits are
# recoverable from the interleave, so curve ordering is well-defined.
# --------------------------------------------------------------------- #

@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)), min_size=1, max_size=20
    )
)
def test_zorder_value_round_trips(spark, pairs):
    from pyspark.sql import functions as F

    from hobbes_spark.sources.sinks import zorder_value

    df = spark.createDataFrame(pairs, "a bigint, b bigint")
    out = df.withColumn("z", zorder_value([F.col("a"), F.col("b")], bits=8)).collect()

    def decode(z):
        a = b = 0
        for i in range(8):
            a |= ((z >> (2 * i)) & 1) << i
            b |= ((z >> (2 * i + 1)) & 1) << i
        return a, b

    for r in out:
        assert decode(r.z) == (r.a, r.b)


# ---------------------------------------------------------------------- #
# As-of / range joins vs brute-force oracles: random key/time tables
# (duplicate timestamps across users, empty match sets) against a plain
# Python reimplementation of the spec.
# ---------------------------------------------------------------------- #

_uid = st.integers(1, 3)
_ts = st.integers(0, 20)
left_events = st.lists(st.tuples(_uid, _ts), min_size=1, max_size=12)
right_events = st.lists(
    st.tuples(_uid, _ts, st.integers(-100, 100)), min_size=0, max_size=12
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(lrows=left_events, rrows=right_events)
def test_asof_join_matches_bruteforce(spark, lrows, rrows):
    from hobbes_spark.operators.asof import asof_join

    # unique (uid, ts) on the right: tie order between duplicate right
    # rows at the same instant is unspecified, everything else is law
    rmap = {(u, t): v for u, t, v in rrows}
    rrows = [(u, t, float(v)) for (u, t), v in sorted(rmap.items())]
    lrows = [(i, u, t) for i, (u, t) in enumerate(lrows)]
    L = spark.createDataFrame(lrows, "lid bigint, uid bigint, t bigint")
    R = spark.createDataFrame(rrows, "uid bigint, t bigint, v double")

    for direction in ("backward", "forward"):
        got = {
            r["lid"]: (r["r_t"], r["r_v"])
            for r in asof_join(L, R, on="t", by=["uid"],
                               direction=direction).collect()
        }
        for lid, u, t in lrows:
            if direction == "backward":
                cand = [(rt, v) for (ru, rt), v in rmap.items()
                        if ru == u and rt <= t]
                want = max(cand) if cand else None
            else:
                cand = [(rt, v) for (ru, rt), v in rmap.items()
                        if ru == u and rt >= t]
                want = min(cand) if cand else None
            if want is None:
                assert got[lid] == (None, None), (direction, lid)
            else:
                assert got[lid] == (want[0], float(want[1])), (direction, lid)


points = st.lists(st.tuples(st.integers(0, 30)), min_size=1, max_size=10)
bands = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 15)), min_size=0, max_size=8
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ps=points, bs=bands, bin_width=st.sampled_from([1.0, 3.0, 50.0]))
def test_range_join_matches_bruteforce(spark, ps, bs, bin_width):
    from hobbes_spark.operators.asof import range_join

    prows = [(i, float(x)) for i, (x,) in enumerate(ps)]
    brows = [(j, float(lo), float(lo + w)) for j, (lo, w) in enumerate(bs)]
    P = spark.createDataFrame(prows, "pid bigint, x double")
    B = spark.createDataFrame(brows, "bid bigint, lo double, hi double")
    got = sorted(
        (r["pid"], r["bid"])
        for r in range_join(P, B, "x", "lo", "hi", bin_width=bin_width).collect()
    )
    want = sorted(
        (pid, bid)
        for pid, x in prows
        for bid, lo, hi in brows
        if lo <= x <= hi
    )
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.integers(-50, 50),
        ),
        min_size=1, max_size=40,
    ),
    shards=st.sampled_from([2, 3, 5]),
)
def test_prefix_sum_sharded_equals_single_window(spark, rows, shards):
    """functions/prefix.prefix_sum: the range-blocked two-pass scan must
    equal the single-window plan for any data — NULL group keys,
    negative values, group sizes from 0 to everything. Order keys are
    made unique (the scan's contract: a total order), values vary."""
    from hobbes_spark.functions.prefix import prefix_sum

    data = [(g, i, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, o bigint, v bigint").repartition(4)
    a = prefix_sum(df, ["g"], ["o"], "v", "run", shards)
    b = prefix_sum(df, ["g"], ["o"], "v", "run", 1)
    snap = lambda d: sorted(
        (r["g"] or "\x00", r["o"], r["run"]) for r in d.collect()
    )
    assert snap(a) == snap(b)


# --------------------------------------------------------------------- #
# URL canonicalization properties (round 8): idempotence and variant
# collapse. Idempotence is the contract that makes canonical URLs safe
# as DEDUP KEYS — if canonical(canonical(u)) could differ from
# canonical(u), re-canonicalizing an already-clean corpus would split
# previously-merged duplicates.
# --------------------------------------------------------------------- #

_url_scheme = st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"])
_url_host = st.builds(
    lambda a, b: f"{a}.{b}.Example.COM",
    st.sampled_from(["www", "API", "cdn1"]),
    st.sampled_from(["Site", "shop", "Docs"]),
)
_url_port = st.sampled_from(["", ":80", ":443", ":8080"])
_url_path = st.sampled_from(["", "/", "/A/b", "/Case%2FSens", "/p/q/r"])
_url_params = st.lists(
    st.sampled_from(["a=1", "b=2", "Z=9", "utm_source=x", "fbclid=f",
                     "gclid=g", "q=hello+world"]),
    min_size=0, max_size=5,
)
_url_frag = st.sampled_from(["", "#top", "#Sec-2"])


@pytest.mark.parametrize("dummy", [0])
@given(
    scheme=_url_scheme, host=_url_host, port=_url_port, path=_url_path,
    params=_url_params, frag=_url_frag,
)
@settings(
    max_examples=30, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_canonical_url_idempotent(spark, dummy, scheme, host, port, path,
                                  params, frag):
    from hobbes_spark.functions.web import canonical_url

    q = ("?" + "&".join(params)) if params else ""
    url = f"{scheme}://{host}{port}{path}{q}{frag}"
    df = spark.createDataFrame([(url,)], "url string")
    once = df.select(canonical_url("url").alias("c")).first()["c"]
    assert once is not None
    twice = (
        spark.createDataFrame([(once,)], "url string")
        .select(canonical_url("url").alias("c"))
        .first()["c"]
    )
    assert twice == once, (url, once, twice)
    # variant collapse: fragment and tracking params never survive
    assert "#" not in once and "utm_" not in once and "fbclid" not in once
    # host case never survives
    host_out = once.split("://")[1].split("/")[0]
    assert host_out == host_out.lower()
