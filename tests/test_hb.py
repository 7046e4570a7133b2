"""End-to-end tests for the ``.hb`` front-end: the reference's own 7 test
programs (`/root/reference/tests/transformations/*.hb`) parse, compile and
run against fixtures shaped like the OData feeds they were written for.

This is the reference's `.hb` corpus test strategy (SURVEY §5) applied to
the new engine. The tests that open the reference programs skip when that
checkout is absent. The same statement forms keep repo-owned end-to-end
coverage either way:

* the ``hb_*`` catalog queries (``hb_order_frequency``, ``hb_mttr``,
  ``hb_cycle_time``, ``hb_commit_frequency``, ``hb_gandalf_state``,
  ``hb_logic_state``, ``hb_velocity_pivot``, ``hb_bucket_trend``,
  ``hb_localdata_top``) run ``.hb`` text, and
  ``test_oracle_parity.py::test_query_matches_oracle`` checks each one
  against DuckDB;
* ``test_hb_fuzz.py`` covers ``expanding`` and markdown blocks.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from hobbes_spark.hb import compile_hb, parse_program, run_hb
from hobbes_spark.hb.parser import parse_statement, tokenize
from hobbes_spark.pipeline import Pipeline

HB_DIR = "/root/reference/tests/transformations"
HB_FILES = sorted(glob.glob(os.path.join(HB_DIR, "*.hb")))
needs_reference = pytest.mark.skipif(
    not os.path.exists(HB_DIR), reason="reference fixture absent"
)


# --------------------------------------------------------------------- #
# parser units
# --------------------------------------------------------------------- #

@needs_reference
def test_corpus_parses():
    assert len(HB_FILES) == 7
    for path in HB_FILES:
        prog = parse_program(open(path).read())
        assert prog.statements, path
        assert prog.properties.get("provider") in ("odata", "rest"), path


@needs_reference
def test_header_and_comments():
    prog = parse_program(open(os.path.join(HB_DIR, "Velocity.hb")).read())
    assert prog.properties["provider"] == "odata"
    assert prog.properties["meta"] == {"category": "workitems", "name": "flowerpot"}
    # markdown blocks are part of the language (MTTR.hb:11-16)
    assert any("Velocity" in c for c in prog.comments)


def test_statement_shapes():
    assert parse_statement("only (WorkItemType = 'User Story')")[0] == "only"
    assert parse_statement('group by "Sprint Name" WorkItemId -> maxby ChangedDate') == (
        "group_selector", ["Sprint Name", "WorkItemId"], "maxby", ("col", "ChangedDate"),
    )
    assert parse_statement('group by "SprintNumber" -> sum') == (
        "group_reduce", ["SprintNumber"], "sum",
    )
    assert parse_statement("pivot [SprintNumber] [State] -> count [SprintNumber]") == (
        "pivot", ("col", "SprintNumber"), ("col", "State"), "count", ("col", "SprintNumber"),
    )
    ast = parse_statement(
        'create column SprintNumber (int (regex ["Sprint Name"] /[Ss][Pp][Rr][Ii][Nn][Tt] [^\\\\d]*([\\\\d]+).*/ [$1]))'
    )
    assert ast[0] == "create" and ast[2][0] == "int"
    moving = parse_statement('create column Frequency (moving mean 30 ["count"])')
    assert moving[2] == ("moving", "mean", 30, ("col", "count"))
    assert parse_statement("only ((x) >= 2020)") == ("only", ("cmp", ">=", ("col", "x"), ("lit", 2020)))


def test_tokenizer_regex_literal_vs_division():
    toks = tokenize("create column LeadTimeDays (temp / tick)")
    assert ("op", "/") in toks
    toks = tokenize('create column S (int (regex ["Sprint Name"] /Sprint ([\\d]+)/ [$1]))')
    kinds = [k for k, _ in toks]
    assert "regexlit" in kinds


# --------------------------------------------------------------------- #
# fixtures shaped like the reference's feeds
# --------------------------------------------------------------------- #

def _revisions(spark, level2_style: str):
    """WorkItemRevisions-shaped rows: several revisions per work item,
    sprints 1..8, dotted iteration columns (flattened per SURVEY §1.4)."""
    fields = [
        ("WorkItemId", T.IntegerType()),
        ("WorkItemType", T.StringType()),
        ("State", T.StringType()),
        ("StateCategory", T.StringType()),
        ("ChangedDate", T.TimestampType()),
        ("CreatedDate", T.TimestampType()),
        ("ClosedDate", T.TimestampType()),
        ("RevisedDate", T.TimestampType()),
        ("Iteration.IterationName", T.StringType()),
        ("Iteration.IterationLevel2", T.StringType()),
        ("Iteration.IterationLevel3", T.StringType()),
        ("LeadTimeDays", T.DoubleType()),
        ("CycleTimeDays", T.DoubleType()),
        ("Title", T.StringType()),
    ]
    schema = T.StructType([T.StructField(n, t, True) for n, t in fields])
    states = [
        ("New", "Proposed"), ("Active", "InProgress"), ("Resolved", "Resolved"),
        ("Closed", "Completed"),
    ]
    base = dt.datetime(2020, 1, 1)
    rows = []
    for wid in range(1, 41):
        sprint = (wid % 8) + 1
        wtype = "User Story" if wid % 3 else "Bug"
        n_rev = (wid % 4) + 1
        for rev in range(n_rev):
            state, cat = states[min(rev, len(states) - 1)]
            ts = base + dt.timedelta(days=sprint * 14 + rev)
            lead = float(wid % 11) + rev if (wid + rev) % 5 else None
            level2 = f"Iteration {sprint}" if level2_style == "iteration" else f"Sprint {sprint}"
            rows.append(
                (wid, wtype, state, cat, ts, base, ts, ts,
                 f"Sprint {sprint}", level2, f"Sprint {sprint}",
                 lead, lead, f"Item {wid}")
            )
    return spark.createDataFrame(rows, schema)


def _commits(spark):
    schema = T.StructType([
        T.StructField("commitId", T.StringType()),
        T.StructField("committer.date", T.TimestampType()),
        T.StructField("committer.name", T.StringType()),
    ])
    base = dt.datetime(2019, 7, 10)
    rows = []
    for d in range(120):
        day = base + dt.timedelta(days=d)
        for k in range((d % 3) + 1):  # 1-3 commits/day
            rows.append((f"c{d}-{k}", day + dt.timedelta(hours=k), "dev"))
    return spark.createDataFrame(rows, schema)


def _run(path, source):
    return run_hb(open(path).read(), source)


# --------------------------------------------------------------------- #
# the corpus, end to end
# --------------------------------------------------------------------- #

@needs_reference
def test_flowerpot(spark):
    out = _run(os.path.join(HB_DIR, "flowerpot.hb"), _revisions(spark, "iteration"))
    rows = out.collect()
    assert rows
    cols = out.columns
    assert "Sprint Number" in cols and "State" in cols and "Sprint Name" in cols
    assert set(r["State"] for r in rows) <= {"Done", "Doing", "Todo"}
    # maxby kept exactly one revision per (iteration, work item)
    seen = set()
    for r in rows:
        key = (r["Sprint Name"], r["WorkItemId"])
        assert key not in seen
        seen.add(key)
    # regex+int extracted the sprint number from "Iteration N"
    assert all(1 <= r["Sprint Number"] <= 8 for r in rows)


@needs_reference
@pytest.mark.parametrize("name", ["gandalf.hb", "logic.hb"])
def test_gandalf_logic(spark, name):
    out = _run(os.path.join(HB_DIR, name), _revisions(spark, "iteration"))
    rows = out.collect()
    assert rows and "Sprint Number" in out.columns


@needs_reference
def test_velocity(spark):
    out = _run(os.path.join(HB_DIR, "Velocity.hb"), _revisions(spark, "iteration"))
    rows = out.collect()
    assert out.columns == ["Velocity 3", "Velocity 7"]
    assert len(rows) == 8  # one per sprint (pivot on SprintNumber)
    assert any(r["Velocity 3"] is not None for r in rows)


@needs_reference
def test_mttr(spark):
    out = _run(os.path.join(HB_DIR, "MTTR.hb"), _revisions(spark, "sprint"))
    rows = out.collect()
    assert out.columns == [
        "Mean time to recover 5", "Mean time to recover 11",
        "Mean bugs resolved pr sprint",
    ]
    # `only !(x = missing)` after moving mean 11 over 8 sprints → empty,
    # matching the reference semantics (NULL until window full)
    assert all(r["Mean time to recover 11"] is not None for r in rows)


@needs_reference
def test_logic_cycle_time(spark):
    out = _run(os.path.join(HB_DIR, "LogicCycleTime.hb"), _revisions(spark, "sprint"))
    rows = out.collect()
    assert rows
    assert {"SprintNumber", "temp", "tick"} <= set(out.columns)
    # group by -> sum dropped the non-numeric "Sprint Name"
    assert "Sprint Name" not in out.columns


@needs_reference
def test_commit_frequency(spark):
    out = _run(os.path.join(HB_DIR, "Logic Commit Frequency.hb"), _commits(spark))
    rows = out.collect()
    assert out.columns == ["Frequency", "Frequency long"]
    # 120 days, moving mean 30 non-null from day 30 on; filter keeps those
    assert len(rows) == 120 - 30 + 1
    assert all(r["Frequency"] is not None for r in rows)
    # 90-day line fills in for the last 31 rows
    assert sum(r["Frequency long"] is not None for r in rows) == 120 - 90 + 1


def test_keys_and_index(spark):
    """`create column SprintNumber keys` (MTTR.hb:28) renders the group key;
    compound keys render dash-joined (Reader.fs:203)."""
    df = spark.createDataFrame(
        [Row(a="x", b=1, v=2.0), Row(a="x", b=2, v=3.0), Row(a="y", b=1, v=4.0)]
    )
    pl = Pipeline(df).group_by("a", "b").reduce("sum")
    out = pl.create_column("k", pl.keys_col()).df
    got = {r["k"] for r in out.collect()}
    assert got == {"x-1", "x-2", "y-1"}


def test_run_hb_rejects_bad_statement():
    with pytest.raises(Exception):
        compile_hb("flurble columns a b")


def test_comment_edge_cases():
    """A bare '!#' line must not swallow following statements; only
    '!##' opens a block."""
    prog = parse_program("!# stray note\nonly (x > 5)\n")
    assert prog.statements == [("only", ("cmp", ">", ("col", "x"), ("lit", 5)))]
    assert prog.comments == ["stray note"]
    # unterminated block keeps its text instead of dropping it
    prog = parse_program("!## title\nbody line")
    assert prog.statements == []
    assert "body line" in prog.comments[0]


def test_trailing_tokens_rejected():
    import pytest as _pt

    from hobbes_spark.hb.parser import HbParseError

    for bad in [
        "only (a = 1) (b = 2)",   # typo for &&: must not half-apply
        "slice rows 1 5 9",
        "rename column a b c",
    ]:
        with _pt.raises(HbParseError, match="trailing tokens"):
            parse_statement(bad)


def test_subtraction_without_spaces():
    """'price-cost' is arithmetic, not a column named 'price-cost';
    'k-means' stays a keyword."""
    assert parse_statement("create column m (price-cost)") == (
        "create", "m", ("arith", "-", ("col", "price"), ("col", "cost")),
    )
    assert parse_statement("k-means 3 -> mean") == ("kmeans", 3, "mean")


def test_pivot_by_expression(spark):
    """Pivot arguments may be expressions — the reference pivots by the
    month of a date (`playground.fs:27-33`)."""
    import datetime as _dt

    rows = [
        (i, _dt.datetime(2020, (i % 3) + 1, 5), "Done" if i % 2 else "Todo")
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "id long, ChangedDate timestamp, State string")
    out = run_hb(
        "pivot [(format date ChangedDate month)] [State] -> count [State]",
        Pipeline(df),
    )
    got = {r["key"]: (r["Done"], r["Todo"]) for r in out.collect()}
    assert set(got) == {1, 2, 3}
    assert sum(d + t for d, t in got.values()) == 24


def test_hb_ml_statements_buckets_regression_kmeans(spark, sf_dir):
    """The grammar's ML statements work end-to-end from TEXT: buckets +
    linear regression (the hb_bucket_trend gate query's program) and a
    k-means program both compile and run."""
    from hobbes_spark.hb import run_hb
    from hobbes_spark.pipeline import Pipeline

    src = Pipeline.table(spark, sf_dir, "orders")
    out = run_hb(
        "only (o_totalprice > 1000)\n"
        "slice columns o_orderkey o_totalprice\n"
        "sort by column o_orderkey\n"
        "buckets 10 -> mean\n"
        "linear regression [bucket] [o_totalprice]\n",
        src,
    )
    row = out.df.collect()[0]
    assert row["n"] == 10 and row["r2"] is not None
    km = run_hb(
        "slice columns o_totalprice\nsort by column o_totalprice\nk-means 3 -> count\n",
        src,
    )
    rows = km.df.collect()
    assert 1 <= len(rows) <= 3


def test_tokenizer_unspaced_minus_is_subtraction():
    """'-' after a value-producing token is binary subtraction, not a
    negative-number sign: 'ordinals-1' and '5-2' must parse (the number
    pattern used to eat the '-' and fail with 'trailing tokens')."""
    from hobbes_spark.hb.parser import tokenize

    kinds = [(k, t) for k, t in tokenize("ordinals-1")]
    assert kinds == [("ident", "ordinals"), ("op", "-"), ("number", "1")]
    kinds = [(k, t) for k, t in tokenize("5-2")]
    assert kinds == [("number", "5"), ("op", "-"), ("number", "2")]
    # leading minus is still a sign
    kinds = [(k, t) for k, t in tokenize("(-3)")]
    assert kinds == [("op", "("), ("number", "-3"), ("op", ")")]


def test_unspaced_subtraction_computes(spark):
    from hobbes_spark.hb import run_hb
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame([(10,), (20,)], "v int")
    out = run_hb("create column prev (v-1)", Pipeline(df))
    assert sorted(r["prev"] for r in out.df.collect()) == [9, 19]


def test_empty_string_compare_is_literal_on_string_columns(spark):
    """`only (x != '')` on a STRING column drops actual empty strings;
    the ''-means-missing rewrite applies only to non-string columns
    (the reference's numeric OData feeds, MTTR.hb:18)."""
    from hobbes_spark.hb import run_hb
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("a", 1.0), ("", 2.0), (None, 3.0)], "x string, v double"
    )
    out = run_hb("only !(x = '')", Pipeline(df))
    assert sorted(r["v"] for r in out.df.collect()) == [1.0]  # '' AND NULL out
    kept = run_hb("only (x = '')", Pipeline(df))
    assert [r["v"] for r in kept.df.collect()] == [2.0]  # the real '' row
    # non-string column: '' still means missing
    dn = spark.createDataFrame([(1.5, "p"), (None, "q")], "y double, tag string")
    outn = run_hb("only !(y = '')", Pipeline(dn))
    assert [r["tag"] for r in outn.df.collect()] == ["p"]


# --------------------------------------------------------------------- #
# Review-hardening regressions (round 4, hb batch)
# --------------------------------------------------------------------- #


def test_pivot_count_counts_rows_in_null_keyed_groups(spark):
    from hobbes_spark.hb import run_hb
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [(None, "Done"), (None, "Done"), (1, "Done"), (1, "Todo")],
        "Sprint int, State string",
    )
    out = run_hb("pivot [Sprint] [State] -> count [State]\n", Pipeline(df))
    rows = {r["Sprint"]: (r["Done"], r["Todo"]) for r in out.df.collect()}
    assert rows[None] == (2, 0)  # NULL-keyed group counts its real rows
    assert rows[1] == (1, 1)


def test_indented_leading_statement_is_not_swallowed(spark):
    from hobbes_spark.hb.parser import parse_program

    prog = parse_program("   only (x > 5)\n\nslice columns a b\n")
    # the indented line must be a STATEMENT, not a header property
    assert prog.properties == {}
    assert [s[0] for s in prog.statements] == ["only", "slice_columns"]


def test_leading_blank_lines_before_header(spark):
    from hobbes_spark.hb.parser import parse_program

    prog = parse_program("\n\nprovider: parquet\nurl: /tmp/x\n\nonly true\n")
    assert prog.properties["provider"] == "parquet"
    assert [s[0] for s in prog.statements] == ["only_true"]


def test_integer_args_raise_hb_parse_error(spark):
    from hobbes_spark.hb.parser import HbParseError, parse_statement

    for bad in ("slice rows -1 5", "buckets x -> mean"):
        with pytest.raises(HbParseError):
            parse_statement(bad)


def test_subtraction_after_if_brace(spark):
    from hobbes_spark.hb import run_hb
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame([(1,), (2,)], "a int")
    out = run_hb(
        'create column "x" (if [a = 1] {10} else {20}-1)\n', Pipeline(df)
    )
    # `-1` applies to the whole if-expression: a=1 -> 10-1, a=2 -> 20-1
    assert sorted(r["x"] for r in out.df.collect()) == [9, 19]


def test_rest_provider_missing_url_raises(spark):
    from hobbes_spark.hb import run_hb_program

    with pytest.raises(ValueError, match="url"):
        run_hb_program(spark, "provider: rest\n\nonly true\n",
                       fetcher=lambda u: "{}")


def test_moving_partitioned_dot_path_key(spark):
    from hobbes_spark.pipeline import Pipeline

    df = spark.createDataFrame(
        [("g1", 1, 1.0), ("g1", 2, 3.0), ("g2", 1, 10.0)],
        ["Iteration.Name", "i", "v"],
    )
    p = Pipeline(df).sort_by("i")
    out = p.moving("m", "mean", 2, "v", partition_by=["Iteration.Name"]).df
    got = {(r["Iteration.Name"], r["i"]): r["m"] for r in out.collect()}
    assert got[("g1", 2)] == 2.0 and got[("g2", 1)] is None
