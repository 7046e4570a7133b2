"""Grammar-fuzz for the ``.hb`` front-end (round 7).

Hypothesis generates random WELL-FORMED programs over the language's
token set (the reference ships it as a TextMate grammar,
``tools/hobbes-vscode/syntaxes/hobbes.YAML-tmLanguage:6-18`` — keywords
``only/slice/rename/create/group/pivot/sort/index/dense/numeric``,
comparison/arithmetic/logical operators, quoted column names, string
and numeric literals, ``if/else``, ``int``, ``keys``) and asserts that
parse → compile → run produces EXACTLY the frame the same pipeline
built directly through the Python ``Pipeline`` API does.

The 7 reference programs (``tests/test_hb.py``) are fixed points of the
grammar; this covers the combinatorial space between them — operator
nesting the corpus never exercises, shadowing creates, renames feeding
later expressions, quoted-vs-bare name mixing, unspaced negative
literals.

The generator carries a symbolic schema (name → num|str) through the
statement sequence so every emitted program is semantically valid: each
statement both appends its text line and appends the equivalent direct
API call, then updates the schema model the next statement draws from.
Each example costs two Spark plans, so example counts stay small; the
statement mix is biased toward expression-heavy lines (where the
parser/compiler surface is)."""

from __future__ import annotations

import os
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hobbes_spark import expressions as E
from hobbes_spark.hb import run_hb
from hobbes_spark.pipeline import Pipeline

# --------------------------------------------------------------------- #
# fixture table: every surface the grammar can touch — bare idents,
# spaced names (must quote), a dotted name (ident grammar allows '.'),
# NULLs in every column, an empty string (the `= ''` string-literal
# vs missing-rewrite distinction), duplicate group keys
# --------------------------------------------------------------------- #

SCHEMA = (
    "`Id` bigint, `Sprint Name` string, `State` string, "
    "`Points` double, `Count` bigint, `Score.raw` double, "
    "`ChangedDate` string"
)

ROWS = [
    (1, "Sprint 1", "Active", 3.0, 10, 0.5, "2024-01-07"),
    (2, "Sprint 1", "Done", 5.5, 20, 1.5, "2024-01-15"),
    (3, "Sprint 2", "Done", None, 30, -2.0, "2024-02-29"),
    (4, "Sprint 2", "New", 8.0, None, None, "2024-03-31"),
    (5, "Sprint 3", None, 2.0, 40, 3.25, None),
    (6, None, "", 13.0, 50, 0.0, "2024-12-31"),
    (7, "Sprint 3", "Active", 1.0, 60, -1.0, "2025-01-01"),
    (8, "Sprint 4", "Done", 21.0, 70, 2.0, "2024-06-02"),
    (9, "Sprint 4", "Active", None, 80, 4.5, "2024-06-03"),
    (10, "Sprint 1", "New", 34.0, 90, None, "2024-07-04"),
    (11, "Sprint 2", "", 0.5, 15, 1.25, None),
    (12, None, "Done", 55.0, 25, -3.5, "2023-11-05"),
]

BASE_COLS = {
    "Id": "num",
    "Sprint Name": "str",
    "State": "str",
    "Points": "num",
    "Count": "num",
    "Score.raw": "num",
    "ChangedDate": "date",  # ISO strings; only `format date` touches it
}

# names the generator may create/rename to (mix of bare and must-quote)
NEW_NAMES = ["Derived", "New Col", "Score2", "x_tmp", "Out.val"]

STR_LITS = ["Active", "Done", "New", "nope", ""]

_BARE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.]*$")
_KEYWORDS = {
    "only", "slice", "rename", "create", "dense", "numeric", "group",
    "pivot", "sort", "index", "buckets", "each", "linear", "missing",
    "keys", "ordinals", "true", "false", "if", "else", "int", "regex",
    "format", "contains", "moving", "expanding", "column", "columns",
    "rows", "by",
}


def _q(name: str) -> str:
    """Text form of a column reference: bare ident when the tokenizer
    allows it, double-quoted otherwise (dstring = column ref)."""
    if _BARE.match(name) and name not in _KEYWORDS:
        return name
    return '"' + name + '"'


def _num_cols(cols):
    return [n for n, k in cols.items() if k == "num"]


def _str_cols(cols):
    return [n for n, k in cols.items() if k == "str"]


# --------------------------------------------------------------------- #
# expression generators: (hb_text, Pipeline -> Column) pairs
# --------------------------------------------------------------------- #


def _date_cols(cols):
    return [n for n, k in cols.items() if k == "date"]


def _num_expr(draw, cols, depth):
    choices = ["col", "lit"]
    if depth > 0:
        choices += ["arith", "arith", "div", "int", "if"]
        if _date_cols(cols):
            choices.append("datepart")
    kind = draw(st.sampled_from(choices))
    if kind == "col":
        numc = _num_cols(cols)
        if not numc:  # a slice can leave no numeric columns standing
            kind = "lit"
        else:
            name = draw(st.sampled_from(numc))
            return _q(name), (lambda pl, n=name: E.c(n))
    if kind == "datepart":
        name = draw(st.sampled_from(_date_cols(cols)))
        part = draw(st.sampled_from(["day", "week", "weekday", "month", "year"]))
        return f"(format date {_q(name)} {part})", (
            lambda pl, n=name, p=part: E.format_date(E.c(n), p)
        )
    if kind == "lit":
        v = draw(st.one_of(st.integers(-3, 9), st.sampled_from([0.5, 2.5, -1.5])))
        return str(v), (lambda pl, v=v: F.lit(v))
    if kind == "arith":
        op = draw(st.sampled_from(["+", "-", "*"]))
        at, af = _num_expr(draw, cols, depth - 1)
        bt, bf = _num_expr(draw, cols, depth - 1)
        fns = {
            "+": lambda pl: af(pl) + bf(pl),
            "-": lambda pl: af(pl) - bf(pl),
            "*": lambda pl: af(pl) * bf(pl),
        }
        return f"({at} {op} {bt})", fns[op]
    if kind == "div":
        # nonzero literal divisor: a /0 column would be fine (NULL both
        # sides) but makes shrunken failures harder to read
        at, af = _num_expr(draw, cols, depth - 1)
        d = draw(st.sampled_from([2, 4, -3, 0.5]))
        return f"({at} / {d})", (lambda pl, d=d: af(pl) / F.lit(d))
    if kind == "int":
        at, af = _num_expr(draw, cols, depth - 1)
        return f"(int ({at}))", (lambda pl: E.int_cast(af(pl)))
    # if [cond] {a} else {b}
    ct, cf = _bool_expr(draw, cols, depth - 1)
    at, af = _num_expr(draw, cols, depth - 1)
    bt, bf = _num_expr(draw, cols, depth - 1)
    return (
        f"(if [{ct}] {{{at}}} else {{{bt}}})",
        lambda pl: E.iff(cf(pl), af(pl), bf(pl)),
    )


_CMP = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _bool_expr(draw, cols, depth):
    choices = ["cmp", "cmp", "streq", "missing", "contains"]
    if depth > 0:
        choices += ["not", "andor"]
    kind = draw(st.sampled_from(choices))
    if kind == "contains":
        # string membership on a string col, numeric membership on a
        # numeric col — `contains col [v1; v2]` with ';' separators
        scs = _str_cols(cols)
        if not scs and not _num_cols(cols):  # date-only slices happen
            name = draw(st.sampled_from(sorted(cols)))
            return f"({_q(name)} != missing)", (
                lambda pl, n=name: E.c(n).isNotNull()
            )
        if (scs and draw(st.booleans())) or not _num_cols(cols):
            name = draw(st.sampled_from(scs))
            vals = draw(
                st.lists(
                    st.sampled_from([v for v in STR_LITS if v]),
                    min_size=1, max_size=3, unique=True,
                )
            )
            body = "; ".join(f"'{v}'" for v in vals)
        else:
            name = draw(st.sampled_from(_num_cols(cols)))
            vals = draw(
                st.lists(
                    st.sampled_from([1, 3.0, 5.5, 10, -2.0]),
                    min_size=1, max_size=3, unique=True,
                )
            )
            body = "; ".join(str(v) for v in vals)
        return f"(contains {_q(name)} [{body}])", (
            lambda pl, n=name, vs=tuple(vals): E.contains(E.c(n), list(vs))
        )
    if kind == "cmp":
        op = draw(st.sampled_from(sorted(_CMP)))
        at, af = _num_expr(draw, cols, depth - 1)
        bt, bf = _num_expr(draw, cols, depth - 1)
        return f"({at} {op} {bt})", (
            lambda pl, op=op: _CMP[op](af(pl), bf(pl))
        )
    if kind == "streq":
        # '' stays a literal comparison on string columns (MTTR.hb:18
        # semantics apply only to non-string columns, which this
        # generator never pairs with string literals)
        scs = _str_cols(cols)
        if not scs:
            at, af = _num_expr(draw, cols, 0)
            return f"({at} >= 0)", (lambda pl: af(pl) >= F.lit(0))
        name = draw(st.sampled_from(scs))
        lit = draw(st.sampled_from(STR_LITS))
        op = draw(st.sampled_from(["=", "!="]))
        return f"({_q(name)} {op} '{lit}')", (
            lambda pl, n=name, l=lit, op=op: _CMP[op](E.c(n), F.lit(l))
        )
    if kind == "missing":
        name = draw(st.sampled_from(sorted(cols)))
        if draw(st.booleans()):
            return f"({_q(name)} = missing)", (lambda pl, n=name: E.c(n).isNull())
        return f"({_q(name)} != missing)", (
            lambda pl, n=name: E.c(n).isNotNull()
        )
    if kind == "not":
        it, fn = _bool_expr(draw, cols, depth - 1)
        return f"(! {it})", (lambda pl: ~fn(pl))
    op = draw(st.sampled_from(["&&", "||"]))
    at, af = _bool_expr(draw, cols, depth - 1)
    bt, bf = _bool_expr(draw, cols, depth - 1)
    if op == "&&":
        return f"({at} && {bt})", (lambda pl: af(pl) & bf(pl))
    return f"({at} || {bt})", (lambda pl: af(pl) | bf(pl))


# --------------------------------------------------------------------- #
# statement sequence generator
# --------------------------------------------------------------------- #


@st.composite
def programs(draw):
    cols = dict(BASE_COLS)
    lines: list[str] = []
    fns: list = []
    indexed = False
    index_key: str | None = None  # never renamed/sliced away once set
    # (a later `create column X (keys)` resolves it by name)

    n_body = draw(st.integers(1, 4))
    for _ in range(n_body):
        kinds = ["only", "create", "create", "rename", "slice", "sort"]
        if indexed:
            kinds.append("keys_create")
        if _str_cols(cols):
            kinds.append("create_regex")
        kind = draw(st.sampled_from(kinds))
        if kind == "create_regex":
            # regex [src] /pattern/ [tokens...] — capture-group rebuild;
            # non-matching rows yield '' (Java regexp_extract semantics)
            src = draw(st.sampled_from(_str_cols(cols)))
            name = draw(st.sampled_from(NEW_NAMES + list(cols)))
            pattern = "Sprint ([0-9]+)"
            toks = draw(st.sampled_from([("$1",), ("S", "$1")]))
            tok_text = " ".join(t if t.startswith("$") else f"'{t}'" for t in toks)
            lines.append(
                f"create column {_q(name)} "
                f"(regex [{_q(src)}] /{pattern}/ [{tok_text}])"
            )
            fns.append(
                lambda pl, n=name, s=src, ts=toks: pl.create_column(
                    n, E.regex(E.c(s), "Sprint ([0-9]+)", ts)
                )
            )
            cols[name] = "str"
            continue
        if kind == "only":
            if draw(st.integers(0, 9)) == 0:
                lines.append("only true")
                fns.append(lambda pl: pl.only(True))
            else:
                t, fn = _bool_expr(draw, cols, 2)
                lines.append(f"only ({t})")
                fns.append(lambda pl, fn=fn: pl.only(fn(pl)))
        elif kind == "create":
            name = draw(st.sampled_from(NEW_NAMES + list(cols)))
            t, fn = _num_expr(draw, cols, 2)
            lines.append(f"create column {_q(name)} ({t})")
            fns.append(lambda pl, n=name, fn=fn: pl.create_column(n, fn(pl)))
            cols[name] = "num"
        elif kind == "rename":
            renameable = sorted(set(cols) - {index_key})
            free = [n for n in NEW_NAMES if n not in cols]
            if not free or not renameable:
                continue
            old = draw(st.sampled_from(renameable))
            new = draw(st.sampled_from(free))
            lines.append(f"rename column {_q(old)} {_q(new)}")
            fns.append(lambda pl, o=old, n=new: pl.rename_column(o, n))
            cols[new] = cols.pop(old)
        elif kind == "slice":
            keep = draw(
                st.lists(st.sampled_from(sorted(cols)), min_size=1, unique=True)
            )
            if index_key is not None and index_key not in keep:
                keep.append(index_key)
            names = list(keep)
            if draw(st.booleans()):
                names.append("Ghost")  # missing names are tolerated
            lines.append("slice columns " + " ".join(_q(c) for c in names))
            fns.append(lambda pl, ns=tuple(names): pl.slice_columns(*ns))
            cols = {c: cols[c] for c in keep}
        elif kind == "sort":
            ks = draw(
                st.lists(st.sampled_from(sorted(cols)), min_size=1, max_size=2,
                         unique=True)
            )
            head = "sort by column" if draw(st.booleans()) else "sort by"
            lines.append(head + " " + " ".join(_q(c) for c in ks))
            fns.append(lambda pl, ks=tuple(ks): pl.sort_by(*ks))
            # windowed creates and row slices key off the established
            # order — only generated once one exists
            extra = draw(st.sampled_from(["none", "moving", "expanding", "rows"]))
            numc = _num_cols(cols)
            if extra in ("moving", "expanding") and numc:
                name = draw(st.sampled_from(NEW_NAMES + list(cols)))
                red = draw(st.sampled_from(["sum", "mean", "min", "max"]))
                val = draw(st.sampled_from(numc))
                if extra == "moving":
                    nwin = draw(st.integers(2, 4))
                    lines.append(
                        f"create column {_q(name)} (moving {red} {nwin} [{_q(val)}])"
                    )
                    fns.append(
                        lambda pl, n=name, r=red, w=nwin, v=val: pl.moving(n, r, w, v)
                    )
                else:
                    lines.append(
                        f"create column {_q(name)} (expanding {red} [{_q(val)}])"
                    )
                    fns.append(
                        lambda pl, n=name, r=red, v=val: pl.expanding(n, r, v)
                    )
                cols[name] = "num"
            elif extra == "rows":
                a = draw(st.integers(0, 5))
                b = a + draw(st.integers(0, 8))
                lines.append(f"slice rows {a} {b}")
                fns.append(lambda pl, a=a, b=b: pl.slice_rows(a, b))
        elif kind == "keys_create":
            name = draw(st.sampled_from(NEW_NAMES))
            lines.append(f"create column {_q(name)} (keys)")
            fns.append(
                lambda pl, n=name: pl.create_column(n, pl.keys_col())
            )
            cols[name] = "str"
        if kind != "keys_create" and not indexed and draw(st.integers(0, 4)) == 0:
            key = draw(st.sampled_from(sorted(cols)))
            head = "index rows by" if draw(st.booleans()) else "index by"
            lines.append(f"{head} {_q(key)}")
            fns.append(lambda pl, k=key: pl.index_by(k))
            indexed = True
            index_key = key

    # optional terminal: group / pivot / numeric-columns + each
    term = draw(
        st.sampled_from(["none", "maxby", "minby", "reduce", "pivot", "each"])
    )
    if term == "each" and not _num_cols(cols):
        term = "none"  # `numeric columns` would leave nothing to reduce
    if term == "each":
        red = draw(st.sampled_from(["mean", "sum", "min", "max", "count"]))
        head = "dense rows" if draw(st.booleans()) else None
        if head:
            lines.append(head)
            fns.append(lambda pl: pl.dense_rows())
        lines.append("numeric columns")
        fns.append(lambda pl: pl.numeric_columns())
        lines.append(f"each {red}")
        fns.append(lambda pl, r=red: pl.each(r))
        return "\n".join(lines) + "\n", fns
    if term in ("maxby", "minby") and len(cols) >= 2:
        key = draw(st.sampled_from(sorted(cols)))
        t, fn = _num_expr(draw, cols, 1)
        lines.append(f"group by {_q(key)} -> {term} ({t})")
        if term == "maxby":
            fns.append(lambda pl, k=key, fn=fn: pl.group_by(k).maxby(fn(pl)))
        else:
            fns.append(lambda pl, k=key, fn=fn: pl.group_by(k).minby(fn(pl)))
    elif term == "reduce" and len(cols) >= 2:
        key = draw(st.sampled_from(sorted(cols)))
        red = draw(st.sampled_from(["count", "max", "min"]))
        lines.append(f"group by {_q(key)} -> {red}")
        fns.append(lambda pl, k=key, r=red: pl.group_by(k).reduce(r))
    elif term == "pivot" and _str_cols(cols) and len(cols) >= 2:
        ckey = draw(st.sampled_from(_str_cols(cols)))
        rkey = draw(st.sampled_from(sorted(cols)))
        numc = _num_cols(cols)
        if numc and draw(st.booleans()):
            red = draw(st.sampled_from(["sum", "mean", "min", "max"]))
            val = draw(st.sampled_from(numc))
            lines.append(
                f"pivot [{_q(rkey)}] [{_q(ckey)}] -> {red} [{_q(val)}]"
            )
            fns.append(
                lambda pl, r=rkey, c=ckey, rd=red, v=val: pl.pivot([r], c, rd, v)
            )
        else:
            lines.append(f"pivot [{_q(rkey)}] [{_q(ckey)}] -> count")
            fns.append(lambda pl, r=rkey, c=ckey: pl.pivot([r], c, "count", None))

    return "\n".join(lines) + "\n", fns


def _frame(pl: Pipeline):
    df = pl.df
    cols = sorted(df.columns)
    rows = sorted(
        tuple("NULL" if v is None else str(v) for v in (r[c] for c in cols))
        for r in df.collect()
    )
    return cols, rows


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def _outcome(build):
    """('ok', frame) or ('err', message) — a program that raises on
    BOTH sides with the same underlying message is parity too (e.g.
    `each` after a filter emptied the table and the data-dependent
    `numeric columns` dropped every column).  Spark 4 appends a
    '== DataFrame ==' context trailer naming the PYTHON CALLSITE that
    built the offending Column — necessarily different between the hb
    compiler and the direct-API lambda — so the trailer is stripped
    before comparison (the error class + message above it is the
    parity contract, the callsite is test plumbing)."""
    try:
        return ("ok", _frame(build()))
    except Exception as e:  # noqa: BLE001 - compared, not swallowed
        return ("err", str(e).split("\n== DataFrame ==")[0])


@given(prog=programs())
@settings(
    max_examples=int(os.environ.get("HOBBES_HB_FUZZ_EXAMPLES", "25")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hb_program_equals_direct_api(spark, fixture_df, prog):
    text, fns = prog

    def direct():
        pl = Pipeline(fixture_df)
        for fn in fns:
            pl = fn(pl)
        return pl

    a = _outcome(lambda: run_hb(text, Pipeline(fixture_df)))
    b = _outcome(direct)
    assert a[0] == b[0], (text, a, b)
    if a[0] == "ok":
        assert a[1] == b[1], text
    else:
        # the hb runner wraps with the offending source line; the raw
        # message must be shared
        assert b[1] in a[1] or a[1] in b[1], (text, a, b)


# --------------------------------------------------------------------- #
# Round 8: SOURCE headers + dataset combinators + markdown chunks.
# The 500-example body soak covers statements; this layer fuzzes the
# OTHER two chunks of a .hb file — the YAML-ish provider header
# (localdata inline columns/rows, merge/join dataset configurations,
# tools/workbench/src/Types.fs:58-106) and `!## ... !#` markdown blocks
# interleaved with the body — asserting run_hb_program over a dataset
# registry equals the direct API (local_data + combinators.merge/join +
# Pipeline calls) and the parser captures every comment block.
# --------------------------------------------------------------------- #

_REG_SCHEMAS = {
    "alpha": {"k": "num", "a": "num", "s": "str"},
    "beta": {"k": "num", "b": "num"},
    "gamma": {"k": "num", "a": "num", "s": "str"},
}
# join pairs restricted to sides with disjoint non-key columns — the
# reference joins cached datasets whose value columns differ by
# construction (the joined field becomes the index)
_JOIN_PAIRS = [("alpha", "beta"), ("beta", "alpha"), ("gamma", "beta")]


@pytest.fixture(scope="module")
def registry(spark):
    return {
        "alpha": spark.createDataFrame(
            [(1, 10, "u"), (2, 20, "v"), (3, None, "w"), (2, 21, None)],
            "k bigint, a bigint, s string",
        ),
        "beta": spark.createDataFrame(
            [(1, 100), (3, 300), (4, 400)], "k bigint, b bigint"
        ),
        "gamma": spark.createDataFrame(
            [(5, 50, "x"), (1, 11, "y")], "k bigint, a bigint, s string"
        ),
    }


def _comment_chunk(draw):
    one_line = draw(st.booleans())
    word = draw(st.sampled_from(["note", "method", "reading the graph"]))
    if one_line:
        return [f"!## {word} !#"]
    return [f"!## {word}", "free prose, not parsed as a statement", "!#"]


@st.composite
def sourced_programs(draw):
    kind = draw(st.sampled_from(["localdata", "merge", "join"]))
    header: list[str] = []
    if kind == "localdata":
        cols = draw(
            st.lists(st.sampled_from(["x", "y", "s"]), min_size=1,
                     max_size=3, unique=True)
        )
        n_rows = draw(st.integers(1, 4))
        json_rows = []
        for _ in range(n_rows):
            cells = [
                draw(st.sampled_from(['"a"', '"b b"', '""']))
                if c_ == "s" else str(draw(st.integers(-5, 9)))
                for c_ in cols
            ]
            json_rows.append("[" + ", ".join(cells) + "]")
        header = ["provider: localdata"]
        if draw(st.booleans()):  # both header list spellings are legal
            header.append(f"columns: {' '.join(cols)}")
        else:
            header.append("columns:")
            header += [f"    - {c_}" for c_ in cols]
        header.append("rows:")
        header += [f"    - {r}" for r in json_rows]
        schema = {c_: ("str" if c_ == "s" else "num") for c_ in cols}
        import json as _json

        pyrows = [_json.loads(r) for r in json_rows]

        def source(spark, tables, cols=tuple(cols), pyrows=tuple(map(tuple, pyrows))):
            from hobbes_spark.sources.ingest import local_data

            return Pipeline(local_data(spark, list(cols), [list(r) for r in pyrows]))

    elif kind == "merge":
        ids = draw(
            st.lists(st.sampled_from(sorted(_REG_SCHEMAS)), min_size=1,
                     max_size=3, unique=True)
        )
        header = ["provider: merge", "datasets:"] + [f"    - {d}" for d in ids]
        schema = {}
        for d in ids:
            schema.update(_REG_SCHEMAS[d])

        def source(spark, tables, ids=tuple(ids)):
            from hobbes_spark.operators import combinators

            return combinators.merge(*[Pipeline(tables[d]) for d in ids])

    else:
        left, right = draw(st.sampled_from(_JOIN_PAIRS))
        header = ["provider: join", f"left: {left}",
                  f"right: {right}", "field: k"]
        schema = {**_REG_SCHEMAS[left], **_REG_SCHEMAS[right]}

        def source(spark, tables, left=left, right=right):
            from hobbes_spark.operators import combinators

            return combinators.join(Pipeline(tables[left]), Pipeline(tables[right]), "k")

    # body statements valid for the resolved schema, with markdown
    # chunks interleaved anywhere between them
    lines: list[str] = []
    fns: list = []
    n_comments = 0
    for chunk in range(draw(st.integers(0, 3))):
        if draw(st.integers(0, 2)) == 0:
            lines += _comment_chunk(draw)
            n_comments += 1
            continue
        cols_now = list(schema)
        kind2 = draw(st.sampled_from(["only_true", "slice", "create", "rename"]))
        if kind2 == "only_true":
            lines.append("only true")
            fns.append(lambda pl: pl.only(True))
        elif kind2 == "slice":
            keep = draw(
                st.lists(st.sampled_from(cols_now), min_size=1,
                         max_size=len(cols_now), unique=True)
            )
            lines.append("slice columns " + " ".join(_q(c_) for c_ in keep))
            fns.append(lambda pl, ks=tuple(keep): pl.slice_columns(*ks))
            schema = {c_: schema[c_] for c_ in keep}
        elif kind2 == "create":
            name = draw(st.sampled_from(["t", "u2"]))
            lit = draw(st.integers(0, 5))
            lines.append(f"create column {_q(name)} {lit}")
            fns.append(lambda pl, n=name, v=lit: pl.create_column(n, F.lit(v)))
            schema[name] = "num"
        else:
            src = draw(st.sampled_from(cols_now))
            new = draw(st.sampled_from(["r1", "r2"]))
            if new in schema and new != src:
                continue  # renaming onto an existing column: skip draw
            lines.append(f"rename column {_q(src)} {_q(new)}")
            fns.append(lambda pl, s=src, n=new: pl.rename_column(s, n))
            schema[new] = schema.pop(src)
    text = "\n".join(header) + "\n\n" + "\n".join(lines) + "\n"
    return text, source, fns, n_comments


@given(prog=sourced_programs())
@settings(
    max_examples=int(os.environ.get("HOBBES_HB_FUZZ_EXAMPLES", "25")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hb_sourced_program_equals_direct_api(spark, registry, prog):
    from hobbes_spark.hb.parser import parse_program
    from hobbes_spark.hb.providers import run_hb_program

    text, source, fns, n_comments = prog
    # parser contract: every markdown chunk lands in .comments, never in
    # the statement list
    assert len(parse_program(text).comments) == n_comments

    def direct():
        pl = source(spark, registry)
        for fn in fns:
            pl = fn(pl)
        return pl

    a = _outcome(lambda: run_hb_program(spark, text, tables=registry))
    b = _outcome(direct)
    assert a[0] == b[0], (text, a, b)
    if a[0] == "ok":
        assert a[1] == b[1], text
    else:
        assert b[1] in a[1] or a[1] in b[1], (text, a, b)
