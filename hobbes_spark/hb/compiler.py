"""Compile parsed ``.hb`` programs onto the :class:`Pipeline` API.

The reference compiles ``.hb`` text into a list of matrix→matrix closures
and folds them (`tools/visualizer/web/src/Server/Reader.fs:78-95`); here a
program compiles to one Python closure ``Pipeline -> Pipeline`` whose body
is plain DataFrame algebra — Catalyst sees through the whole thing.

Expressions compile to ``(Pipeline) -> Column`` closures because ``keys``
and ``ordinals`` read pipeline state (the reference likewise evaluates
statements against the current matrix).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hobbes_spark import expressions as E
from hobbes_spark.hb.parser import HbParseError, HbProgram, parse_program
from hobbes_spark.pipeline import Pipeline

__all__ = ["compile_hb", "run_hb", "compile_expr"]

ExprFn = Callable[[Pipeline], Column]


def _unescape_pattern(pat: str) -> str:
    r"""``.hb`` regex literals escape ``\\`` and ``/`` (`flowerpot.hb:16`
    writes ``[\\d]`` for the character class ``[\d]``)."""
    return re.sub(r"\\([\\/])", r"\1", pat)


def compile_expr(ast: tuple) -> ExprFn:
    """AST tuple (from :mod:`hobbes_spark.hb.parser`) → Column closure."""
    tag = ast[0]
    if tag == "lit":
        v = ast[1]
        return lambda pl: F.lit(v)
    if tag == "col":
        name = ast[1]
        return lambda pl: E.c(name)  # dot-safe (flattened names, SURVEY §1.4)
    if tag == "missing":
        # bare `missing` only appears inside comparisons, handled there;
        # standalone it is a NULL literal (`MTTR.hb:35`).
        return lambda pl: F.lit(None)
    if tag == "keys":
        return lambda pl: pl.keys_col()
    if tag == "ordinals":
        return lambda pl: pl.ordinals_col()
    if tag == "not":
        inner = compile_expr(ast[1])
        return lambda pl: ~inner(pl)
    if tag in ("and", "or"):
        a, b = compile_expr(ast[1]), compile_expr(ast[2])
        if tag == "and":
            return lambda pl: a(pl) & b(pl)
        return lambda pl: a(pl) | b(pl)
    if tag == "cmp":
        op, left, right = ast[1], ast[2], ast[3]
        # `x = missing` → NULL test (`only !(x = missing)`, MTTR.hb:35);
        # `x = ''` on a NON-STRING column likewise means missing
        # (MTTR.hb:18 — the raw OData carries '' where the number is
        # absent, and a numeric column can't hold '' at all). On a
        # genuinely string-typed column the literal comparison stands:
        # `only (x != '')` must drop actual empty strings, not rewrite
        # into a NULL test that silently keeps them.
        for a_ast, b_ast in ((left, right), (right, left)):
            if b_ast == ("missing",) or b_ast == ("lit", ""):
                inner = compile_expr(a_ast)
                empty_lit = b_ast == ("lit", "")
                col_name = a_ast[1] if a_ast[0] == "col" else None

                def nullish(pl, inner=inner, empty_lit=empty_lit,
                            col_name=col_name, eq=(op == "=")):
                    if (
                        empty_lit
                        and col_name is not None
                        and dict(pl.df.dtypes).get(col_name) == "string"
                    ):
                        return (
                            inner(pl) == "" if eq else inner(pl) != ""
                        )
                    return inner(pl).isNull() if eq else inner(pl).isNotNull()

                if op in ("=", "!="):
                    return nullish
        a, b = compile_expr(left), compile_expr(right)
        if op == "=":
            return lambda pl: a(pl) == b(pl)
        if op == "!=":
            return lambda pl: a(pl) != b(pl)
        if op == ">":
            return lambda pl: a(pl) > b(pl)
        if op == "<":
            return lambda pl: a(pl) < b(pl)
        if op == ">=":
            return lambda pl: a(pl) >= b(pl)
        if op == "<=":
            return lambda pl: a(pl) <= b(pl)
        raise HbParseError(f"unknown comparison {op!r}")
    if tag == "arith":
        op, a, b = ast[1], compile_expr(ast[2]), compile_expr(ast[3])
        if op == "+":
            return lambda pl: a(pl) + b(pl)
        if op == "-":
            return lambda pl: a(pl) - b(pl)
        if op == "*":
            return lambda pl: a(pl) * b(pl)
        return lambda pl: a(pl) / b(pl)
    if tag == "if":
        cond, then, other = (compile_expr(x) for x in ast[1:])
        return lambda pl: E.iff(cond(pl), then(pl), other(pl))
    if tag == "int":
        inner = compile_expr(ast[1])
        return lambda pl: E.int_cast(inner(pl))
    if tag == "regex":
        src = compile_expr(ast[1])
        pat = _unescape_pattern(ast[2])
        tokens = ast[3]
        return lambda pl: E.regex(src(pl), pat, tokens)
    if tag == "formatdate":
        src = compile_expr(ast[1])
        part = ast[2]
        return lambda pl: E.format_date(src(pl), part)
    if tag == "contains":
        src = compile_expr(ast[1])
        vals = ast[2]
        return lambda pl: E.contains(src(pl), vals)
    raise HbParseError(f"cannot compile expression {ast!r}")


def _col_name(ast: tuple, what: str) -> str:
    """Pivot/window arguments are column references in every observed
    program (`Velocity.hb:28`); reject anything fancier loudly."""
    if ast[0] == "col":
        return ast[1]
    raise HbParseError(f"{what} must be a column reference, got {ast!r}")


def _compile_statement(stmt: tuple) -> Callable[[Pipeline], Pipeline]:
    tag = stmt[0]
    if tag == "only_true":
        return lambda pl: pl.only(True)
    if tag == "only":
        cond = compile_expr(stmt[1])
        return lambda pl: pl.only(cond(pl))
    if tag == "slice_columns":
        names = stmt[1]
        return lambda pl: pl.slice_columns(*names)
    if tag == "slice_rows":
        a, b = stmt[1], stmt[2]
        return lambda pl: pl.slice_rows(a, b)
    if tag == "rename":
        old, new = stmt[1], stmt[2]
        return lambda pl: pl.rename_column(old, new)
    if tag == "create":
        name, expr_ast = stmt[1], stmt[2]
        # `create column X (moving R n [col])` / `(expanding R [col])` are
        # window statements in disguise (`MTTR.hb:31-33`, `Velocity.hb:30`).
        if expr_ast[0] == "moving":
            _, red, n, val = expr_ast
            vname = _col_name(val, "moving value")
            return lambda pl: pl.moving(name, red, n, vname)
        if expr_ast[0] == "expanding":
            _, red, val = expr_ast
            vname = _col_name(val, "expanding value")
            return lambda pl: pl.expanding(name, red, vname)
        expr = compile_expr(expr_ast)
        return lambda pl: pl.create_column(name, expr(pl))
    if tag == "dense_columns":
        return lambda pl: pl.dense_columns()
    if tag == "dense_rows":
        return lambda pl: pl.dense_rows()
    if tag == "numeric_columns":
        return lambda pl: pl.numeric_columns()
    if tag == "group_selector":
        keys, sel, expr_ast = stmt[1], stmt[2], stmt[3]
        expr = compile_expr(expr_ast)
        if sel == "maxby":
            return lambda pl: pl.group_by(*keys).maxby(expr(pl))
        return lambda pl: pl.group_by(*keys).minby(expr(pl))
    if tag == "group_reduce":
        keys, red = stmt[1], stmt[2]
        return lambda pl: pl.group_by(*keys).reduce(red)
    if tag == "pivot":
        rows_ast, cols_ast, red, val_ast = stmt[1], stmt[2], stmt[3], stmt[4]

        def _materialize(pl: Pipeline, ast: tuple, tmp: str):
            """Pivot arguments may be expressions (the reference pivots
            by month of a date, `playground.fs:27-33`); non-column
            expressions materialize into a temp column first."""
            if ast[0] == "col":
                return ast[1], pl
            return tmp, pl.create_column(tmp, compile_expr(ast)(pl))

        def run_pivot(pl: Pipeline) -> Pipeline:
            row, pl = _materialize(pl, rows_ast, "__pivot_row")
            col, pl = _materialize(pl, cols_ast, "__pivot_col")
            if val_ast is None:
                # leave value_col=None: Pipeline.pivot counts ROWS for
                # `count` (substituting the row key here would make a
                # NULL-keyed group's cells read 0 even when rows exist)
                val = None
            else:
                val, pl = _materialize(pl, val_ast, "__pivot_val")
            out = pl.pivot([row], col, red, val)
            if row == "__pivot_row":
                out = out.rename_column("__pivot_row", "key")
            return out

        return run_pivot
    if tag == "sort_by":
        names = stmt[1]
        return lambda pl: pl.sort_by(*names)
    if tag == "index_by":
        names = stmt[1]
        return lambda pl: pl.index_by(*names)
    if tag == "buckets":
        n, red = stmt[1], stmt[2]
        return lambda pl: pl.buckets(n, red)
    if tag == "kmeans":
        n, red = stmt[1], stmt[2]
        return lambda pl: pl.kmeans(n, red)
    if tag == "each":
        return lambda pl: pl.each(stmt[1])
    if tag == "linear_regression":
        x = _col_name(stmt[1], "regression x")
        y = _col_name(stmt[2], "regression y")
        return lambda pl: pl.linear_regression(x, y)
    if tag == "linear_extrapolation":
        col = _col_name(stmt[1], "extrapolation column")
        n_pred, n_train = stmt[2], stmt[3]
        return lambda pl: pl.linear_extrapolation(col, n_pred, n_train)
    raise HbParseError(f"cannot compile statement {stmt!r}")


def compile_hb(text: str) -> tuple[HbProgram, Callable[[Pipeline], Pipeline]]:
    """``.hb`` text → (program, Pipeline→Pipeline closure).

    Statement closures are folded by function composition, the reference's
    own model (`Reader.fs:86-95`: ``List.fold (fun f' (Transformation f)
    -> f' >> f) id``)."""
    prog = parse_program(text)
    steps = [
        (_compile_statement(s), src)
        for s, src in zip(prog.statements, prog.statement_sources)
    ]

    def run(pl: Pipeline) -> Pipeline:
        for fn, src in steps:
            try:
                pl = fn(pl)
            except Exception as exc:  # surface the offending source line
                raise RuntimeError(f"while executing {src!r}: {exc}") from exc
        return pl

    return prog, run


def run_hb(
    text: str,
    source: Pipeline | DataFrame,
) -> Pipeline:
    """Parse + compile + execute a ``.hb`` program against ``source``;
    returns the resulting Pipeline.

    Callers that need the provider header call ``compile_hb`` (or
    ``run_hb_program``, which resolves providers itself); this
    convenience entry point takes an already-resolved source."""
    if isinstance(source, DataFrame):
        source = Pipeline(source)
    _, run = compile_hb(text)
    return run(source)
