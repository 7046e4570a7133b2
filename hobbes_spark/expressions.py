"""The reference DSL's scalar expression language as Spark Column builders.

Reference surface (grammar `tools/hobbes-vscode/syntaxes/hobbes.YAML-tmLanguage:6-18`,
snippets `tools/hobbes-vscode/.vscode/hobbes-autocomplete.code-snippets`):

* ``if [cond] {a} else {b}``      -> :func:`iff`
* ``int (expr)``                  -> :func:`int_cast` (strict)
* ``regex [expr] /pat/ [$1 ...]`` -> :func:`regex` (capture-group concat)
* ``format date "col" part``      -> :func:`format_date`
* ``contains col [v1; v2]``       -> :func:`contains`
* ``missing`` tests               -> :func:`is_missing` / :func:`isnt_missing`
* comparisons / boolean ops / arithmetic -> native Column operators

All builders return plain ``pyspark.sql.Column`` objects so Catalyst sees
through every expression (no Python UDFs anywhere in the scalar language).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "c",
    "qname",
    "iff",
    "int_cast",
    "regex",
    "format_date",
    "contains",
    "is_missing",
    "isnt_missing",
    "DATE_PARTS",
]


def qname(name: str) -> str:
    """Backtick-quote a column name when Spark would misparse it.

    The reference's ingestion flattens nested JSON to dot-path column
    names (`Iteration.IterationLevel2`, `committer.date` — SURVEY §1.4);
    unquoted, ``F.col`` reads the dot as struct-field access."""
    if "." in name or "`" in name:
        return "`" + name.replace("`", "``") + "`"
    return name


def c(x: str | Column | int | float | bool | None) -> Column:
    """Coerce a name/literal into a Column (strings are column *names*)."""
    if isinstance(x, Column):
        return x
    if isinstance(x, str):
        return F.col(qname(x))
    return F.lit(x)


def iff(cond: Column, then: Column | str | int | float, otherwise: Column | str | int | float) -> Column:
    """``if [cond] {a} else {b}`` — nestable conditional.

    Reference: `tests/transformations/flowerpot.hb:17` (two-level nesting).
    Literal strings here are *values*, matching the DSL's ``{'Done'}``.
    """
    then_c = then if isinstance(then, Column) else F.lit(then)
    else_c = otherwise if isinstance(otherwise, Column) else F.lit(otherwise)
    return F.when(cond, then_c).otherwise(else_c)


def int_cast(expr: Column | str) -> Column:
    """``int (expr)`` — cast to integer, FAILING (not nulling) on bad input.

    Reference: snippets:150-156 ("will fail if the value can't be converted").
    With ANSI mode on (our session default) ``cast`` raises on malformed
    input, matching the reference. Floats truncate toward zero.
    """
    return c(expr).cast("int")


_GROUP_TOKEN = re.compile(r"^\$(\d+)$")


def regex(expr: Column | str, pattern: str, tokens: Sequence[str] = ("$1",)) -> Column:
    """``regex [expr] /pattern/ [$1 ...]`` — match and rebuild from capture groups.

    ``tokens`` mixes capture references (``$1``, ``$2`` …) and literal
    strings, concatenated in order — reference snippets:158-164 and
    `flowerpot.hb:16` (single ``$1``). Non-matching rows yield ``''``
    (Java ``regexp_extract`` semantics); the reference then fails on the
    strict ``int`` cast, as we do.
    """
    src = c(expr)
    parts: list[Column] = []
    for tok in tokens:
        m = _GROUP_TOKEN.match(tok)
        if m:
            parts.append(F.regexp_extract(src, pattern, int(m.group(1))))
        else:
            parts.append(F.lit(tok))
    if len(parts) == 1:
        return parts[0]
    return F.concat(*parts)


#: date parts fixed by the grammar (`hobbes.YAML-tmLanguage:12`)
DATE_PARTS = ("date", "day", "week", "weekday", "month", "year")


def format_date(expr: Column | str, part: str) -> Column:
    """``format date "col" part`` — extract a date part.

    Parts (grammar:12): ``date day week weekday month year``.
    Reference usage: `tests/transformations/Logic Commit Frequency.hb:33-34`
    (``date`` truncation then ``year``/``month`` comparisons),
    `tools/workbench/src/production transformations/Git.fs:12`.
    """
    src = c(expr)
    part = part.lower()
    if part == "date":
        return F.to_date(src)
    if part == "day":
        return F.dayofmonth(src)
    if part == "week":
        return F.weekofyear(src)
    if part == "weekday":
        # .NET DayOfWeek numbering (0=Sunday..6=Saturday) — the reference
        # surfaces DateTime.DayOfWeek directly, so .hb programs compare
        # against these values. Spark's dayofweek is 1=Sunday..7=Saturday.
        return F.dayofweek(src) - F.lit(1)
    if part == "month":
        return F.month(src)
    if part == "year":
        return F.year(src)
    raise ValueError(f"unknown date part {part!r}; expected one of {DATE_PARTS}")


def contains(expr: Column | str, values: Sequence) -> Column:
    """``contains col [v1; v2 ...]`` — list membership.

    Reference: `tools/workbench/src/production transformations/Azure.fs:12-16`,
    tutorial:112-130.

    A bare string is one membership value, not a character sequence —
    ``contains('state', 'Done')`` must test equality with ``'Done'``,
    never explode into ``['D','o','n','e']``.
    """
    if isinstance(values, str):
        values = [values]
    return c(expr).isin(list(values))


def md5_prefix_bigint(src: Column, hex_chars: int) -> Column:
    """First ``hex_chars`` md5 hex digits as a non-negative bigint —
    the repo's ONE cross-engine hash primitive (DuckDB replays it as a
    strpos polynomial over the same hex prefix; the sketch/sampling
    oracles depend on this exact framing, so the width and the
    conv(.., 16, 10) spelling live here and nowhere else).

    ``hex_chars`` must be ≤ 15 so the value fits a signed 64-bit int
    (16 hex digits can set the sign bit)."""
    if not 1 <= hex_chars <= 15:
        raise ValueError("md5_prefix_bigint: hex_chars must be in 1..15")
    return F.conv(F.substring(F.md5(src), 1, hex_chars), 16, 10).cast("bigint")


def is_missing(expr: Column | str) -> Column:
    """``x = missing`` / ``isMissing`` — NULL test (reference tutorial:147-150).

    The reference's raw feeds carry ``''`` for missing numerics
    (`MTTR.hb:18` filters ``LeadTimeDays = ''``); after typed ingestion
    those are NULL here, so a single NULL test covers both spellings.
    """
    return c(expr).isNull()


def isnt_missing(expr: Column | str) -> Column:
    """``only !(x = missing)`` — reference `MTTR.hb:35`."""
    return c(expr).isNotNull()
