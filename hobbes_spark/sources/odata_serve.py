"""Serving side of the OData surface: evaluate OData query options
against a DataFrame and shape the JSON response envelope.

The reference deploys a dedicated ``odata`` service
(`kubernetes/overlays/prod/odata.yaml:1-18`; its image source is a
private submodule), so the implemented contract is the PUBLIC OData
URL-conventions subset its own clients demonstrably issue — the
visualizer's feed URLs carry ``$filter=Iteration/StartDate gt
2019-01-01Z``, ``$select``, ``$expand`` and the ``{"@odata.context",
"value", "@odata.nextLink"}`` envelope
(`tools/visualizer/cli/src/ODataProvider.fs:18-22,76-95`).

Everything here is engine-side semantics, not transport: ``$filter``
compiles to a native Column predicate (codegen, pushdown-eligible —
a served filter prunes the parquet scan like any other), ``$select``
prunes columns, ``$orderby``/``$top``/``$skip`` become
sort/limit/offset, and the envelope emitter collects a bounded page and
streams an unbounded one through ``toLocalIterator``, so serving a page
never collects the full table to the driver. ``$count=true`` on a
bounded, sorted page costs no extra job: the post-``$filter`` frame
carries an observed ``count(1)`` metric, and the page's one
``collect()`` fills it. That count is only whole when the page reads
every filtered row, so it is taken only when the executed plan is a
``TakeOrderedAndProject`` over an input without output ordering; an
unsorted ``$top`` (a ``CollectLimit`` that stops early), an input
already ordered by the sort keys, or an unbounded response keep a
separate ``count()``. An HTTP
wrapper is a ~10-line flask/fastapi handler around
:func:`odata_response`; it is deliberately NOT included (no server
dependencies in the engine), matching the reference's split between the
engine core and the serving deployment.

Path segments use OData's ``/`` (``Iteration/StartDate``) and map onto
the uniform flat model's dot-path columns (``Iteration.StartDate``) —
the same spelling the ingest cascade produces (`Reader.fs:20-50`).
``$expand`` is accepted as a no-op for the same reason: the flat model
already materializes every nav property as a dot column, so the
"expanded" fields are present by construction. Unsupported system
options (``$skiptoken``, ``$search``, ``$apply``, ``$compute``) RAISE
instead of silently serving page 1 again — the spec requires rejecting
unsupported options, and a skiptoken loop that is ignored would never
terminate.
"""

from __future__ import annotations

import re
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from hobbes_spark.sources.sinks import json_cell

__all__ = ["parse_filter", "apply_odata_options", "odata_response"]


# --------------------------------------------------------------------- #
# $filter expression language
#
# Grammar (the OData v4 common core, precedence low -> high):
#   or_expr   := and_expr ('or' and_expr)*
#   and_expr  := not_expr ('and' not_expr)*
#   not_expr  := 'not' not_expr | cmp_expr
#   cmp_expr  := add_expr (('eq'|'ne'|'gt'|'ge'|'lt'|'le') add_expr)?
#              | add_expr 'in' '(' literal (',' literal)* ')'
#   add_expr  := mul_expr (('add'|'sub') mul_expr)*
#   mul_expr  := unary (('mul'|'div'|'divby'|'mod') unary)*
#   unary     := '-' unary | primary
#   primary   := literal | func '(' args ')' | path | '(' or_expr ')'
#
# Every parse node carries a coarse static type tag ("int", "float",
# "str", "bool", "ts", or None = unknown) so `div` can implement the
# spec's split semantics: integral operands -> truncating integral
# division, fractional operands -> fractional division. Column types
# resolve from the schema mapping `apply_odata_options` passes in;
# parse_filter without a schema treats bare columns as unknown and
# falls back to fractional div (documented at `_div`).
# --------------------------------------------------------------------- #

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<datetime>\d{4}-\d{2}-\d{2}(?:T\d{2}:\d{2}(?::\d{2}(?:\.\d+)?)?)?
            (?:Z|[+-]\d{2}:\d{2})?)
      | (?P<number>\d+(?:\.\d+)?)
      | (?P<string>'(?:[^']|'')*')
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*(?:[./][A-Za-z_][A-Za-z0-9_]*)*)
      | (?P<punct>\(|\)|,|-)
    )""",
    re.X,
)

_CMP = {"eq", "ne", "gt", "ge", "lt", "le"}

# function name -> (arity, Column builder, result type tag)
_FUNCS = {
    "contains": (2, lambda a, b: a.contains(b), "bool"),
    "startswith": (2, lambda a, b: a.startswith(b), "bool"),
    "endswith": (2, lambda a, b: a.endswith(b), "bool"),
    "tolower": (1, F.lower, "str"),
    "toupper": (1, F.upper, "str"),
    "trim": (1, F.trim, "str"),
    "length": (1, F.length, "int"),
    "indexof": (2, lambda a, b: F.instr(a, b) - F.lit(1), "int"),  # 0-based
    "substring": (
        2,
        lambda a, b: F.substring(a, b + F.lit(1), F.lit(2 ** 31 - 1)),
        "str",
    ),
    "concat": (2, lambda a, b: F.concat(a, b), "str"),
    "year": (1, F.year, "int"),
    "month": (1, F.month, "int"),
    "day": (1, F.dayofmonth, "int"),
    "hour": (1, F.hour, "int"),
    "minute": (1, F.minute, "int"),
    "second": (1, F.second, "int"),
    "date": (1, F.to_date, "ts"),
    "round": (1, lambda a: F.round(a, 0), "int"),
    "floor": (1, F.floor, "int"),
    "ceiling": (1, F.ceil, "int"),
}

_INT_SPARK_TYPES = ("tinyint", "smallint", "int", "bigint", "long", "integer")
_FLOAT_SPARK_TYPES = ("float", "double", "decimal", "real")


def _schema_tag(dtype: str) -> str | None:
    d = dtype.lower()
    if d.startswith(_FLOAT_SPARK_TYPES):
        return "float"
    if d in _INT_SPARK_TYPES:
        return "int"
    if d == "string":
        return "str"
    if d == "boolean":
        return "bool"
    if d in ("date",) or d.startswith("timestamp"):
        return "ts"
    return None


def _flat(path: str) -> str:
    # OData nav path -> flat dot column
    return path.replace("/", ".")


def _col(path: str) -> Column:
    return F.col(f"`{_flat(path)}`")


def _num_tag(a: str | None, b: str | None) -> str | None:
    if a == "float" or b == "float":
        return "float"
    if a == "int" and b == "int":
        return "int"
    return None


class _Parser:
    def __init__(self, text: str, schema: Mapping[str, str] | None = None):
        self.text = text
        self.schema = schema or {}
        self.pos = 0
        self.tok: str | None = None
        self.kind: str | None = None
        self._advance()

    def _advance(self) -> None:
        if self.pos >= len(self.text.rstrip()):
            self.tok, self.kind = None, None
            return
        m = _TOKEN.match(self.text, self.pos)
        if not m:
            raise ValueError(
                f"$filter: cannot tokenize at {self.text[self.pos:][:30]!r}"
            )
        self.pos = m.end()
        self.kind = m.lastgroup
        self.tok = m.group(m.lastgroup)

    def _expect(self, tok: str) -> None:
        if self.tok != tok:
            raise ValueError(f"$filter: expected {tok!r}, got {self.tok!r}")
        self._advance()

    # ---- literals: -> (Column, tag) or None --------------------------- #

    def _literal(self):
        if self.kind == "number":
            if "." in self.tok:
                v, tag = float(self.tok), "float"
            else:
                v, tag = int(self.tok), "int"
            self._advance()
            return F.lit(v), tag
        if self.kind == "string":
            v = self.tok[1:-1].replace("''", "'")
            self._advance()
            return F.lit(v), "str"
        if self.kind == "datetime":
            tok = self.tok
            self._advance()
            # bare `2019-01-01Z` (the reference's own feed URLs,
            # ODataProvider.fs:21) and full ISO both parse; strip a bare
            # date's zone marker so it compares as a date
            if re.fullmatch(r"\d{4}-\d{2}-\d{2}Z?", tok):
                return F.lit(tok.rstrip("Z")).cast("date"), "ts"
            return F.lit(tok.replace("Z", "+00:00")).cast("timestamp"), "ts"
        if self.tok == "null":
            self._advance()
            return F.lit(None), None
        if self.tok == "true":
            self._advance()
            return F.lit(True), "bool"
        if self.tok == "false":
            self._advance()
            return F.lit(False), "bool"
        return None

    def _literal_or_fail(self):
        neg = False
        while self.tok == "-":  # `in (-1, 1)` carries signed literals
            neg = not neg
            self._advance()
        lit = self._literal()
        if lit is None:
            raise ValueError(f"$filter: `in` list needs literals, got {self.tok!r}")
        col, tag = lit
        return (-col if neg else col), tag

    # ---- precedence climb: every rule -> (Column, tag) ---------------- #

    def parse(self) -> Column:
        out, _ = self._or()
        if self.tok is not None:
            raise ValueError(f"$filter: trailing input at {self.tok!r}")
        return out

    def _or(self):
        left, tag = self._and()
        while self.tok == "or":
            self._advance()
            right, _ = self._and()
            left, tag = left | right, "bool"
        return left, tag

    def _and(self):
        left, tag = self._not()
        while self.tok == "and":
            self._advance()
            right, _ = self._not()
            left, tag = left & right, "bool"
        return left, tag

    def _not(self):
        if self.tok == "not":
            self._advance()
            inner, _ = self._not()
            return ~inner, "bool"
        return self._cmp()

    def _cmp(self):
        left, ltag = self._add()
        if self.tok in _CMP:
            op = self.tok
            self._advance()
            right, _ = self._add()
            if op == "eq":
                return left == right, "bool"
            if op == "ne":
                return left != right, "bool"
            if op == "gt":
                return left > right, "bool"
            if op == "ge":
                return left >= right, "bool"
            if op == "lt":
                return left < right, "bool"
            return left <= right, "bool"
        if self.tok == "in":
            self._advance()
            self._expect("(")
            items = [self._literal_or_fail()[0]]
            while self.tok == ",":
                self._advance()
                items.append(self._literal_or_fail()[0])
            self._expect(")")
            return left.isin(items), "bool"
        return left, ltag

    def _add(self):
        left, ltag = self._mul()
        while self.tok in ("add", "sub"):
            op = self.tok
            self._advance()
            right, rtag = self._mul()
            left = left + right if op == "add" else left - right
            ltag = _num_tag(ltag, rtag)
        return left, ltag

    def _div(self, left, ltag, right, rtag):
        """OData `div`: integral operands -> INTEGRAL division truncating
        toward zero (3 div 2 = 1; -7 div 2 = -3); any fractional operand
        -> fractional division. Unknown operand types (no schema passed)
        fall back to fractional — `apply_odata_options` always passes
        the frame's schema, so served filters get the spec split."""
        if ltag == "int" and rtag == "int":
            # double-cast truncates toward zero, matching Edm int div
            return (left / right).cast("long"), "int"
        return left / right, "float" if "float" in (ltag, rtag) else None

    def _mul(self):
        left, ltag = self._unary()
        while self.tok in ("mul", "div", "divby", "mod"):
            op = self.tok
            self._advance()
            right, rtag = self._unary()
            if op == "mul":
                left, ltag = left * right, _num_tag(ltag, rtag)
            elif op == "div":
                left, ltag = self._div(left, ltag, right, rtag)
            elif op == "divby":  # OData 4.01: always decimal division
                left, ltag = left / right, "float"
            else:
                left, ltag = left % right, _num_tag(ltag, rtag)
        return left, ltag

    def _unary(self):
        if self.tok == "-":
            self._advance()
            col, tag = self._unary()
            return -col, tag
        return self._primary()

    def _primary(self):
        lit = self._literal()
        if lit is not None:
            return lit
        if self.tok == "(":
            self._advance()
            inner = self._or()
            self._expect(")")
            return inner
        if self.kind == "ident":
            name = self.tok
            self._advance()
            if self.tok == "(" and name in _FUNCS:
                arity, fn, tag = _FUNCS[name]
                self._advance()
                args = [self._or()[0]]
                while self.tok == ",":
                    self._advance()
                    args.append(self._or()[0])
                self._expect(")")
                if len(args) != arity:
                    raise ValueError(
                        f"$filter: {name}() takes {arity} args, got {len(args)}"
                    )
                return fn(*args), tag
            flat = _flat(name)
            dtype = self.schema.get(flat)
            return _col(name), (_schema_tag(dtype) if dtype else None)
        raise ValueError(f"$filter: unexpected token {self.tok!r}")


def parse_filter(expr: str, schema: Mapping[str, str] | None = None) -> Column:
    """OData ``$filter`` text -> native Column predicate. Stays inside
    codegen and is pushdown-eligible: a served filter prunes the scan
    exactly like a hand-written ``df.filter``.

    ``schema`` (flat column name -> Spark dtype string, i.e.
    ``dict(df.dtypes)``) resolves operand types so ``div`` follows the
    spec's integral/fractional split; without it, ``div`` on bare
    columns is fractional."""
    return _Parser(expr, schema).parse()


# --------------------------------------------------------------------- #
# Option application + envelope
# --------------------------------------------------------------------- #

_UNSUPPORTED_OPTIONS = ("skiptoken", "search", "apply", "compute", "format")


def _opt(options: Mapping[str, str], name: str) -> str | None:
    """Look an option up under both its ``$``-prefixed and bare spelling.

    Non-string values (``{"$top": 50}`` as an int, a bool ``$count``)
    are coerced with ``str()`` rather than silently ignored — an
    ignored value would bypass ``_check_supported`` and contradict the
    module's reject-don't-ignore policy."""
    v = options.get(name)
    if v is None:
        v = options.get(name.lstrip("$"))
    if v is None:
        return None
    if isinstance(v, bool):  # str(True) -> "True"; OData wants lowercase
        v = "true" if v else "false"
    s = str(v).strip()
    return s if s else None


def _check_supported(options: Mapping[str, str]) -> None:
    for name in _UNSUPPORTED_OPTIONS:
        if _opt(options, f"${name}") is not None:
            raise ValueError(
                f"${name} is not supported by this service (OData requires "
                "rejecting unsupported system options, not ignoring them); "
                "page with $skip/$top"
            )


def _apply(
    df: DataFrame,
    options: Mapping[str, str],
    observation: Observation | None = None,
):
    """Shared core: returns ``(shaped, filtered)`` where ``filtered`` is
    the post-$filter pre-paging frame ($count's denominator) and
    ``shaped`` additionally has $orderby/$select/$skip/$top applied —
    the spec's evaluation order (filter before select, since the filter
    may use unselected columns; paging last). With an ``observation``,
    ``shaped`` counts the rows that pass ``$filter`` as they flow into
    the paging operators; ``filtered`` stays unobserved."""
    _check_supported(options)
    # $expand: no-op by construction — the flat model already
    # materializes nav properties as dot columns (module docstring)
    if flt := _opt(options, "$filter"):
        df = df.filter(parse_filter(flt, dict(df.dtypes)))
    filtered = df
    if observation is not None:
        df = df.observe(observation, F.count(F.lit(1)).alias("n"))
    if order := _opt(options, "$orderby"):
        cols = []
        for part in order.split(","):
            toks = part.split()
            if not toks or len(toks) > 2:
                raise ValueError(f"$orderby: bad term {part!r}")
            c = _col(toks[0])
            if len(toks) == 2:
                if toks[1] not in ("asc", "desc"):
                    raise ValueError(f"$orderby: bad direction {toks[1]!r}")
                c = c.desc() if toks[1] == "desc" else c.asc()
            cols.append(c)
        df = df.orderBy(*cols)
    if select := _opt(options, "$select"):
        df = df.select(
            *[_col(s.strip()) for s in select.split(",") if s.strip()]
        )
    if skip := _opt(options, "$skip"):
        df = df.offset(int(skip))
    if top := _opt(options, "$top"):
        df = df.limit(int(top))
    return df, filtered


def apply_odata_options(df: DataFrame, options: Mapping[str, str]) -> DataFrame:
    """Apply ``$filter`` / ``$select`` / ``$orderby`` / ``$skip`` /
    ``$top`` in OData's prescribed evaluation order. ``$skip`` needs a
    deterministic order to be meaningful, but that is the caller's
    contract (same as the spec's)."""
    shaped, _ = _apply(df, options)
    return shaped


def _reads_every_row(probe: DataFrame) -> bool:
    """Whether collecting ``probe`` consumes every row that reaches its
    observed ``$filter`` output. It does when the executed plan is a
    ``TakeOrderedAndProject`` over an input with no output ordering:
    each partition's top-k then drains its whole partition. A
    ``CollectLimit`` (unsorted ``$top``) stops after ``limit`` rows, and
    over an input already ordered by the sort keys (``spark.range``)
    Spark's top-k takes only each partition's head. The plan is the
    probe's own ``QueryExecution``, so the ``collect()`` that follows
    reuses it instead of planning again."""
    plan = probe._jdf.queryExecution().executedPlan()
    return (
        plan.nodeName() == "TakeOrderedAndProject"
        and plan.children().head().outputOrdering().isEmpty()
    )


def odata_response(
    df: DataFrame,
    options: Mapping[str, str] | None = None,
    context: str = "$metadata",
    base_url: str | None = None,
    page_size: int | None = None,
) -> dict:
    """The response envelope the reference's clients consume
    (`ODataProvider.fs:18-22`): ``@odata.context`` + ``value`` rows,
    ``@odata.count`` when ``$count=true``, and ``@odata.nextLink`` when
    a server ``page_size`` truncates the result.

    A page bounded by ``$top`` or ``page_size`` is taken with one
    ``collect()``: at most ``$top`` or ``page_size + 1`` rows reach the
    driver, and a sorted page's top-k merges on the driver in one job
    (through ``toLocalIterator`` it would first shuffle a multi-partition
    input into one partition). An unbounded response streams via
    ``toLocalIterator``, one partition in driver memory at a time, so
    serving a 100 TB table never holds more than the rows it emits.
    With ``$count=true``, a bounded page whose executed plan is a
    ``TakeOrderedAndProject`` over an unordered input (a sorted page
    over a parquet scan, with or without ``$skip``) takes
    ``@odata.count`` from an ``Observation`` on the post-``$filter``
    frame, filled by that same ``collect()``: one Spark job in all.
    Every other request runs ``count()`` on the filtered frame, because
    its page may stop reading early: an unsorted ``$top``, an input
    already ordered by the sort keys (Spark's top-k then takes only each
    partition's head), and an unbounded response.
    ``base_url`` is only needed when paging (the nextLink must point
    somewhere). When the client sent its own ``$top``, the nextLink
    re-issues the REMAINING top (client cap minus rows already served)
    so following every nextLink delivers exactly ``$top`` rows in
    total, never more.
    """
    options = options or {}
    out: dict = {"@odata.context": context}

    client_top = _opt(options, "$top")
    bounded = page_size is not None or client_top is not None
    want_count = (_opt(options, "$count") or "").lower() == "true"
    seen = Observation() if want_count and bounded else None
    shaped, filtered = _apply(df, options, seen)
    if page_size is not None:
        probe = shaped.limit(page_size + 1)
    else:
        probe = shaped
    folded = seen is not None and _reads_every_row(probe)
    if want_count and not folded:
        # count AFTER filter, BEFORE paging, per spec; reuses the same
        # compiled predicate via the shared _apply core. An observed
        # probe's collect below still completes its (unread) observation.
        out["@odata.count"] = filtered.count()
    cols = probe.columns
    rows = []
    truncated = False
    for row in probe.collect() if bounded else probe.toLocalIterator():
        if page_size is not None and len(rows) >= page_size:
            truncated = True
            break
        rows.append({c: json_cell(v) for c, v in zip(cols, row)})
    if folded:
        out["@odata.count"] = seen.get["n"]
    out["value"] = rows

    remaining_top = None
    if truncated and client_top is not None:
        remaining_top = int(client_top) - len(rows)
        if remaining_top <= 0:  # client cap exactly served — done
            truncated = False
    if truncated:
        if base_url is None:
            raise ValueError("page_size paging needs base_url for @odata.nextLink")
        from urllib.parse import quote

        skip = int(_opt(options, "$skip") or 0) + len(rows)
        keep = []
        for k, v in options.items():
            bare = k.lstrip("$")
            if bare == "skip" or (bare == "top" and remaining_top is not None):
                continue
            keep.append(f"${bare}={quote(str(v), safe='$,()')}")
        if remaining_top is not None:
            keep.append(f"$top={remaining_top}")
        sep = "&" if "?" in base_url else "?"
        out["@odata.nextLink"] = base_url + sep + "&".join(
            [*keep, f"$skip={skip}"]
        )
    return out
