"""``Pipeline`` — the engine's one table abstraction.

The reference's ``DataMatrix`` (a Deedle frame) is an *ordered, row-keyed*
columnar table mutated statement-by-statement
(SURVEY §1; `tools/visualizer/web/src/Server/Reader.fs:148-204`).
Spark DataFrames are unordered multisets, so the two reference invariants
are carried as **metadata on the wrapper**, not materialized columns:

* ``key_cols``  — the current row key (set by ``group by`` / ``pivot`` /
  ``index by``; read by the ``keys`` expression).  Keys are ordinary
  visible columns here, which is observationally identical: the reference
  idiom ``create column SprintNumber keys`` (`MTTR.hb:28`) simply
  re-materializes the key as a column.
* ``order``     — the current row order (set by ``sort by``; consumed by
  ``moving`` / ``expanding`` / ``ordinals`` / ``buckets``).  Keeping order
  as *sort expressions* instead of a materialized ``row_number`` column
  means no forced single-partition shuffle until a window actually runs,
  and Catalyst still sees plain sorted scans.

Scale note: the reference's windowed series always run *after* heavy
aggregation (e.g. one row per sprint — `Velocity.hb:28-31`), so an
unpartitioned ``Window.orderBy`` there is a few-hundred-row single task.
For window functions over *raw* data at 100 TB, every windowed method
takes ``partition_by=`` to keep the shuffle keyed.

Every method returns a new ``Pipeline`` (immutable, like the reference's
matrix->matrix closure composition, `Reader.fs:86-95`). A ``Pipeline``
carries no cache key: the engine's one result cache is sync's parquet
cache (``sync._key_of`` / ``sync.read_cached``), which keys whole
configurations the way the reference keys ``md5(source):t1:t2``.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Sequence
from functools import reduce as _reduce
from typing import Optional, Union

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hobbes_spark.expressions import c, qname
from hobbes_spark.reductions import (
    NUMERIC_ONLY,
    is_numeric_type,
    numeric_columns,
    reduction_fn,
)

ColumnLike = Union[str, Column]

__all__ = ["Pipeline", "GroupedPipeline", "read_parquet_any_ts"]


def _nanos_ts_cols(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS), from the footer
    schema only (no row data touched). Empty when pyarrow is unavailable
    or the path isn't introspectable (e.g. a glob)."""
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            inner = sorted(
                f for f in os.listdir(path) if f.endswith((".parquet", ".pq"))
            )
            if not inner:
                # partitioned layout (dir of key=value dirs): descend one
                # level so the footer sniff still sees a real file
                subdirs = sorted(
                    d for d in os.listdir(path)
                    if os.path.isdir(os.path.join(path, d))
                )
                for d in subdirs:
                    cols = _nanos_ts_cols(os.path.join(path, d))
                    if cols:
                        return cols
                return []
            path = os.path.join(path, inner[0])
        # tz-aware nanos footer-print as "timestamp[ns, tz=UTC]" — the
        # prefix match catches both spellings (both map to parquet
        # TIMESTAMP(NANOS), which stock Spark rejects)
        return [
            f.name
            for f in pq.read_schema(path)
            if str(f.type).startswith("timestamp[ns")
        ]
    except Exception:
        return []


# path -> (applicationId, signature, nanos_cols, raw_schema). A slot is
# written in one assignment and read into a local before it is compared,
# so sync's worker threads never see half of an update.
_SCHEMA_CACHE: dict = {}


def _listing_signature(path: str):
    """``os.stat`` identity of a parquet path: a file's ``(mtime_ns,
    size)``; a directory's own mtime_ns plus ``(name, mtime_ns, size)``
    of each top-level entry. An overwrite, an added or removed file and
    a partition directory whose file set changed all alter it. ``None``
    (nothing reused) when the path cannot be stat'ed, e.g. a glob or a
    remote URI."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        with os.scandir(path) as it:
            entries = []
            for e in it:
                est = e.stat()
                entries.append((e.name, est.st_mtime_ns, est.st_size))
        return (st.st_mtime_ns, tuple(sorted(entries)))
    except OSError:
        return None


def _read_raw_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, list[str]]:
    """``spark.read.parquet(path)`` before any nanos fix-up, plus the
    TIMESTAMP(NANOS) column names, with ``nanosAsLong`` flipped on when
    there are any. Only the schema is remembered (``_SCHEMA_CACHE``),
    never data."""
    app = spark.sparkContext.applicationId
    sig = _listing_signature(path)
    slot = _SCHEMA_CACHE.get(path)
    if slot is not None and slot[:2] == (app, sig):
        nanos, schema = slot[2], slot[3]
    else:
        nanos, schema = _nanos_ts_cols(path), None
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is not None:
        return spark.read.schema(schema).parquet(path), nanos
    df = spark.read.parquet(path)
    if sig is not None:
        _SCHEMA_CACHE[path] = (app, sig, nanos, df.schema)
    return df, nanos


def read_parquet_any_ts(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` that tolerates TIMESTAMP(NANOS) columns.

    Stock Spark sessions reject nanosecond parquet timestamps outright
    (PARQUET_TYPE_ILLEGAL); the escape hatch conf
    ``spark.sql.legacy.parquet.nanosAsLong`` is runtime-settable, so it
    is flipped here — at read time, keyed off the footer schema — rather
    than relying on session construction (the driver's correctness gate
    builds its own stock session). Nano columns then arrive as raw
    nanosecond longs and are truncated to microsecond timestamps
    in-plan.

    The schema is resolved once per session, path and listing signature
    (see ``_listing_signature``): the first read still infers it with a
    Spark job, and every later read of the unchanged path hands it to
    the reader and launches none. An in-place rewrite of a file nested
    below a partition directory leaves the signature alone; Spark's own
    writers never do that, they add new files.

    The conf deliberately stays set afterwards: parquet scans re-consult
    it per file at EXECUTION time, and these DataFrames are lazy — an
    eager reset would blow up the very scan this function just built.
    Consequence: a later nanos file whose footer this sniff could NOT
    introspect (unreadable glob) loads as raw bigint instead of failing
    loudly; the sniff therefore walks directories (including one
    partition level) so that case is confined to exotic paths, and
    callers hitting it see bigint columns rather than silent truncation."""
    df, nanos = _read_raw_parquet(spark, path)
    dtypes = dict(df.dtypes)
    for colname in nanos:
        # INT96 columns also footer-sniff as timestamp[ns] via pyarrow,
        # but Spark loads them as TIMESTAMP directly — only truncate the
        # columns that actually arrived as raw nanosecond longs
        if dtypes.get(colname) == "bigint":
            df = df.withColumn(
                colname, F.expr(f"timestamp_micros(`{colname}` div 1000)")
            )
    return df


class Pipeline:
    """Immutable fluent wrapper: DataFrame + (row key, row order) metadata."""

    def __init__(
        self,
        df: DataFrame,
        key_cols: tuple[str, ...] = (),
        order: tuple[tuple[str, bool], ...] = (),
    ):
        self._df = df
        self.key_cols = tuple(key_cols)
        #: ((column_name, ascending), ...) — the current row order
        self.order = tuple(order)

    # ------------------------------------------------------------------ #
    # construction
    # ------------------------------------------------------------------ #

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str) -> "Pipeline":
        return cls(read_parquet_any_ts(spark, path))

    @classmethod
    def table(cls, spark: SparkSession, sf_dir: str, name: str) -> "Pipeline":
        """Load one of the driver test tables (nanos-timestamp safe —
        see ``read_parquet_any_ts``)."""
        return cls.from_parquet(spark, f"{sf_dir}/{name}.parquet")

    # ------------------------------------------------------------------ #
    # plumbing
    # ------------------------------------------------------------------ #

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def columns(self) -> list[str]:
        return self._df.columns

    def _step(
        self,
        df: DataFrame,
        key_cols: Optional[tuple[str, ...]] = None,
        order: Optional[tuple[tuple[str, bool], ...]] = None,
    ) -> "Pipeline":
        return Pipeline(
            df,
            key_cols=self.key_cols if key_cols is None else key_cols,
            order=self.order if order is None else order,
        )

    def _order_exprs(self) -> list[Column]:
        if not self.order:
            raise ValueError(
                "this operator needs a row order; call .sort_by(...) first "
                "(the reference's moving/expanding likewise only make sense "
                "after `sort by` — workbench Metrics.fs:56-57)"
            )
        return [c(n).asc() if asc else c(n).desc() for n, asc in self.order]

    def _surviving_order(self, remaining: Sequence[str]) -> tuple[tuple[str, bool], ...]:
        """Order metadata survives only while its columns survive."""
        rem = set(remaining)
        return tuple((n, a) for n, a in self.order if n in rem)

    def _surviving_keys(self, remaining: Sequence[str]) -> tuple[str, ...]:
        rem = set(remaining)
        return tuple(k for k in self.key_cols if k in rem)

    # ------------------------------------------------------------------ #
    # §2.3 filters
    # ------------------------------------------------------------------ #

    def only(self, cond: Union[Column, bool]) -> "Pipeline":
        """``only (boolExpr)`` — keep rows satisfying the predicate.

        ``only True`` is the identity pass-through (reference
        `General.fs:66-68`); ``only False`` drops every row (plain bools
        must not reach ``df.filter``, which rejects them).
        Reference: snippets:76-83, `flowerpot.hb:12`.
        """
        if cond is True:
            return self
        if cond is False:
            return self._step(self._df.filter(F.lit(False)))
        return self._step(self._df.filter(cond))

    # ------------------------------------------------------------------ #
    # §2.2 projection / column ops
    # ------------------------------------------------------------------ #

    def slice_columns(self, *names: str) -> "Pipeline":
        """``slice columns c1 c2 …`` — keep listed columns; names that do
        not exist are silently skipped (snippets:27-34: "Will not fail if a
        named column doesn't exist"). Early projection is the reference's
        manual column pruning (`General.fs:42-49`); here Catalyst also
        prunes the scan."""
        keep = [n for n in names if n in self._df.columns]
        return self._step(
            self._df.select(*[c(n) for n in keep]),
            key_cols=self._surviving_keys(keep),
            order=self._surviving_order(keep),
        )

    def slice_rows(self, start: int, end: int) -> "Pipeline":
        """``slice rows a b`` — keep rows with ordinal in [start, end]
        (0-based, inclusive) under the current order. Reference semantics
        under-specified (tutorial:69-76) — [inferred]."""
        w = Window.orderBy(*self._order_exprs())
        ord_col = F.row_number().over(w) - 1
        out = (
            self._df.withColumn("__slice_ord", ord_col)
            .filter((F.col("__slice_ord") >= start) & (F.col("__slice_ord") <= end))
            .drop("__slice_ord")
        )
        return self._step(out)

    def rename_column(self, old: str, new: str) -> "Pipeline":
        """``rename column a b`` (snippets:11-17, `flowerpot.hb:15`).

        Renaming ONTO an existing column raises here: Spark's
        ``withColumnRenamed`` would happily produce two columns named
        ``new`` and the resulting AMBIGUOUS_REFERENCE fires far from the
        rename that caused it. (The reference's rename-then-recreate
        idiom renames to a FRESH name, then `create`s — `MTTR.hb:25-26` —
        and create_column handles the shadowing case.)"""
        if new != old and new in self._df.columns:
            raise ValueError(
                f"rename {old!r} -> {new!r}: column {new!r} already exists "
                "(use create_column to overwrite, or rename to a fresh name)"
            )
        out = self._df.withColumnRenamed(old, new)
        ren = lambda n: new if n == old else n  # noqa: E731
        return self._step(
            out,
            key_cols=tuple(ren(k) for k in self.key_cols),
            order=tuple((ren(n), a) for n, a in self.order),
        )

    def create_column(self, name: str, expr: Union[Column, str, int, float, bool]) -> "Pipeline":
        """``create column name (expr)`` — add/overwrite a column
        (snippets:3-9). May shadow an existing column, enabling the
        reference's rename-then-recreate idiom (`MTTR.hb:25-26`).
        Plain strings are treated as *literals* here (DSL string literal);
        pass a Column to reference other columns."""
        col = expr if isinstance(expr, Column) else F.lit(expr)
        return self._step(self._df.withColumn(name, col))

    def dense_columns(self, max_null_fraction: float = 0.0) -> "Pipeline":
        """``dense columns`` — drop columns with missing values
        (snippets:36-42). Default drops any column containing a NULL
        (Deedle dropSparseCols semantics, [inferred]); raise
        ``max_null_fraction`` to tolerate sparser columns.

        One aggregate pass computes every column's null fraction
        (map-side combinable, no per-column jobs)."""
        cols = self._df.columns
        fracs = self._df.agg(
            *[F.avg(c(col).isNull().cast("double")).alias(col) for col in cols]
        ).first()
        keep = [col for col in cols if (fracs[col] or 0.0) <= max_null_fraction]
        return self._step(
            self._df.select(*[c(n) for n in keep]),
            key_cols=self._surviving_keys(keep),
            order=self._surviving_order(keep),
        )

    def dense_rows(self, max_missing: int = 0) -> "Pipeline":
        """``dense rows`` — drop rows with more than ``max_missing`` NULL
        cells (snippets:44-50; default: any NULL drops the row)."""
        null_count = _reduce(
            lambda a, b: a + b,
            [c(col).isNull().cast("int") for col in self._df.columns],
        )
        return self._step(self._df.filter(null_count <= max_missing))

    def numeric_columns(self) -> "Pipeline":
        """``numeric columns`` — keep only numeric columns (snippets:52-58).
        Key columns survive regardless (they are the row index)."""
        keep = [
            f.name
            for f in self._df.schema.fields
            if is_numeric_type(f.dataType) or f.name in self.key_cols
        ]
        return self._step(
            self._df.select(*[c(n) for n in keep]),
            order=self._surviving_order(keep),
        )

    # ------------------------------------------------------------------ #
    # §2.7 sort / index / keys / ordinals
    # ------------------------------------------------------------------ #

    def sort_by(self, *cols: str, ascending: bool = True) -> "Pipeline":
        """``sort by column c`` — establishes the row order all later
        windowed ops use (snippets:68-74, `Velocity.hb:29`)."""
        order = tuple((n, ascending) for n in cols)
        exprs = [c(n).asc() if asc else c(n).desc() for n, asc in order]
        return self._step(self._df.orderBy(*exprs), order=order)

    def index_by(self, *cols: str) -> "Pipeline":
        """``index rows by col`` — re-key rows; "mostly relevant when
        joining — joins are always done on the index" (snippets:60-67,
        `MTTR.hb:30`). To index by an expression, ``create_column`` it
        first (the reference computes expressions into columns the same
        way)."""
        missing = [n for n in cols if n not in self._df.columns]
        if missing:
            raise ValueError(f"index by unknown column(s) {missing}")
        return self._step(self._df, key_cols=tuple(cols))

    def keys_col(self) -> Column:
        """The ``keys`` expression — current row key as a value
        (`MTTR.hb:28`, snippets:166-172). Compound keys render dash-joined
        like the reference (`Reader.fs:203` ``String.Join("-", l)``)."""
        if not self.key_cols:
            raise ValueError("no row key set; use group_by/pivot/index_by first")
        if len(self.key_cols) == 1:
            return c(self.key_cols[0])
        return F.concat_ws("-", *[c(k).cast("string") for k in self.key_cols])

    def ordinals_col(self) -> Column:
        """The ``ordinals`` expression — 0-based row position under the
        current order (grammar:10)."""
        return F.row_number().over(Window.orderBy(*self._order_exprs())) - 1

    # ------------------------------------------------------------------ #
    # §2.4 group by
    # ------------------------------------------------------------------ #

    def group_by(self, *keys: str) -> "GroupedPipeline":
        """``group by "c1" "c2" … -> reductionOrSelector``
        (`flowerpot.hb:13`, snippets:109-132)."""
        return GroupedPipeline(self, keys)

    # ------------------------------------------------------------------ #
    # §2.6 pivot
    # ------------------------------------------------------------------ #

    def pivot(
        self,
        row_keys: Sequence[str],
        col_key: str,
        reduction: str,
        value_col: Optional[str] = None,
        col_values: Optional[Sequence] = None,
    ) -> "Pipeline":
        """``pivot [rowExpr] [colExpr] -> reduction [valueExpr]`` —
        new columns from the *values* of ``col_key`` (`Velocity.hb:28`,
        snippets:19-25; output shape `FIXTURES.md` F5).

        ``col_values``: pass the expected pivot values when known — skips
        the extra distinct-scan Spark otherwise runs, which matters at
        100 TB (the reference's pivot columns are always small enumerable
        sets like Todo/Doing/Done)."""
        row_keys = list(row_keys)
        if value_col is None:
            if reduction == "count":
                # counting without an explicit value column counts ROWS —
                # counting the row key would make a NULL-keyed group read
                # 0 even when its rows exist
                vexpr = F.lit(1)
            elif row_keys:
                vexpr = c(row_keys[0])
            else:
                raise ValueError("pivot needs row_keys or an explicit value_col")
        else:
            vexpr = c(value_col)
        gp = self._df.groupBy(*[c(k) for k in row_keys])
        # qname: flattened dot-path columns are real flat names here, but
        # GroupedData.pivot parses its string with struct dot-resolution
        pv = (
            gp.pivot(qname(col_key), list(col_values))
            if col_values
            else gp.pivot(qname(col_key))
        )
        out = pv.agg(reduction_fn(reduction)(vexpr))
        if reduction == "count":
            # Spark's pivot leaves an absent (row, col) cell NULL; the
            # reference's pivotTable applies the reduction to the empty
            # sub-frame, and count of an empty frame is 0 — and downstream
            # arithmetic (moving means over a pivoted count column)
            # treats NULL and 0 differently. Only `count` gets this fill:
            # for sum/mean/etc. an empty cell has no defined value.
            out = out.fillna(0, subset=[f for f in out.columns if f not in row_keys])
        return self._step(out, key_cols=tuple(row_keys), order=())

    def unpivot(
        self,
        ids: Sequence[str],
        values: Sequence[str],
        var_name: str = "variable",
        value_name: str = "value",
    ) -> "Pipeline":
        """Melt: the inverse of ``pivot`` (beyond-reference — the
        reference only widens). Wide ``values`` columns become
        (``var_name``, ``value_name``) long rows, one per (row, value
        column). Compiles to Spark's Expand — each input row replicates
        once per value column BEFORE any shuffle, so the melt is
        map-only and embarrassingly parallel at any scale."""
        out = self._df.unpivot(
            [c(k) for k in ids], [c(v) for v in values], var_name, value_name
        )
        return self._step(out, key_cols=tuple([*ids, var_name]), order=())

    # ------------------------------------------------------------------ #
    # §2.8 windowed series — implemented in operators/windows.py,
    # exposed here as fluent methods
    # ------------------------------------------------------------------ #

    def moving(
        self,
        out_name: str,
        reduction: str,
        n: int,
        value_col: ColumnLike,
        partition_by: Sequence[str] = (),
    ) -> "Pipeline":
        """``create column X (moving R n [col])`` — trailing window of ``n``
        rows; NULL until the window is full (snippets:182-188,
        `MTTR.hb:31-33`, `Velocity.hb:30-31`).

        ``partition_by`` keeps the window shuffle keyed for large inputs;
        the reference always runs these on small post-aggregation series."""
        from hobbes_spark.operators.windows import moving_col

        col = moving_col(reduction, n, c(value_col), self._order_exprs(), partition_by)
        return self._step(self._df.withColumn(out_name, col))

    def expanding(
        self,
        out_name: str,
        reduction: str,
        value_col: ColumnLike,
        partition_by: Sequence[str] = (),
    ) -> "Pipeline":
        """``create column X (expanding R [col])`` — running reduction from
        the first row (snippets:190-196; burn-up `Metrics.fs:59`)."""
        from hobbes_spark.operators.windows import expanding_col

        col = expanding_col(reduction, c(value_col), self._order_exprs(), partition_by)
        return self._step(self._df.withColumn(out_name, col))

    # ------------------------------------------------------------------ #
    # §2.9 / §2.8 ML & series ops — implemented in operators/ml.py
    # ------------------------------------------------------------------ #

    def buckets(self, n: int, reduction: str) -> "Pipeline":
        from hobbes_spark.operators.ml import buckets

        return buckets(self, n, reduction)

    def kmeans(self, k: int, reduction: str) -> "Pipeline":
        """``k-means n -> R`` — one output row per non-empty cluster
        (``cluster`` in 0..k-1), each numeric column reduced by
        ``reduction``.

        Deterministic Lloyd's: centres start linearly spaced between each
        column's min and max, 8 iterations, centres rounded half-up to
        2 dp after each update, a row goes to its nearest centre with
        ties to the lowest index. Rows with a NULL or NaN in any numeric
        column are skipped; non-numeric columns are dropped and the
        numeric ones are read as double, so every numeric output is
        double (``count`` and ``distinct`` are bigint)."""
        from hobbes_spark.operators.ml import kmeans

        return kmeans(self, k, reduction)

    def each(self, reduction: str) -> "Pipeline":
        from hobbes_spark.operators.ml import each

        return each(self, reduction)

    def linear_regression(self, x_col: ColumnLike, y_col: ColumnLike) -> "Pipeline":
        from hobbes_spark.operators.ml import linear_regression

        return linear_regression(self, x_col, y_col)

    def linear_extrapolation(self, value_col: str, n_pred: int, n_train: int) -> "Pipeline":
        from hobbes_spark.operators.ml import linear_extrapolation

        return linear_extrapolation(self, value_col, n_pred, n_train)

    # ------------------------------------------------------------------ #
    # §2.5 combinators
    # ------------------------------------------------------------------ #

    def join(self, other: "Pipeline", field: str, how: str = "outer", broadcast: bool = False) -> "Pipeline":
        """``Join {Left; Right; Field}`` — single-field equi-join
        (`Processer.fs:24-32`; outer per Deedle Frame.join default,
        [inferred]). "Joins are always done on the index" — the field
        becomes the row key.

        ``broadcast=True`` hints the right side as a broadcast join —
        at 100 TB any dimension-sized right side should set it (AQE also
        auto-converts when the size estimate is below the threshold)."""
        from hobbes_spark.operators.combinators import join

        return join(self, other, field, how=how, broadcast=broadcast)

    @staticmethod
    def merge(*pipelines: "Pipeline") -> "Pipeline":
        """``Merge [d1; d2; …]`` — n-ary row concat tolerating differing
        columns and empty sides (`Processer.fs:17-22`,
        `calculator.worker/tests/Processer.fs:62-72`)."""
        from hobbes_spark.operators.combinators import merge

        return merge(*pipelines)

    def _aligned_for_setop(self, other: "Pipeline", op: str) -> DataFrame:
        """Set ops are positional in Spark: align the right side to this
        pipeline's column order by NAME first, and reject mismatched
        column sets — positional intersect over reordered columns returns
        a silently wrong (usually empty) result, not an error."""
        if set(self.columns) != set(other.columns):
            raise ValueError(
                f"{op}: column sets differ: {sorted(self.columns)} vs "
                f"{sorted(other.columns)}"
            )
        return other.df.select(*self.columns)

    def intersect_rows(self, other: "Pipeline") -> "Pipeline":
        """Distinct rows present in BOTH pipelines (SQL INTERSECT
        semantics, NULLs compare equal; columns aligned by name).
        Beyond-reference (SURVEY §2.5 lists set ops as absent); a keyed
        shuffle + merge, no cross product."""
        return self._step(
            self._df.intersect(self._aligned_for_setop(other, "intersect_rows")),
            order=(),
        )

    def except_rows(self, other: "Pipeline") -> "Pipeline":
        """Distinct rows of this pipeline NOT in ``other`` (SQL EXCEPT
        semantics; columns aligned by name). Beyond-reference, same
        shuffle shape as intersect."""
        return self._step(
            self._df.subtract(self._aligned_for_setop(other, "except_rows")),
            order=(),
        )

    # ------------------------------------------------------------------ #
    # materialization
    # ------------------------------------------------------------------ #

    def collect(self):
        return self._df.collect()


class GroupedPipeline:
    """``group by ks -> …`` continuation: a reduction or a row selector.

    Reference syntax `flowerpot.hb:13` (selector) and `MTTR.hb:23-27`
    (reduction applied to every remaining column).
    """

    def __init__(self, parent: Pipeline, keys: Sequence[str]):
        if not keys:
            raise ValueError("group by needs at least one key column")
        self.parent = parent
        self.keys = tuple(keys)

    def _selector(self, expr: ColumnLike, descending: bool, tiebreak: Sequence[ColumnLike]) -> Pipeline:
        """Keep the whole row per group where ``expr`` is extreme.

        Implemented as a keyed ``row_number`` window — one shuffle on the
        group keys, no join-back. Ties pick one arbitrary row like the
        reference ([inferred]); pass ``tiebreak`` columns for determinism
        (the oracle queries always do).
        """
        main = c(expr).desc() if descending else c(expr).asc()
        order = [main] + [c(t).desc() if descending else c(t).asc() for t in tiebreak]
        w = Window.partitionBy(*[c(k) for k in self.keys]).orderBy(*order)
        df = self.parent.df
        out = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        return self.parent._step(out, key_cols=self.keys, order=())

    def maxby(self, expr: ColumnLike, tiebreak: Sequence[ColumnLike] = ()) -> Pipeline:
        """``group by ks -> maxby expr`` — e.g. latest revision per
        (sprint, work item) (`flowerpot.hb:13`, snippets:117-123)."""
        return self._selector(expr, descending=True, tiebreak=tiebreak)

    def minby(self, expr: ColumnLike, tiebreak: Sequence[ColumnLike] = ()) -> Pipeline:
        """``group by ks -> minby expr`` (snippets:125-131)."""
        return self._selector(expr, descending=False, tiebreak=tiebreak)

    def reduce(
        self,
        reduction: str,
        approx_median: bool = False,
        approx_distinct: bool = False,
    ) -> Pipeline:
        """``group by ks -> R`` — apply ``R`` to every remaining column
        (snippets:109-115 "reduces all cells in a group"; `MTTR.hb:23-27`
        sums the metric and the tick counter in one statement).

        Typing rule: numeric-only reductions (sum/mean/median/stddev/
        variance) drop non-numeric columns; count/distinct/min/max apply
        to every column. Aggregated columns keep their names, as the
        reference's downstream statements assume (`MTTR.hb:25`).

        ``approx_median=True`` swaps exact ``median`` for
        ``percentile_approx`` (1e-4 relative error): the scale path when
        groups hold millions of rows — exact median buffers each group's
        values, approx keeps a fixed-size sketch and map-side combines.
        ``approx_distinct=True`` likewise swaps exact ``distinct`` for
        the HyperLogLog++ sketch (``approx_count_distinct``, ~2% rsd):
        exact distinct shuffles every distinct value; the sketch is a
        fixed few KB per group and fully map-side combinable."""
        df = self.parent.df
        fn = reduction_fn(reduction)
        if reduction == "median" and approx_median:
            fn = lambda col: F.percentile_approx(col, 0.5, 10000)  # noqa: E731
        if reduction == "distinct" and approx_distinct:
            fn = lambda col: F.approx_count_distinct(col, 0.02)  # noqa: E731
        rest = [col for col in df.columns if col not in self.keys]
        if reduction in NUMERIC_ONLY:
            num = set(numeric_columns(df))
            rest = [col for col in rest if col in num]
        aggs = [fn(c(col)).alias(col) for col in rest]
        if not aggs:
            out = df.groupBy(*[c(k) for k in self.keys]).count().drop("count")
        else:
            out = df.groupBy(*[c(k) for k in self.keys]).agg(*aggs)
        return self.parent._step(out, key_cols=self.keys, order=())

    def count_rows(self) -> Pipeline:
        """``group by ks -> count`` as used for daily commit counts
        (`Git.fs:12-17`): one ``count`` column of group sizes."""
        out = self.parent.df.groupBy(*[c(k) for k in self.keys]).agg(F.count(F.lit(1)).alias("count"))
        return self.parent._step(out, key_cols=self.keys, order=())

    def agg(self, **named: Column) -> Pipeline:
        """Explicit named aggregates (beyond-reference convenience)."""
        aggs = [col.alias(name) for name, col in named.items()]
        out = self.parent.df.groupBy(*[c(k) for k in self.keys]).agg(*aggs)
        return self.parent._step(out, key_cols=self.keys, order=())
