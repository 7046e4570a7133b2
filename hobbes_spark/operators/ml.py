"""ML / series operators: ``buckets``, ``k-means``, ``each``,
``linear regression``, ``linear extrapolation``.

The reference backs these with Accord.MachineLearning inside hobbes.core
(`paket.dependencies:13`); here they are plain DataFrame algebra, with
k-means as a deterministic Lloyd's whose centres are the only values
that reach the driver.
"""

from __future__ import annotations

from functools import reduce as _reduce

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from hobbes_spark.expressions import c
from hobbes_spark.reductions import NUMERIC_ONLY, numeric_columns, reduction_fn

__all__ = ["buckets", "kmeans", "each", "linear_regression", "linear_extrapolation"]


def _agg_numeric(df, group_col: str, reduction: str):
    fn = reduction_fn(reduction)
    nums = [col for col in numeric_columns(df) if col != group_col]
    return df.groupBy(group_col).agg(*[fn(c(col)).alias(col) for col in nums])


def buckets(pipeline, n: int, reduction: str):
    """``buckets n -> R`` — split ordered rows into ``n`` equal-count
    buckets, reduce each bucket's numeric columns; non-numeric columns
    discarded (snippets:85-91). The last bucket takes the remainder.

    ``ntile`` over the pipeline order — the reference applies this to
    small ordered series, so the single-task window is fine; at scale
    bucket assignment over raw data should instead be a key expression.

    Note: ntile spreads the remainder over the *first* buckets; the
    reference gives the remainder to the last ([inferred]). We compute
    bucket = floor(rank * n / (count+1)) capped, reproducing
    remainder-to-last exactly.
    """
    df = pipeline.df
    w = Window.orderBy(*pipeline._order_exprs())
    rn = F.row_number().over(w)  # 1-based
    total = F.count(F.lit(1)).over(Window.partitionBy())
    # equal bucket size; remainder joins bucket n. Fewer rows than
    # buckets -> size clamps to 1 (one row per bucket, rest empty)
    size = F.greatest(F.floor(total / n), F.lit(1))
    bucket = F.least(((rn - 1) / size).cast("long") + 1, F.lit(n))
    out = _agg_numeric(df.withColumn("bucket", bucket), "bucket", reduction)
    return pipeline._step(
        out.orderBy("bucket"), key_cols=("bucket",), order=(("bucket", True),)
    )


def _round_half_up(x, dp: int):
    """floor(x*10^dp + 0.5)/10^dp — every step an IEEE-exact double op,
    so Spark, DuckDB, and Python agree bit-for-bit (matches queries._r)."""
    f = float(10**dp)
    if isinstance(x, float):
        import math

        return math.floor(x * f + 0.5) / f
    return F.floor(x * f + F.lit(0.5)) / F.lit(f)


# fixed iteration count and per-iteration centre rounding of ``kmeans``
_KMEANS_ITERS = 8
_KMEANS_CENTER_DP = 2


def kmeans(pipeline, k: int, reduction: str):
    """``k-means n -> R`` — cluster rows on their numeric columns, reduce
    each cluster to representative scalars (snippets:93-99), on a
    DETERMINISTIC fixed-iteration Lloyd's: bit-reproducible across
    engines and across row layouts, which makes the clustering
    oracle-checkable.

    Determinism recipe (mirrored exactly by the generated DuckDB oracle
    in queries._kmeans_sql):

    * init: per-dimension LINEAR spacing, ``lo + (hi-lo)*(2i+1)/(2k)``
      — exact from min/max, no quantile or RNG semantics to match;
    * assignment: squared euclidean distance to each center, ties to
      the LOWEST cluster index (explicit first-match CASE chain);
    * update: per-dimension mean, rounded half-up to ``_KMEANS_CENTER_DP``
      decimals each iteration — the rounding absorbs the summation-order
      FP noise between engines, so both iterate over IDENTICAL centers;
    * empty cluster: keeps its previous center;
    * stop: exactly ``_KMEANS_ITERS`` iterations (not to-convergence — a
      convergence test would make parity depend on the noise the
      rounding suppresses).

    Distributed shape: per iteration one partial-aggregated groupBy;
    only the k×D rounded centers ever reach the driver (same
    O(log)-scalars pattern as connected_components' convergence check).
    """
    df = pipeline.df
    nums = numeric_columns(df)
    if not nums:
        raise ValueError("k-means needs at least one numeric column")
    clean = df.dropna(subset=nums).select(
        *[c(col).cast("double").alias(col) for col in nums]
    )
    # NaN is not NULL: dropna keeps it, and a NaN feature would crash
    # _round_half_up mid-iteration with an opaque ValueError
    for col in nums:
        clean = clean.filter(~F.isnan(F.col(col)))
    clean = clean.localCheckpoint(eager=True)  # _KMEANS_ITERS+2 consumers
    bounds = clean.agg(
        *[F.min(col).alias(f"lo_{col}") for col in nums],
        *[F.max(col).alias(f"hi_{col}") for col in nums],
    ).first()
    if bounds[f"lo_{nums[0]}"] is None:
        raise ValueError(
            "k-means: no complete rows (every row has a NULL/NaN in some "
            "numeric column) — nothing to cluster"
        )
    centers = [
        [
            bounds[f"lo_{col}"]
            + (bounds[f"hi_{col}"] - bounds[f"lo_{col}"]) * (2 * i + 1) / (2 * k)
            for col in nums
        ]
        for i in range(k)
    ]

    def assign(cs) -> Column:
        dists = [
            sum(
                ((c(col) - F.lit(cs[i][d])) * (c(col) - F.lit(cs[i][d])))
                for d, col in enumerate(nums)
            )
            for i in range(k)
        ]
        m = F.least(*dists) if k > 1 else dists[0]
        expr = F.lit(k - 1)
        for i in range(k - 2, -1, -1):  # first-match-wins == lowest index
            expr = F.when(dists[i] == m, F.lit(i)).otherwise(expr)
        return expr

    for _ in range(_KMEANS_ITERS):
        rows = (
            clean.groupBy(assign(centers).alias("__c"))
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[F.sum(col).alias(f"s_{col}") for col in nums],
            )
            .collect()
        )
        by_c = {r["__c"]: r for r in rows}
        centers = [
            [
                _round_half_up(by_c[i][f"s_{col}"] / by_c[i]["__n"], _KMEANS_CENTER_DP)
                if i in by_c
                else centers[i][d]
                for d, col in enumerate(nums)
            ]
            for i in range(k)
        ]

    out = _agg_numeric(
        clean.withColumn("cluster", assign(centers)), "cluster", reduction
    )
    return pipeline._step(
        out.orderBy("cluster"), key_cols=("cluster",), order=(("cluster", True),)
    )


def each(pipeline, reduction: str):
    """``each R`` — reduce each row's numeric cells to one scalar
    (snippets:101-107; non-numeric cells discarded). Output keeps the row
    key columns plus a single ``value`` column.

    Implemented with array expressions (array / filter / aggregate /
    array_sort) so the whole thing stays inside whole-stage codegen — no
    Python in the row path.
    """
    df = pipeline.df
    keys = list(pipeline.key_cols)
    nums = [col for col in numeric_columns(df) if col not in keys]
    if not nums:
        raise ValueError("each needs at least one numeric column")
    arr = F.array_compact(F.array(*[c(col).cast("double") for col in nums]))
    n = F.size(arr)
    total = F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)
    mean = total / n
    if reduction == "sum":
        val = total
    elif reduction == "count":
        val = n.cast("double")
    elif reduction == "distinct":
        val = F.size(F.array_distinct(arr)).cast("double")
    elif reduction == "max":
        val = F.array_max(arr)
    elif reduction == "min":
        val = F.array_min(arr)
    elif reduction == "mean":
        val = mean
    elif reduction == "median":
        s = F.array_sort(arr)
        mid = (n / 2).cast("int")
        odd = F.element_at(s, mid + 1)
        even = (F.element_at(s, mid) + F.element_at(s, mid + 1)) / 2.0
        val = F.when(n % 2 == 1, odd).otherwise(even)
    elif reduction in ("stddev", "variance"):
        var = F.when(
            n > 1,
            F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + (x - mean) * (x - mean))
            / (n - 1),
        )
        val = F.sqrt(var) if reduction == "stddev" else var
    else:
        raise ValueError(f"unknown reduction {reduction!r}")
    if reduction in ("count", "distinct"):
        # SQL count semantics: an all-NULL row counts 0, not NULL — the
        # n>0 mask exists for sum/mean-style reductions where an empty
        # array must NOT surface the fold seed as a value
        out = df.select(
            *[c(k).alias(k) for k in keys],
            F.coalesce(val, F.lit(0).cast("bigint")).alias("value"),
        )
    else:
        out = df.select(
            *[c(k).alias(k) for k in keys], F.when(n > 0, val).alias("value")
        )
    return pipeline._step(out)


def linear_regression(pipeline, x_col, y_col):
    """``linear regression [x] [y]`` — fit y = slope*x + intercept over the
    two series (snippets:198-204). Returns a one-row table
    (slope, intercept, r2) via Spark's regression aggregates — a single
    map-side-combinable pass, no MLlib job."""
    x, y = c(x_col), c(y_col)
    out = pipeline.df.agg(
        F.regr_slope(y, x).alias("slope"),
        F.regr_intercept(y, x).alias("intercept"),
        F.regr_r2(y, x).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )
    return pipeline._step(out, key_cols=(), order=())


def linear_extrapolation(pipeline, value_col: str, n_pred: int, n_train: int):
    """``linear extrapolation [col] nPred nTrain`` — fit a line on the last
    ``n_train`` rows (x = row ordinal) and append ``n_pred`` predicted rows
    (snippets:206-212; the reference's own implementation is known-buggy —
    `Metrics.fs:69-71` — so semantics here follow the snippet doc).

    Appended rows carry the predicted ``value_col`` and ordinal; all other
    columns are NULL. No driver-side collect: the fitted parameters travel
    as a broadcast one-row DataFrame and predictions are generated with
    ``sequence``/``explode`` inside the plan.
    """
    if n_pred < 0 or n_train < 1:
        # F.sequence(start, stop) auto-steps -1 when start > stop, so an
        # unguarded n_pred=0 would append TWO phantom rows (one colliding
        # with the last real ordinal) instead of zero
        raise ValueError(
            f"linear_extrapolation: need n_pred >= 0 and n_train >= 1, "
            f"got n_pred={n_pred}, n_train={n_train}"
        )
    df = pipeline.df
    w = Window.orderBy(*pipeline._order_exprs())
    # three consumers (stats agg, fit crossJoin, existing-rows union):
    # without truncation each re-runs the global-order sort — same
    # multi-consumer rationale as kmeans' clean checkpoint (the
    # series is small post-aggregation data per the reference semantics)
    base = df.withColumn("__i", F.row_number().over(w)).localCheckpoint()
    stats = base.agg(F.max("__i").alias("__total"))
    fit = (
        base.crossJoin(F.broadcast(stats))
        .filter(F.col("__i") > F.col("__total") - n_train)
        .agg(
            F.regr_slope(F.col(value_col), F.col("__i")).alias("__slope"),
            F.regr_intercept(F.col(value_col), F.col("__i")).alias("__icept"),
            F.max("__total").alias("__total"),
        )
    )
    preds = (
        fit.select(
            F.explode(
                # explicit empty sequence for n_pred=0: sequence(t+1, t)
                # would otherwise auto-step DOWN and fabricate rows
                F.sequence(F.col("__total") + 1, F.col("__total") + n_pred)
                if n_pred > 0
                else F.array().cast("array<int>")
            ).alias("__i"),
            F.col("__slope"),
            F.col("__icept"),
        )
        .select(
            F.col("__i"),
            (F.col("__slope") * F.col("__i") + F.col("__icept")).alias(value_col),
            F.lit(True).alias("predicted"),
        )
    )
    existing = base.withColumn("predicted", F.lit(False))
    out = (
        existing.unionByName(preds, allowMissingColumns=True)
        .withColumnRenamed("__i", "ordinal")
        .orderBy("ordinal")
    )
    return pipeline._step(out, order=(("ordinal", True),))
