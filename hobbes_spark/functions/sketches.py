"""Mergeable sketches: pre-aggregated approximate state that composes.

The 100 TB pattern these enable: instead of re-scanning a year of raw
events to answer "distinct users last month", keep one small HLL sketch
per (day, key) — built once, at ingest — and MERGE sketches for any
later rollup. Merging is associative and lossless with respect to the
sketch's own estimate (merging daily sketches gives byte-identical
state to sketching the union directly — pinned in tests), so rollups
over any time range are sketch-sized work, not data-sized work.

Built on Spark's Apache DataSketches integration
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate`` —
public since 3.5): deterministic, bounded-error (~1.6%/sqrt(2^lgk)),
and the binary sketch column stores/round-trips through parquet, so a
sketch table IS a queryable materialized aggregate.

``count_min_sketch`` serves the companion question — approximate
per-item frequencies (heavy hitters) in one pass with bounded
overcount — same build-small-merge-later shape.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hobbes_spark.expressions import md5_prefix_bigint

__all__ = [
    "hll_group_sketches",
    "hll_rollup_estimate",
    "hll_register_table",
    "hll_table_rollup",
    "theta_group_sketches",
    "theta_overlap_estimate",
    "cms_build",
    "cms_merge",
    "cms_estimate",
    "cms_top_items",
    "kmv_group_sketches",
    "kmv_merge",
    "kmv_quantile",
]


def hll_group_sketches(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lgk: int = 12,
) -> DataFrame:
    """One HLL sketch per ``keys`` group over ``col``:
    ``(*keys, sketch: binary)``.

    This is the ingest-time step: one shuffle keyed by ``keys`` (with
    map-side partial aggregation — sketches merge inside each input
    partition first, so shuffle volume is sketches, not rows). Persist
    the result; never rescan the raw data for distinct-count rollups
    again. ``lgk`` trades size for error (2^lgk buckets; 12 → ~1.6 KB,
    ~2.5% rel. std. error).
    """
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias("sketch")
    )


def hll_rollup_estimate(
    sketches: DataFrame,
    by: Sequence[str],
    sketch_col: str = "sketch",
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Merge per-group sketches up to the coarser ``by`` keys and
    estimate: ``(*by, approx_distinct: bigint)``.

    Input is a sketch table (from :func:`hll_group_sketches`, possibly
    read back from parquet); cost is proportional to the number of
    sketches, independent of the original row count. ``by=[]`` gives
    the single global rollup.
    """
    gb = sketches.groupBy(*[F.col(k) for k in by]) if by else sketches.groupBy()
    return gb.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col(sketch_col))).alias(out_col)
    )


# --------------------------------------------------------------------- #
# Register-table HLL: the same build-small-merge-later shape as
# hll_group_sketches, with the registers held as a TABLE of
# (keys..., bucket, r) rows instead of a DataSketches binary blob —
# exactly the representation trick the count-min sketch below already
# uses. That costs a few rows per sketch but buys: merge = groupBy MAX
# (associative, like every max), persistence = plain parquet, and an
# external engine can rebuild the identical table and replay the
# estimate formula (md5 hash path), so the whole pipeline —
# hash → bucket/rank → daily registers → merged rollup → estimate —
# is value-checked end-to-end by the DuckDB gate rather than rows-only.
# The DataSketches-native pair above stays the production variant
# (denser state, tuned estimator); this one is its replayable twin with
# the classic Flajolet HLL estimator + linear-counting small-range
# correction.
# --------------------------------------------------------------------- #


def _hll_bucket_rank(col: str, lgk: int, hash_fn: str) -> tuple[Column, Column]:
    """(bucket, rank) for one value: low ``lgk`` hash bits pick the
    register, the rank is leading-zeros-plus-one of the remaining bits.
    Highest-set-bit position comes from ``length(bin(w))`` — exact
    integer string length in both Spark and DuckDB, no float log2 at
    power-of-two boundaries."""
    if hash_fn == "md5":
        # 60-bit integer from the first 15 md5 hex chars — replayable in
        # DuckDB via the strpos polynomial (same trick as the CMS/simhash
        # oracles); values hash via their canonical string form.
        v = md5_prefix_bigint(F.col(col).cast("string"), 15)
        width = 60 - lgk
    elif hash_fn == "xxhash64":
        v = F.shiftrightunsigned(F.xxhash64(F.col(col)), 1)  # 63 nonneg bits
        width = 63 - lgk
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    m = 1 << lgk
    bucket = F.pmod(v, F.lit(m)).cast("int")
    w = F.shiftright(v, lgk)
    rank = F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.bin(w))
    )
    return bucket, rank.cast("int")


def hll_register_table(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lgk: int = 12,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One HLL register table per ``keys`` group over ``col``:
    ``(*keys, bucket: int, r: int)``, at most ``2^lgk`` rows per group
    (only non-zero registers are materialized).

    Same ingest-time contract as :func:`hll_group_sketches`: one
    shuffle keyed by ``(keys, bucket)`` with map-side partial MAX, so
    shuffle volume is bounded by groups × 2^lgk regardless of row
    count. NULL values carry no distinct-count information and are
    dropped (DataSketches does the same)."""
    bucket, rank = _hll_bucket_rank(col, lgk, hash_fn)
    return (
        df.filter(F.col(col).isNotNull())
        .select(*[F.col(k) for k in keys], bucket.alias("bucket"), rank.alias("__r0"))
        .groupBy(*[F.col(k) for k in keys], F.col("bucket"))
        .agg(F.max("__r0").alias("r"))
    )


def hll_table_rollup(
    regs: DataFrame,
    by: Sequence[str],
    lgk: int = 12,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Merge register tables up to the coarser ``by`` keys and
    estimate: ``(*by, approx_distinct: double)``.

    Merge is ``MAX(r)`` per (by, bucket) — associative and lossless, so
    rolling daily tables up to monthly equals building monthly
    directly (pinned in tests). Estimator is standard HLL:
    ``alpha_m * m^2 / sum(2^-r)`` over all m registers (absent rows are
    zero registers contributing 2^0), switching to linear counting
    ``m * ln(m / zeros)`` in the small range (raw <= 2.5m with empty
    registers) where the raw estimator biases high."""
    m = 1 << lgk
    alpha = 0.7213 / (1.0 + 1.079 / m)
    merged = regs.groupBy(*[F.col(k) for k in by], F.col("bucket")).agg(
        F.max("r").alias("r")
    )
    gb = merged.groupBy(*[F.col(k) for k in by]) if by else merged.groupBy()
    agg = gb.agg(
        # coalesce: a global rollup (by=[]) of an EMPTY register table
        # still emits one row, and SUM over zero rows is NULL — the
        # estimator defines 0 there (all registers zero → linear
        # counting gives m·ln(m/m))
        F.coalesce(F.sum(F.pow(F.lit(2.0), -F.col("r"))), F.lit(0.0)).alias("__s"),
        (F.lit(m) - F.count(F.lit(1))).cast("double").alias("__nz"),
    )
    raw = F.lit(alpha * m * m) / (F.col("__s") + F.col("__nz"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("__nz") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("__nz")),
    ).otherwise(raw)
    return agg.select(*[F.col(k) for k in by], est.alias(out_col))


def theta_group_sketches(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    lgk: int = 12,
) -> DataFrame:
    """One Theta sketch per ``keys`` group over ``col``:
    ``(*keys, sketch: binary)``. Same build-once shape as
    :func:`hll_group_sketches`; Theta costs a little more space but its
    sketches support set INTERSECTION, not just union."""
    return df.groupBy(*[F.col(k) for k in keys]).agg(
        F.theta_sketch_agg(F.col(col), F.lit(lgk)).alias("sketch")
    )


def theta_overlap_estimate(
    sketches: DataFrame,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Approximate size of the INTERSECTION of all groups' sets — the
    join-free audience-overlap query ("users who did A *and* B"): one
    row ``(approx_overlap: double)`` from the per-group sketch table.

    The exact form of this question is a self-join (or N-way join) on
    the raw data per combination asked; the sketch form answers any
    combination from state whose size is independent of the data.
    """
    return sketches.groupBy().agg(
        F.theta_sketch_estimate(
            F.theta_intersection_agg(F.col(sketch_col))
        ).alias("approx_overlap")
    )


# --------------------------------------------------------------------- #
# Count-min sketch: approximate per-item frequencies / heavy hitters.
#
# Spark ships a count_min_sketch AGGREGATE but no function to query the
# resulting binary blob from SQL, so this implementation keeps the
# sketch as a TABLE of (d, pos, cnt) counter cells instead — depth x
# width rows, bounded state independent of data size. That buys:
# merge = unionByName + sum (associative, exactly like the HLL store),
# estimate = broadcast join + min, persistence = plain parquet, and an
# external engine can rebuild the identical table (md5 hash path) for
# the correctness gate. Estimate guarantee is the classic CMS bound:
# true <= est <= true + (e/width)*N with prob 1 - (1/e)^depth.
# --------------------------------------------------------------------- #


def _cms_positions(item: Column, depth: int, width: int, hash_fn: str) -> list[Column]:
    """One counter position per depth row: seeded hash of the item mod
    width. xxhash64 path rehashes the 64-bit base per seed (8-byte work,
    same trick as MinHash); md5 path takes the first 15 hex chars as a
    60-bit integer — replicable in DuckDB via the simhash polynomial."""
    if hash_fn == "xxhash64":
        base = F.xxhash64(item)
        return [
            F.pmod(F.xxhash64(F.lit(d), base), F.lit(width)) for d in range(depth)
        ]
    if hash_fn == "md5":
        return [
            F.pmod(
                md5_prefix_bigint(F.concat(F.lit(f"{d}|"), item), 15),
                F.lit(width),
            )
            for d in range(depth)
        ]
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 4096,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Count-min sketch over ``df[col]`` as a ``(d, pos, cnt)`` table
    (NULL items contribute nothing).

    One aggregation keyed by (d, pos): each row explodes to ``depth``
    counter increments, map-side partial aggregation collapses them
    before the shuffle, and at most depth x width rows survive — the
    sketch, never the data. Persist it and answer frequency questions
    forever without rescanning."""
    pos = _cms_positions(F.col(col), depth, width, hash_fn)
    cells = df.filter(F.col(col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), pos[d].alias("pos"))
                    for d in range(depth)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(F.col("c.d").alias("d"), F.col("c.pos").alias("pos")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CMS tables built with the SAME (depth, width, hash_fn):
    cell-wise sum. Merging per-shard sketches is exactly equivalent to
    sketching the union (pinned in tests) — the build-small-merge-later
    contract that makes the sketch an ingest-time artifact."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "pos").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    items: DataFrame,
    sketch: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 4096,
    hash_fn: str = "xxhash64",
    out_col: str = "est_count",
) -> DataFrame:
    """Frequency estimate for each distinct item in ``items[col]``:
    min over the item's ``depth`` counter cells.

    The sketch (≤ depth x width rows) BROADCASTS onto the item side —
    estimating any number of candidates is one broadcast join, no
    shuffle of the sketch, no driver collect. Items that never entered
    the sketch estimate as 0 (the true CMS semantics: an all-zero row
    of cells)."""
    pos = _cms_positions(F.col(col), depth, width, hash_fn)
    probes = items.filter(F.col(col).isNotNull()).select(col).distinct().select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), pos[d].alias("pos"))
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select(col, "c.d", "c.pos")
    return (
        probes.join(F.broadcast(sketch), ["d", "pos"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias(out_col))
    )


def cms_top_items(
    df: DataFrame,
    col: str,
    k: int = 20,
    depth: int = 4,
    width: int = 4096,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate top-``k`` heavy hitters of ``df[col]``:
    ``(item, est_count, rank)``, ranked by CMS estimate (ties broken by
    item value for determinism).

    Candidates here are the distinct items (exact enumeration); at
    ingest scale, feed a sampled/filtered candidate set to
    :func:`cms_estimate` instead — the sketch answers any candidate
    list, which is the point of keeping it."""
    from pyspark.sql import Window

    sketch = cms_build(df, col, depth, width, hash_fn)
    est = cms_estimate(df, sketch, col, depth, width, hash_fn)
    w = Window.orderBy(F.desc("est_count"), F.asc(col))
    return (
        est.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(col, "est_count", F.col("rank").cast("int").alias("rank"))
    )


def _kmv_rank(id_col: Column, hash_fn: str) -> Column:
    """Uniform 60/64-bit rank of a row's identity. Ranking the ID (not
    the value) makes the bottom-k set a uniform ROW sample — duplicate
    values keep their multiplicity, which is what quantiles need (a
    value-keyed hash would collapse them into a distinct-set sample)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(id_col)
    if hash_fn == "md5":
        return md5_prefix_bigint(id_col.cast("string"), 15)
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def kmv_group_sketches(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    val_col: str,
    k: int = 256,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Mergeable QUANTILE sketch per ``keys`` group: the ``k`` rows with
    the smallest hash rank of ``id_col``, stored as
    ``(*keys, sketch: array<struct<h, i, v>>)`` sorted by rank — ``h``
    the hash rank, ``i`` the sample's id (merge's tie-break field), ``v``
    the sampled value. (Sketches persisted by the earlier
    ``struct<h, v>`` layout must be rebuilt — ``kmv_merge`` orders on
    ``i`` and will fail analysis on the old schema rather than merge
    with a different tie-break than the build.)

    The bottom-k-by-uniform-hash set is a uniform random sample that is
    EXACTLY mergeable: bottom-k of a union equals bottom-k of the
    merged per-shard bottom-k's (min-k is associative), so merging
    per-day sketches gives byte-identical state to sketching the whole
    range directly — the same build-small-merge-later contract as the
    HLL/CMS tables, pinned by the same merge==direct test, but for
    DISTRIBUTION questions (quantiles via :func:`kmv_quantile`) with
    rank error O(n/sqrt(k)). Unlike percentile_approx output, the
    sketch composes across any later grouping without rescanning.

    Scale shape: ``row_number`` over (keys, rank) + ``filter <= k``
    compiles to WindowGroupLimit — each map task keeps only its own
    bottom-k before the shuffle, so shuffle volume is O(groups·k), and
    only the k survivors reach collect_list (bounded agg state). NULL
    values and NULL ids are excluded (a NULL rank would sort first and
    poison the sample).

    ``id_col`` must be globally unique across every sketch that will
    later be merged together: the sample is keyed by hash-of-id, so a
    reused id contributes one slot however many rows carry it, and the
    bottom-k ordering over duplicate (hash, id) pairs is not
    deterministic. The merge==direct byte-identity contract is stated
    (and tested) under that uniqueness assumption.
    """
    from pyspark.sql import Window

    base = df.filter(
        F.col(id_col).isNotNull() & F.col(val_col).isNotNull()
    ).select(
        *[F.col(c) for c in keys],
        _kmv_rank(F.col(id_col), hash_fn).alias("__h"),
        F.col(id_col).alias("__id"),
        F.col(val_col).cast("double").alias("__v"),
    )
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy("__h", "__id")
    # the id rides inside the sketch struct so MERGE can tie-break on
    # the exact (h, id) ordering the build used: without it a rank tie
    # at the k boundary (id reused across merged subgroups, or a hash
    # collision) would let merge pick a different survivor than a
    # direct build — breaking the merge==direct byte-identity contract
    return (
        base.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(*[F.col(c) for c in keys])
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__h").alias("h"),
                        F.col("__id").alias("i"),
                        F.col("__v").alias("v"),
                    )
                )
            ).alias("sketch")
        )
    )


def kmv_merge(
    sketches: DataFrame,
    by: Sequence[str],
    k: int = 256,
    sketch_col: str = "sketch",
) -> DataFrame:
    """Merge KMV sketches (built with the same ``k`` and hash) up to the
    coarser ``by`` keys: union the samples, keep the ``k`` smallest
    ranks again. Cost is proportional to the number of sketches — the
    raw rows are never revisited. ``by=[]`` gives the global rollup."""
    from pyspark.sql import Window

    ex = sketches.select(
        *[F.col(c) for c in by], F.explode(F.col(sketch_col)).alias("s")
    )
    # (h, i) — the same ordering the build's bottom-k used, so boundary
    # ties resolve identically and merge==direct holds byte-for-byte
    part = Window.partitionBy(*[F.col(c) for c in by]).orderBy("s.h", "s.i")
    return (
        ex.withColumn("__rn", F.row_number().over(part))
        .filter(F.col("__rn") <= k)
        .groupBy(*[F.col(c) for c in by])
        .agg(F.array_sort(F.collect_list(F.col("s"))).alias(sketch_col))
    )


def kmv_quantile(sketch: Column | str, p: float) -> Column:
    """Nearest-rank quantile estimate from one sketch cell (row-wise,
    pure expressions): the ceil(p·n)-th smallest sampled VALUE. Exact
    selection, no interpolation arithmetic — the estimate is one of the
    sampled doubles bit-for-bit, which is what lets a SQL twin replay
    it. NULL on an empty sketch."""
    if not (0.0 < p <= 1.0):
        raise ValueError("kmv_quantile: p must be in (0, 1]")
    col = F.col(sketch) if isinstance(sketch, str) else sketch
    vs = F.array_sort(F.transform(col, lambda s: s["v"]))
    idx = F.greatest(F.ceil(F.lit(p) * F.size(vs)), F.lit(1)).cast("int")
    return F.when(F.size(vs) > 0, F.element_at(vs, idx))
