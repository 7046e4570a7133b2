"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — brute-force exact top-k: broadcast the (small)
  query set against the corpus, one pass, no shuffle of the corpus.
  The right baseline, and at 100 TB still the right answer when the
  query set is small (it's a map-only scan).
* :func:`lsh_bucket_topk` — random-hyperplane LSH variant: corpus and
  queries get a ``p``-bit signature from deterministic hash-derived
  hyperplanes; candidates join on the bucket, exact rerank inside.
  Trades recall for a join that touches only matching buckets.

Dot products are ``zip_with`` + left-to-right ``aggregate`` folds over
doubles — sequential and engine-reproducible (the DuckDB oracle uses the
same fold order).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hobbes_spark.pipeline import read_parquet_any_ts

__all__ = [
    "cosine",
    "cosine_topk",
    "hard_negatives",
    "lsh_bucket_topk",
    "ivf_build",
    "ivf_write",
    "ivf_read",
    "ivf_search",
    "ivf_topk",
    "group_centroids",
    "quantize_embeddings",
    "dequantized",
    "pq_codebooks",
    "pq_encode",
    "pq_reconstruct",
    "pq_adc_topk",
    "ivf_pq_build",
    "ivf_pq_search",
    "ivf_pq_topk",
    "ivf_pq_write",
    "ivf_pq_read",
]


def group_centroids(
    df: DataFrame,
    keys: "list[str]",
    vec_col: str = "embedding",
) -> DataFrame:
    """Element-wise mean vector per group: ``(*keys, centroid:
    array<double>, n: bigint)`` — the centroid computation under IVF
    cells, per-class embedding prototypes, and semantic-cluster
    summaries.

    Scale shape: ``posexplode`` to (group, dim, value) rows, ONE keyed
    aggregation (map-side partial — shuffle volume is groups × dims, not
    rows × dims), then the per-group dim/mean rows fold back into an
    ordered array via ``array_sort`` of (dim, mean) structs. No
    collect, no UDF, no per-group loop; NULL vectors are excluded
    entirely, and ``n`` is the max per-dimension NON-NULL element count
    (= contributing vectors when vectors are dense and uniform; under
    NULL elements or ragged lengths it stays consistent with the means'
    own denominators, which skip NULLs).
    """
    kcols = [F.col(k) for k in keys]
    exploded = df.filter(F.col(vec_col).isNotNull()).select(
        *kcols, F.posexplode(F.col(vec_col)).alias("__d", "__v")
    )
    per_dim = exploded.groupBy(*kcols, F.col("__d")).agg(
        F.avg(F.col("__v").cast("double")).alias("__m"),
        # count("__v"), not count(*): a NULL element is skipped by avg,
        # so counting it would desynchronize n from the mean denominator
        F.count(F.col("__v")).alias("__n"),
    )
    return (
        per_dim.groupBy(*kcols)
        .agg(
            F.array_sort(F.collect_list(F.struct("__d", "__m"))).alias("__dm"),
            F.max("__n").alias("n"),
        )
        .select(
            *kcols,
            F.transform(F.col("__dm"), lambda s: s["__m"]).alias("centroid"),
            F.col("n").cast("bigint").alias("n"),
        )
    )


def _dotd(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dotd(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dotd(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def _cosine_hoisted(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """:func:`cosine` with the per-side norms HOISTED to projected
    columns computed once per row BEFORE the pair join (r14, guide §2.2
    / §4-class duplicate work): spelled inline, every candidate pair
    re-runs all three interpreted aggregate folds (dot + both norms);
    with the norms bound to the sides, a pair pays exactly one fold.
    Bit-identical — the norm fold over the same vector yields the same
    double wherever it is evaluated, and the nullif guard is unchanged."""
    return _dotd(a, b) / F.nullif(na * nb, F.lit(0.0))


def _unit(v: Column) -> Column:
    """L2-normalized copy of ``v`` (zero vectors pass through unchanged)."""
    n = _norm(F.transform(v, lambda x: x.cast("double")))
    return F.when(
        n > 0, F.transform(v, lambda x: x.cast("double") / n)
    ).otherwise(F.transform(v, lambda x: x.cast("double")))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail: rank per query by (cos desc, neighbor asc) —
    ONE spelling of the tie-break contract for every ANN variant."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _exact_scan_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    q_cols: "dict[str, str] | None" = None,
    c_cols: "dict[str, str] | None" = None,
) -> DataFrame:
    """ONE spelling of the exact-scan baseline contract shared by
    :func:`cosine_topk` and :func:`hard_negatives`: queries broadcast
    (small side), NULL vectors excluded on BOTH sides (no direction —
    they must not rank as NULL-cos trailing neighbors), corpus scans
    once. Extra carried columns are alias->source mappings.

    Both sides also carry their L2 norm (``qn``/``cn``) computed once
    per ROW here, below the join — see :func:`_cosine_hoisted`."""
    q = F.broadcast(
        queries.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            _norm(F.col(vec_col)).alias("qn"),
            *[F.col(src).alias(dst) for dst, src in (q_cols or {}).items()],
        )
    )
    corp = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        *[F.col(src).alias(dst) for dst, src in (c_cols or {}).items()],
    )
    return corp.crossJoin(q)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k nearest corpus vectors per query vector by cosine.

    ``queries`` is broadcast (small side); ranking windows are keyed by
    query id, so the shuffle is per-query and skew-free.
    Returns (query_id, neighbor_id, cos, rank).
    """
    joined = _exact_scan_pairs(corpus, queries, id_col, vec_col)
    if not include_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        _cosine_hoisted(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos"),
    )
    return _topk(scored, k)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training (the DPR
    recipe, Karpukhin et al. 2020 §3.2: the best negatives are the most
    SIMILAR items that are not true matches): per query vector, the
    top-``k`` highest-cosine corpus vectors whose ``label_col`` differs
    from the query's (null-safe — two NULL labels count as the same
    group and are excluded). Returns ``(query_id, neighbor_id,
    neighbor_label, cos, rank)`` with :func:`cosine_topk`'s exact
    tie-break contract (cos desc, neighbor asc).

    Scale shape: identical to :func:`cosine_topk` — the query batch
    broadcasts, the corpus scans once, ranking windows key on query id
    (skew-free). Mining is batched by construction (one training batch
    of queries per call). For corpora too big to scan per batch, run
    the IVF/IVF-PQ searcher with an over-fetched ``k`` and anti-filter
    labels afterward — the standard over-fetch-then-filter ANN
    pattern; this exact form is the recall-1.0 baseline it is measured
    against."""
    scored = (
        _exact_scan_pairs(
            corpus, queries, id_col, vec_col,
            q_cols={"__qlabel": label_col},
            c_cols={"neighbor_label": label_col},
        )
        .filter(~F.col("neighbor_label").eqNullSafe(F.col("__qlabel")))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            _cosine_hoisted(
                F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
            ).alias("cos"),
        )
    )
    return _topk(scored, k)


def plane_weight_matrix(spark, planes: int, dim: int) -> list[list[float]]:
    """The ±1 hyperplane weights as a Python matrix, ``w[plane][dim]``.

    Weight ``w[p][i]`` is +1 when ``xxhash64(p, i)`` is odd, else -1,
    computed by ONE tiny JVM job (``planes × dim`` rows) because
    ``xxhash64`` has no Python twin here. The matrix then rides the plan
    as a literal: zero per-row hashing.
    """
    # the matrix is collected AND re-emitted as a plan literal, so its
    # size is doubly driver-bound; 2^22 doubles (32 MiB) is far past any
    # sane (planes, dim) — fail before the job, not inside it
    if planes < 1 or dim < 1:
        raise ValueError(
            f"plane_weight_matrix: planes and dim must be >= 1, got "
            f"({planes}, {dim})"
        )
    if planes * dim > (1 << 22):
        raise ValueError(
            f"plane_weight_matrix: planes*dim = {planes * dim} exceeds "
            "the 2^22 literal-matrix cap (32 MiB of doubles riding every "
            "plan); reduce planes or hash per-row instead"
        )
    rows = (
        spark.range(planes * dim)
        .select(
            (F.col("id") / dim).cast("int").alias("p"),
            (F.col("id") % dim).cast("int").alias("i"),
        )
        .select(
            "p",
            "i",
            F.when(F.xxhash64(F.col("p"), F.col("i")).bitwiseAND(F.lit(1)) == 1, 1.0)
            .otherwise(-1.0)
            .alias("w"),
        )
        .collect()
    )
    out = [[0.0] * dim for _ in range(planes)]
    for r in rows:
        out[r["p"]][r["i"]] = r["w"]
    return out


def hyperplane_signs_arrow(weights: list[list[float]]):
    """The LSH sign kernel: ``array<int>`` of 0/1 hyperplane signs (plane
    p signs 1 iff ``Σ w[p][i]·x[i] ≥ 0``), all planes in one
    Arrow-batched numpy matmul, ``(batch × dim) @ (dim × planes)``.

    Dense linear algebra is the one place a Catalyst expression is
    structurally slow — it evaluates higher-order-function lambdas per
    element (planes × dim interpreted steps per row), where BLAS does
    the same work vectorized. Identical vectors always get identical
    signs, which is the property the dedup recall guarantees rest on.
    Rows whose length differs from the weight matrix dim sign as
    all-zero (deterministic).
    """
    from pyspark.sql.functions import pandas_udf

    W = np.asarray(weights, dtype=np.float64)  # planes × dim

    @pandas_udf("array<int>")
    def signs(v: pd.Series) -> pd.Series:
        planes, dim = W.shape
        n = len(v)
        mat = np.zeros((n, dim), dtype=np.float64)
        ok = np.zeros(n, dtype=bool)
        for j, a in enumerate(v):
            if a is None:
                continue
            aa = np.asarray(a, dtype=np.float64)
            if aa.shape == (dim,):
                mat[j] = aa
                ok[j] = True
        out = (mat @ W.T >= 0).astype(np.int32)
        out[~ok] = 0
        return pd.Series(list(out))

    return signs


def corpus_dim(df: DataFrame, vec_col: str) -> int | None:
    """Dimension of the corpus vectors (one tiny agg job); None on an
    empty/all-null corpus.

    Validates the corpus is NOT ragged: the Arrow sign kernel
    (:func:`hyperplane_signs_arrow`) signs every other-dim vector as
    all-zero, which would silently collapse a ragged subset into bucket
    0 of every band — candidate generation degrades toward Θ(m²) there
    and probe recall is lost. A cheap min/max over ``F.size`` catches
    that up front and raises instead."""
    row = (
        df.filter(F.col(vec_col).isNotNull())
        .agg(
            F.min(F.size(F.col(vec_col))).alias("lo"),
            F.max(F.size(F.col(vec_col))).alias("hi"),
        )
        .first()
    )
    if row is None or row["lo"] is None:
        return None
    if row["lo"] != row["hi"]:
        raise ValueError(
            f"ragged embedding corpus: {vec_col!r} sizes range "
            f"{row['lo']}..{row['hi']}; LSH signatures require a fixed "
            "dimension — filter or pad the corpus first"
        )
    return int(row["hi"])


def _pack_bits(signs: Column, planes: int) -> Column:
    """0/1 sign array -> little-endian packed long. ONE spelling of the
    packing order — the parquet dump-dir replay depends on it."""
    sig = F.lit(0).cast("bigint")
    for p in range(planes):
        sig = sig + F.element_at(signs, p + 1).cast("bigint") * F.lit(2**p).cast(
            "bigint"
        )
    return sig


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 12,
    probe_radius: int = 1,
    dump_dir: str | None = None,
    weights: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k: join on the LSH bucket, exact cosine rerank
    within it.

    ``weights``: bring-your-own ``planes × dim`` projection matrix
    (a learned rotation, or hand-chosen literals for truth-pin
    fixtures) instead of the deterministic ±1 hash matrix. Sign
    convention is unchanged: plane p signs 1 iff ``Σ w[p][i]·x[i] ≥ 0``
    and packs into bucket bit p (little-endian).

    Multi-probe: each *query* additionally probes every bucket within
    hamming distance ``probe_radius`` (0 = single probe; radii 0-2
    supported — probe count grows as C(planes, r), so radius 2 already
    means 1 + planes + planes·(planes−1)/2 probes per query) — probes
    multiply only the tiny broadcast query side, while the corpus keeps
    exactly one bucket per vector, which is what makes this shape hold
    at 100 TB (corpus-side cost is one signature scan + one keyed join).
    Raise recall by raising ``probe_radius`` or lowering ``planes``.

    NULL-embedding rows on either side are excluded (a NULL vector has
    no direction to hash; including them would pile every one into
    bucket 0 and emit NULL-cos neighbors). Query vectors must match the
    corpus dimension — a ragged query would otherwise sign all-zero and
    silently probe garbage, so it raises instead.

    ``dump_dir``: when set, the corpus bucket table and the query probe
    table are checkpointed to ``<dump_dir>/lsh_corpus_buckets`` /
    ``lsh_query_probes`` parquet and the join consumes the checkpoint —
    an external engine reading the same files can then replay candidate
    generation → rerank → top-k exactly (the correctness-gate hook for
    a hash family SQL cannot recompute)."""
    if probe_radius > 2:
        raise ValueError(
            "lsh_bucket_topk: probe_radius up to 2 is supported (probe "
            "count is C(planes, r) per radius step); for higher recall "
            "lower `planes` or use ivf_topk with a larger nprobe"
        )
    dim = corpus_dim(corpus, vec_col)
    qdim = corpus_dim(queries, vec_col)
    if dim is not None and qdim is not None and dim != qdim:
        raise ValueError(
            f"lsh_bucket_topk: query dimension {qdim} != corpus dimension "
            f"{dim}; a mismatched query would sign all-zero and silently "
            "return garbage"
        )
    if weights is not None:
        if len(weights) != planes:
            raise ValueError(
                f"lsh_bucket_topk: {len(weights)} weight rows for "
                f"planes={planes}"
            )
        if dim is not None and any(len(w) != dim for w in weights):
            raise ValueError(
                f"lsh_bucket_topk: weight rows must all have corpus "
                f"dimension {dim}"
            )
    else:
        weights = (
            plane_weight_matrix(corpus.sparkSession, planes, dim)
            if dim is not None
            else None
        )

    def with_bucket(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        out = df.filter(F.col(vec_col).isNotNull()).select(
            F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias)
        )
        if weights is None:
            # empty or all-NULL corpus: no vector to bucket against, so
            # a NULL bucket (which joins nothing) keeps the plan's
            # columns without hashing any row
            return out.withColumn("bucket", F.lit(None).cast("bigint"))
        # Arrow matmul for the signs, then cheap bit packing from the
        # MATERIALIZED column — the signature expression must not be
        # inlined into every probe variant (13 copies at radius 1)
        out = out.withColumn("__s", hyperplane_signs_arrow(weights)(F.col(vec_alias)))
        return out.withColumn("bucket", _pack_bits(F.col("__s"), planes)).drop("__s")

    # per-row norms hoisted below the bucket join (see _cosine_hoisted);
    # when dumping, the norm column rides the parquet roundtrip —
    # float64 roundtrips exactly, and the oracle reads named columns
    corp = with_bucket(corpus, "neighbor_id", "cv").withColumn(
        "cn", _norm(F.col("cv"))
    )
    probes = [F.col("bucket")]
    if probe_radius >= 1:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(2**p).cast("bigint"))
            for p in range(planes)
        ]
    if probe_radius >= 2:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit((2**p) | (2**r)).cast("bigint"))
            for p in range(planes)
            for r in range(p + 1, planes)
        ]
    q = with_bucket(queries, "query_id", "qv").select(
        "query_id",
        "qv",
        _norm(F.col("qv")).alias("qn"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    if dump_dir is not None:
        from hobbes_spark.sources.sinks import roundtrip_parquet

        corp = roundtrip_parquet(corp, f"{dump_dir}/lsh_corpus_buckets")
        q = roundtrip_parquet(q, f"{dump_dir}/lsh_query_probes")
    joined = corp.join(F.broadcast(q), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.dropDuplicates(["query_id", "neighbor_id"]).select(
        "query_id",
        "neighbor_id",
        _cosine_hoisted(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos"),
    )
    return _topk(scored, k)


def ivf_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> "tuple[DataFrame, DataFrame]":
    """Build the IVF index: ``(assigned, centroids)`` — the inverted
    file as two plain DataFrames.

    ``assigned``  = (id, v, cell): every corpus vector with its coarse
    k-means cell (one MLlib transform, JVM-side).
    ``centroids`` = (cell, centroid): nlist × dim, tiny.

    Both are ordinary tables: persist them with :func:`ivf_write` and
    the index is built ONCE for any number of later searches — the
    100 TB operating mode, where re-clustering the corpus per query
    batch would dwarf the search itself. Training can run on a sample
    (``sample_fraction``); assignment always covers the full corpus.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # NULL vectors can't be clustered (array_to_vector(NULL) kills
    # KMeans.fit with FAILED_EXECUTE_UDF) and can't be searched — they
    # are excluded from the index, same policy as lsh_bucket_topk.
    # Clustering and cell assignment run in L2-NORMALIZED space: the
    # final rerank is cosine, and probing cells by raw L2 would let a
    # short query's true cosine-neighbors hide in a far-L2 cell that
    # nprobe never visits. Normalized L2 ordering == cosine ordering.
    feats = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        array_to_vector(_unit(F.col(vec_col))).alias("features"),
    )
    train = feats if sample_fraction is None else feats.sample(sample_fraction, seed)
    n_train = train.count()  # marginal next to k-means training itself
    if n_train == 0:
        raise ValueError("ivf_build: corpus (or its training sample) is empty")
    nlist = min(nlist, n_train)
    model = KMeans(k=nlist, seed=seed, featuresCol="features").fit(train)
    assigned = model.transform(feats).select(
        "id", "v", F.col("prediction").alias("cell")
    )
    centroids = corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    return assigned, centroids


def ivf_write(index_dir: str, assigned: DataFrame, centroids: DataFrame) -> None:
    """Persist the IVF index: the inverted file partitioned BY CELL (a
    search probing nprobe cells then prunes to nprobe directories) and
    the centroid table beside it."""
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/assigned"
    )
    centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")


def ivf_read(spark, index_dir: str) -> "tuple[DataFrame, DataFrame]":
    """Load an index written by :func:`ivf_write`. The inverted file
    comes back partition-discovered on ``cell``; re-opening an unchanged
    index reuses its schemas (``read_parquet_any_ts``) and launches no
    Spark job."""
    return (
        read_parquet_any_ts(spark, f"{index_dir}/assigned"),
        read_parquet_any_ts(spark, f"{index_dir}/centroids"),
    )


def _probe_cells(q: DataFrame, centroids: DataFrame, nprobe: int) -> DataFrame:
    """Each query's ``nprobe`` nearest coarse cells: ``(query_id, qv,
    cell)``. Centroids live in normalized space (ivf_build) — the query
    is normalized before ranking cells so probe order is cosine order;
    the caller's rerank still sees the raw query vector (cosine is
    scale-invariant anyway, and PQ-ADC reranks in raw space on purpose).
    The centroid table is nlist rows — always broadcast."""
    return (
        q.withColumn("__qu", _unit(F.col("qv")))
        .crossJoin(F.broadcast(centroids))
        .withColumn(
            "dist2",
            F.aggregate(
                F.zip_with(
                    F.col("__qu"),
                    F.col("centroid"),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
        )
        .withColumn(
            "cr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("cell"))
            ),
        )
        .filter(F.col("cr") <= nprobe)
        .select("query_id", "qv", "cell")
    )


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Search a built IVF index: each query ranks the (broadcast)
    centroids, probes its ``nprobe`` nearest cells, and reranks exactly
    inside them — a keyed equi-join touching ~nprobe/nlist of the
    corpus, pruned to those cells' directories when the index was
    written partitioned by cell. Returns (query_id, neighbor_id, cos,
    rank)."""
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # norms hoisted below the cell join (see _cosine_hoisted): qn on the
    # tiny probe table (query×nprobe rows), cn once per corpus row
    qcells = _probe_cells(q, centroids, nprobe).withColumn(
        "qn", _norm(F.col("qv"))
    )
    joined = (
        assigned.select(
            F.col("id").alias("neighbor_id"),
            F.col("v").alias("cv"),
            "cell",
            _norm(F.col("v")).alias("cn"),
        )
        .join(F.broadcast(qcells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        _cosine_hoisted(
            F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")
        ).alias("cos"),
    )
    return _topk(scored, k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k in one shot: build + search
    (see :func:`ivf_build` / :func:`ivf_search`; production persists the
    built index with :func:`ivf_write` and searches it many times).
    Unlike LSH, recall is tunable AFTER indexing via ``nprobe``.
    Returns (query_id, neighbor_id, cos, rank)."""
    assigned, centroids = ivf_build(
        corpus, id_col, vec_col, nlist, seed, sample_fraction
    )
    return ivf_search(assigned, centroids, queries, id_col, vec_col, k, nprobe)




def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q8",
    scale_col: str = "scale",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``q_i = round(v_i /
    scale)`` with ``scale = max|v| / 127`` — the 4x (vs float32)
    storage/shuffle shrink for a 100 TB embedding store, with
    reconstruction error bounded by ``scale/2`` per component.

    Pure expressions (no UDF): rounding is the IEEE-exact
    ``floor(x + 0.5)`` so an external engine reproduces every code
    bit-for-bit. All-zero (or NULL) vectors get scale 0 and an all-zero
    code. Adds ``q_col`` (array<int> in [-127, 127]) and ``scale_col``
    (double); drop the float column after quantizing to realize the
    shrink — search reranks via :func:`dequantized`."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / F.lit(127.0)
    # a NULL ELEMENT stays NULL: greatest/least skip NULLs, so without
    # the guard floor(NULL/scale+0.5) would clamp to -127 and fabricate
    # an extreme negative component (dequantized then reconstructs it
    # as -max|v|)
    code = F.transform(
        v,
        lambda x: F.when(x.isNull(), F.lit(None).cast("int")).otherwise(
            F.least(
                F.greatest(F.floor(x / scale + F.lit(0.5)), F.lit(-127.0)),
                F.lit(127.0),
            ).cast("int")
        ),
    )
    zeros = F.transform(
        v, lambda x: F.when(x.isNull(), F.lit(None).cast("int")).otherwise(F.lit(0))
    )
    return df.withColumn(
        scale_col, F.when(F.col(vec_col).isNull(), None).otherwise(
            F.when(amax > 0, scale).otherwise(F.lit(0.0))
        )
    ).withColumn(
        q_col,
        F.when(F.col(vec_col).isNull(), None).otherwise(
            F.when(amax > 0, code).otherwise(zeros)
        ),
    )


def dequantized(q_col: Column | str, scale_col: Column | str) -> Column:
    """Reconstructed float vector ``q * scale`` — feed to
    :func:`cosine` / ANN rerank stages."""
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.transform(q, lambda x: x.cast("double") * s)


# --------------------------------------------------------------------- #
# Product-quantization-style codebook compression (1-D subspaces)
# --------------------------------------------------------------------- #


def pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    levels: int = 16,
    dp: int = 6,
) -> list[list[float]]:
    """Per-dimension quantile codebooks: for each of the D dimensions,
    the ``levels`` interpolated percentiles at (2i+1)/(2·levels) —
    cell midpoints of an equal-mass partition, the non-uniform scalar
    cousin of product quantization (Jégou et al. 2011) with 1-D
    subspaces. ``levels=16`` stores each component in 4 bits: an 8×
    shrink vs float32 (vs :func:`quantize_embeddings`' 4×), at the
    cost of a codebook lookup on read.

    ONE Spark job (posexplode → per-dim percentile agg); the returned
    list-of-lists is L×D doubles — kilobytes, the kmeans-centroid
    driver-scalar precedent. Entries are rounded half-up to ``dp``
    decimals with the IEEE-exact ``floor(x·10^dp + 0.5)/10^dp`` so an
    external engine reproduces the codebook bit-for-bit and every
    downstream code/distance agrees (the ``kmeans_lloyd`` recipe)."""
    if levels < 2:
        raise ValueError(f"pq_codebooks: levels must be >= 2, got {levels}")
    from hobbes_spark.operators.ml import _round_half_up

    d = corpus_dim(df, vec_col)
    # the codebook is collected and re-broadcast as plan literals: keep
    # it kilobyte-to-megabyte sized BY CONSTRUCTION — fail before the
    # percentile job rather than collecting an accidental monster
    # (e.g. levels sized like a vocabulary instead of a cell count)
    if d is not None and d * levels > (1 << 22):
        raise ValueError(
            f"pq_codebooks: dim*levels = {d * levels} exceeds the 2^22 "
            "driver codebook cap (32 MiB of doubles); use fewer levels "
            "or quantize a projection"
        )
    if d is None:
        raise ValueError("pq_codebooks: empty or all-NULL corpus")
    ps = F.array(*[F.lit((2 * i + 1) / (2.0 * levels)) for i in range(levels)])
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .groupBy("dim")
        .agg(F.percentile(F.col("x").cast("double"), ps).alias("qs"))
        .collect()
    )
    books: list[list[float]] = [None] * d  # type: ignore[list-item]
    for r in rows:
        books[r["dim"]] = [_round_half_up(float(q), dp) for q in r["qs"]]
    return books


def _cb_lit(codebooks: list[list[float]]) -> Column:
    """The codebook as ONE literal array<array<double>> expression,
    shared by every lambda that references it — per-dimension literal
    expansion (D separate copies of the L-entry array) multiplies the
    codegen source by D and OOMs a stock 1g driver at D=64."""
    return F.array(*[F.array(*[F.lit(c) for c in codes]) for codes in codebooks])


def pq_encode(
    df: DataFrame,
    codebooks: list[list[float]],
    vec_col: str = "embedding",
    code_col: str = "pq",
) -> DataFrame:
    """Add ``code_col``: one code (0..L-1) per dimension — the index of
    the nearest codebook entry, ties to the LOWEST index (first-match
    ``array_position``). Pure expressions (indexed ``transform`` over
    one shared codebook literal), so codes are reproducible
    bit-for-bit anywhere."""
    cb = _cb_lit(codebooks)
    v = F.col(vec_col)

    def code_of(x, i):
        deltas = F.transform(
            F.element_at(cb, i + 1), lambda c: F.abs(x.cast("double") - c)
        )
        return (F.array_position(deltas, F.array_min(deltas)) - 1).cast("int")

    return df.withColumn(
        code_col, F.when(v.isNotNull(), F.transform(v, code_of))
    )


def pq_reconstruct(
    code_col: Column | str, codebooks: list[list[float]]
) -> Column:
    """Codes → reconstructed double vector via codebook lookup (the
    decode side of ADC)."""
    code = F.col(code_col) if isinstance(code_col, str) else code_col
    cb = _cb_lit(codebooks)
    return F.transform(
        code, lambda c, i: F.element_at(F.element_at(cb, i + 1), c + 1)
    )


def pq_adc_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq",
    dp: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k: float queries against the COMPRESSED
    corpus — squared L2 between the query and each row's codebook
    reconstruction, never touching corpus floats (the PQ search
    contract: the 8×-smaller code table is all that scans).

    Scale shape: queries broadcast (a query set is small by
    definition); the corpus side moves only ``id + D·4 bits`` per row;
    per-query top-k is a TakeOrdered-backed window. The distance is a
    sequential in-order fold (``F.aggregate``), matching an external
    ``list_reduce`` bit-for-bit; ranking orders by the ``dp``-rounded
    distance with id tie-break, so results are engine-reproducible.
    Returns ``(query_id, neighbor_id, dist, rank)``."""
    from hobbes_spark.operators.ml import _round_half_up

    recon = pq_reconstruct(code_col, codebooks)
    # NULL-vector queries are dropped, not ranked: a NULL distance
    # would sort FIRST under the ascending window (garbage rank-1
    # rows), and keeping them would break the documented
    # nprobe == nlist identity with ivf_pq_search, which also drops them
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    )
    corpus = encoded.filter(F.col(code_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), recon.alias("__rv")
    )
    dist = F.aggregate(
        F.zip_with(F.col("__qv"), F.col("__rv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", _round_half_up(dist, dp).alias("dist")
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def ivf_pq_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    levels: int = 16,
    seed: int = 42,
    sample_fraction: float | None = None,
) -> "tuple[DataFrame, DataFrame, list[list[float]]]":
    """Build the IVF-PQ index — the canonical billion-vector layout
    (Jégou et al. 2011): coarse k-means cells for pruning (IVF) over a
    PQ-compressed code table for storage. Returns ``(encoded,
    centroids, codebooks)`` where ``encoded`` is ``(id, cell, pq)`` —
    the raw floats are DROPPED from the index: at 100 TB the float
    store stays in cold storage and only the 8×-smaller code table is
    ever scanned (fetch raw vectors separately for an exact rerank —
    see ``pq_rerank_topk``'s pattern).

    Codes quantize the RAW vectors (not cell residuals): distances then
    reproduce :func:`pq_adc_topk` exactly, which is what makes the
    nprobe=nlist configuration an exact replay oracle; residual
    encoding would couple every code to its (MLlib-internal) centroid
    and lose external reproducibility for a recall gain the gate can't
    verify. Cell pruning semantics are unchanged either way.
    """
    assigned, centroids = ivf_build(
        corpus, id_col, vec_col, nlist=nlist, seed=seed,
        sample_fraction=sample_fraction,
    )
    books = pq_codebooks(assigned, vec_col="v", levels=levels)
    encoded = pq_encode(assigned, books, vec_col="v", code_col="pq").select(
        "id", "cell", "pq"
    )
    return encoded, centroids, books


def ivf_pq_search(
    encoded: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    codebooks: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
    dp: int = 6,
) -> DataFrame:
    """Search an IVF-PQ index: rank the (broadcast) centroid table,
    probe each query's ``nprobe`` nearest cells, and compute
    asymmetric distances (float query vs codebook reconstruction)
    ONLY inside those cells — a keyed equi-join touching ~nprobe/nlist
    of the code table, pruned to those cells' directories when the
    index was written partitioned by cell. Determinism matches
    :func:`pq_adc_topk` (dp-rounded distance, id tie-break), and with
    ``nprobe == nlist`` the result IS ``pq_adc_topk``'s, cell pruning
    having become a no-op — the property the correctness gate pins.
    Returns ``(query_id, neighbor_id, dist, rank)``."""
    from hobbes_spark.operators.ml import _round_half_up

    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    qcells = _probe_cells(q, centroids, nprobe)
    recon = pq_reconstruct("pq", codebooks)
    corpus = encoded.filter(F.col("pq").isNotNull()).select(
        F.col("id").alias("neighbor_id"), F.col("cell"), recon.alias("__rv")
    )
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("__rv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = corpus.join(F.broadcast(qcells), "cell").select(
        "query_id", "neighbor_id", _round_half_up(dist, dp).alias("dist")
    )
    w = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    levels: int = 16,
    seed: int = 42,
    dp: int = 6,
    sample_fraction: float | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k in one shot: build + search (see
    :func:`ivf_pq_build` / :func:`ivf_pq_search`; production persists
    the built index — ``encoded`` partitioned by cell via
    ``ivf_write``'s layout, codebooks as a kilobyte sidecar — and
    searches it many times). Returns (query_id, neighbor_id, dist,
    rank)."""
    encoded, centroids, books = ivf_pq_build(
        corpus, id_col, vec_col, nlist=nlist, levels=levels, seed=seed,
        sample_fraction=sample_fraction,
    )
    return ivf_pq_search(
        encoded, centroids, queries, books,
        id_col=id_col, vec_col=vec_col, k=k, nprobe=nprobe, dp=dp,
    )


def ivf_pq_write(
    index_dir: str,
    encoded: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[float]],
) -> None:
    """Persist an IVF-PQ index (:func:`ivf_pq_build`'s three outputs):
    the code table partitioned BY CELL — so a search probing nprobe
    cells dynamically prunes to nprobe directories of the 8×-compressed
    codes, the whole point of the layout at 100 TB — the nlist-row
    centroid table beside it, and the codebooks as a one-row parquet
    sidecar (kilobytes; parquet rather than a driver-local JSON file so
    the index lives entirely on the cluster filesystem)."""
    import json

    encoded.write.mode("overwrite").partitionBy("cell").parquet(
        f"{index_dir}/encoded"
    )
    centroids.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    encoded.sparkSession.createDataFrame(
        [(json.dumps(codebooks),)], "codebooks string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/codebooks")


def ivf_pq_read(
    spark, index_dir: str
) -> "tuple[DataFrame, DataFrame, list[list[float]]]":
    """Load an index written by :func:`ivf_pq_write` — ``(encoded,
    centroids, codebooks)``, search-ready for :func:`ivf_pq_search`.
    The code table comes back partition-discovered on ``cell``, so the
    probe join prunes directories via dynamic partition pruning. Schemas
    are resolved as in :func:`ivf_read`; the codebook row is one job."""
    import json

    books = json.loads(
        read_parquet_any_ts(spark, f"{index_dir}/codebooks").first()["codebooks"]
    )
    return (
        read_parquet_any_ts(spark, f"{index_dir}/encoded"),
        read_parquet_any_ts(spark, f"{index_dir}/centroids"),
        books,
    )
