"""Deduplication for training-data pipelines: exact, MinHash+LSH banding,
SimHash, and exact n-gram Jaccard.

Everything is Spark built-in expressions (split / transform / slice /
array_min / md5 / xxhash64) — no Python UDFs — so dedup over 100 TB is
shuffle-bound, not Python-bound. The only shuffles are:

* exact: one hash aggregation on the fingerprint;
* MinHash LSH: one explode + one self-equi-join on (band, band_key) —
  the classic shingle→minhash→band→bucket-join plan;
* SimHash: one explode + keyed aggregation.

``hash_fn='md5'`` produces byte-identical values in DuckDB (used by the
correctness oracles); ``'xxhash64'`` is the fast JVM path for real runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hobbes_spark.expressions import c
from hobbes_spark.functions.text import fingerprint, tokens

__all__ = [
    "exact_dedup",
    "exploded_window_hashes",
    "chained_window_hashes",
    "duplicate_substring_spans",
    "remove_substring_spans",
    "word_shingles",
    "char_ngrams",
    "minhash_signatures_df",
    "banded_signatures",
    "minhash_pairs",
    "minhash_pairs_from_signatures",
    "minhash_incremental_pairs",
    "simhash60",
    "jaccard_pairs",
    "jaccard_join_prefix",
    "embedding_neardup_exact",
    "embedding_neardup_lsh",
    "connected_components",
    "connected_components_star",
    "semantic_dedup",
]


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Keep one row (lowest id) per normalized-text fingerprint.

    ONE hash aggregation (shuffle on the fingerprint — uniformly
    distributed, no skew), no sort, no join-back:
    ``groupBy(fp).agg(min_by(struct(*), id))`` partial-aggregates
    map-side and never orders rows, where the previous window
    formulation (``min(id) over (partition by fp)`` + filter) paid a
    per-partition SORT for a computation that needs only a running min.
    Default fingerprints are ``xxhash64`` of the normalized text (8-byte
    JVM hash; the md5 path pays a 2× string-hash cost and a 32-char
    shuffle key); the keep-SET is hash-agnostic, which is what the
    md5-partitioned oracle checks. Together: 0.54 s → 0.30 s best-of-3
    at sf0.1. Pass ``hash_fn='md5'`` for bit-identical DuckDB replays.

    NULL-text rows are not duplicates of each other: every NULL-text
    row survives unchanged, whatever its id. They flow through the SAME
    single aggregation as everything else, each under a per-row-unique
    synthetic group key (``monotonically_increasing_id``), so the plan
    stays one scan + one shuffle. Determinism caveat, scoped to
    NULL-text rows only: the synthetic key is order-dependent, so if
    the INPUT is itself a nondeterministically-ordered shuffle output
    (a repartition/join upstream) a mid-stage fetch-failure retry on a
    cluster can reassign keys between attempts (the SPARK-23207
    hazard class). Reading from files — every catalog use — is
    deterministic. For retry-exposed pipelines where NULL-text rows
    matter, split them off first (``df.filter(text.isNotNull)`` through
    dedup, NULL slice unioned after); their dedup semantics are
    identity, so the split is free. The earlier filter/union
    formulation had correct semantics but duplicated the upstream plan
    across both branches, and the NULL branch had no aggregation
    barrier — parent filters pushed below the upstream projection and
    re-inlined its staged expressions (tests/test_plans.py::
    test_curate_tokenizes_once caught 24 re-derived tokenizations in
    curate_corpus, a measured 1.17x regression). A single Aggregate is a
    pushdown barrier on every output column, and NULL-text rows no
    longer force a second scan of the source.

    The ``min_by`` ordering key is ``when(text IS NULL, 0) otherwise id``
    — a NULL-text singleton group gets a constant non-null ordering
    value, so its row survives even with a NULL id (raw ``min_by``
    returns all-NULL when every ordering value is NULL). A flat scalar,
    not ``struct(id IS NULL, id)``: the struct comparator measurably
    doubles the aggregation cost at 16× scale (0.88 s vs 0.48 s,
    tools/scale_check.py) for a tie-break that only matters in the
    singleton groups where any constant works. In the aggregated branch
    the ordering key is the raw id, so ``min_by`` skips NULL-id rows
    (preferring rows that HAVE an id) and a duplicate group whose ids
    are all NULL has no defined keep-row — same contract as before.
    """
    cols = df.columns
    fp = fingerprint(text_col, hash_fn)
    text_null = c(text_col).isNull()
    # group key: (fingerprint | NULL, 0 | unique). NULL fingerprints all
    # share key-part 1, so key-part 2 makes each NULL-text row a
    # singleton group; non-NULL text shares (fp, 0) per duplicate set.
    k1 = F.when(~text_null, fp).alias("__fp")
    k2 = F.when(text_null, F.monotonically_increasing_id()).otherwise(
        F.lit(0)
    ).alias("__uniq")
    keep_ord = F.when(text_null, F.lit(0)).otherwise(c(id_col))
    # per-column min_by aggregates rather than ONE min_by over a struct:
    # Catalyst prunes aggregate expressions a parent projection doesn't
    # reference, so `exact_dedup(df).select("id", "src")` never shuffles
    # the text payload — a struct would pin every field into the exchange
    # (all values still come from the same min-id row)
    aggs = [F.min_by(c(col), keep_ord).alias(col) for col in cols]
    return df.groupBy(k1, k2).agg(*aggs).select(*cols)


def exploded_window_hashes(df, text_col, n: int, id_exprs) -> DataFrame:
    """(``id_exprs``…, ``s``) — one row per word-``n``-window, keyed by a
    64-bit chained xxhash64 over the window's token hashes.

    Numeric windowing: hash tokens once, then combine each window of n
    token-hashes with chained xxhash64 via ``zip_with``'d slices — no
    n-word window strings are ever built (string concat + long-string
    hashing was ~40% of MinHash signature time; measured 1.06s -> 0.66s
    at sf0.1). The staged ``__th`` projection keeps the token-hash array
    a real column, so the n slices reference a bound attribute instead
    of re-evaluating the transform. Shared by the MinHash xxhash64 path
    and the decontamination gram stream (curation._gram_hashes).

    ``explode_outer`` + isNotNull, not plain ``explode``: see the
    InferFiltersFromGenerate note on ``text.winnow_fingerprints``.
    """
    s1 = df.select(*id_exprs, tokens(F.lower(c(text_col))).alias("__tk"))
    names = s1.columns[:-1]
    s2 = s1.select(*names, F.transform("__tk", lambda t: F.xxhash64(t)).alias("__th"))
    s3 = s2.select(*names, chained_window_hashes(F.col("__th"), n).alias("__sh"))
    return (
        s3.select(*names, F.explode_outer("__sh").alias("s"))
        .filter(F.col("s").isNotNull())
    )


def chained_window_hashes(token_hashes: Column, n: int) -> Column:
    """``array<long>``: the chained xxhash64 of every word-``n``-window
    of a TOKEN-HASH array column (``n=1`` passes the token hashes
    through). THE one spelling of the numeric-window trick — shared by
    the MinHash/decontamination gram stream above, the span-removal
    surgery, and the repetition bigram stats, so a change to the hash
    chaining or the slice arithmetic lands everywhere at once.

    ``token_hashes`` must be a real projected column, not an inline
    expression — the ``n`` slices each reference it, and an inlined
    transform would re-evaluate per slice (the staging rule this module
    documents on ``exploded_window_hashes``)."""
    m = F.greatest(F.size(token_hashes) - (n - 1), F.lit(0))
    offs = [F.slice(token_hashes, i + 1, m) for i in range(n)]
    shh = offs[0]
    for nxt in offs[1:]:
        shh = F.zip_with(shh, nxt, lambda a, b: F.xxhash64(a, b))
    return shh


def duplicate_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """MAXIMAL corpus-duplicated substrings of ≥ ``k`` tokens — the
    exact-substring dedup of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better", §3: remove every substring of
    ≥ 50 tokens that appears verbatim more than once in the corpus),
    re-expressed without the suffix array.  Returns one row per
    maximal span: ``(id_col, span_start, span_end, span_tokens,
    n_windows)`` with token indices 0-based and ``span_end``
    inclusive.

    The suffix-array-free reconstruction: a duplicated substring of
    length L ≥ k contains exactly L−k+1 duplicated k-windows at
    CONSECUTIVE start positions, so

    1. ``(id, pos, g)`` for every word-k-window via the shared numeric
       window-hash stream (no k-word strings built);
    2. one count window over ``g`` flags corpus-wide duplicated
       windows (occurrence count ≥ ``min_count`` — within-doc repeats
       count, the paper's corpus-wide semantics);
    3. ADJACENT-RUN MERGE: per doc, ``pos − row_number()`` is constant
       exactly within an island of consecutive flagged starts, so one
       per-doc window + one keyed aggregation yields the maximal spans
       ``[min(pos), max(pos)+k−1]``.  Overlapping and nested
       duplicated substrings merge into one span (the union is what
       span-subtraction needs), and — unlike the k-window removal path
       (``curation.remove_duplicate_spans``) — the k× covered-token
       explode never happens, so k=50 costs the same shuffle volume as
       k=8.

    Three shuffles (gram count window, island window, island agg), all
    keyed by data-proportional keys; the gram key is a 64-bit chained
    xxhash64 (uniform, no salting needed).  Collisions can only extend
    or merge a span — the conservative direction.  Span subtraction
    composes through the existing plumbing: explode
    ``sequence(span_start, span_end)`` and anti-join token indices
    (the spans are disjoint per doc by construction, so the explode is
    O(doc length), not O(windows × k))."""
    if k < 1:
        raise ValueError(f"duplicate_substring_spans: k must be >= 1, got {k}")
    if min_count < 2:
        raise ValueError(
            f"duplicate_substring_spans: min_count must be >= 2, got {min_count}"
        )
    s1 = df.select(c(id_col).alias(id_col), tokens(F.lower(c(text_col))).alias("__tk"))
    s2 = s1.select(id_col, F.transform("__tk", lambda t: F.xxhash64(t)).alias("__th"))
    s3 = s2.select(id_col, chained_window_hashes(F.col("__th"), k).alias("__sh"))
    occ = s3.select(
        id_col, F.posexplode_outer("__sh").alias("pos", "g")
    ).filter(F.col("g").isNotNull())
    dup = occ.withColumn(
        "__c", F.count(F.lit(1)).over(Window.partitionBy("g"))
    ).filter(F.col("__c") >= min_count)
    isl = dup.withColumn(
        "__isl",
        F.col("pos")
        - F.row_number().over(Window.partitionBy(id_col).orderBy("pos")),
    )
    return (
        isl.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("int").alias("span_end"),
            F.count(F.lit(1)).cast("int").alias("n_windows"),
        )
        .withColumn(
            "span_tokens",
            (F.col("span_end") - F.col("span_start") + 1).cast("int"),
        )
        .select(id_col, "span_start", "span_end", "span_tokens", "n_windows")
    )


def remove_substring_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Apply :func:`duplicate_substring_spans`: rebuild every document
    with each maximal ≥k-token corpus-duplicated substring cut out —
    the Lee et al. 2022 treatment ("dedup the substrings, keep the
    rest") at the paper's span semantics, where
    ``curation.remove_duplicate_spans`` removes per-WINDOW.  Same
    output contract as that operator: adds ``clean_text`` (surviving
    casefolded tokens re-joined single-spaced), ``n_tokens``,
    ``kept_tokens``; ``id_col`` must be unique non-NULL.

    Cost shape: the covered-token explode here is
    ``sequence(span_start, span_end)`` over MAXIMAL DISJOINT spans —
    O(covered tokens) total, never the k-per-window amplification —
    so k=50 subtraction costs the same shuffle volume as k=8.  Five
    keyed shuffles end to end (three from the span reconstruction,
    anti-join, re-assembly + join back)."""
    spans = duplicate_substring_spans(df, text_col, k, id_col, min_count)
    removed = spans.select(
        c(id_col).alias(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("__tidx"),
    )
    tok = df.select(
        c(id_col).alias(id_col), tokens(F.lower(c(text_col))).alias("__tk")
    )
    tokix = tok.select(
        id_col, F.posexplode_outer("__tk").alias("__tidx", "__tok")
    ).filter(F.col("__tidx").isNotNull())
    kept = tokix.join(removed, [id_col, "__tidx"], "left_anti")
    clean = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tidx", "__tok"))),
                lambda s: s["__tok"],
            ),
        ).alias("__clean"),
        F.count(F.lit(1)).cast("bigint").alias("__kept"),
    )
    return (
        df.withColumn(
            "n_tokens", F.size(tokens(F.lower(c(text_col)))).cast("bigint")
        )
        .join(clean, id_col, "left")
        .withColumn("clean_text", F.coalesce(F.col("__clean"), F.lit("")))
        .withColumn(
            "kept_tokens", F.coalesce(F.col("__kept"), F.lit(0).cast("bigint"))
        )
        .drop("__clean", "__kept")
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Overlapping word ``k``-shingles of the lowercased text.
    Texts with fewer than ``k`` words yield an empty array.

    Built as k whole-array ``slice``s zipped element-wise — ~7x faster
    than the per-index ``transform(sequence(...), slice(toks, i, k))``
    formulation, which allocates a k-element array per output shingle."""
    toks = tokens(F.lower(c(col)))
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    offsets = [F.slice(toks, i + 1, m) for i in range(k)]
    out = offsets[0]
    for nxt in offsets[1:]:
        out = F.zip_with(out, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return out


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct character ``n``-grams of the text."""
    src = c(col)
    ln = F.length(src)
    grams = F.when(ln < n, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), ln - (n - 1)), lambda i: F.substring(src, i, n))
    )
    return F.array_distinct(grams)


def _shingle_hash(x: Column, seed: int, hash_fn: str) -> Column:
    if hash_fn == "md5":
        # byte-identical in DuckDB: md5('<seed>|' || shingle), min over hex strings
        return F.md5(F.concat(F.lit(f"{seed}|"), x))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    hash_fn: str = "xxhash64",
    k: int = 3,
) -> DataFrame:
    """(id, sig) per doc via shingle-explode + min-aggregation.

    This is the scale shape: the exploded shingle rows of a doc sit in
    the same input partition, so partial (map-side) aggregation collapses
    them to one row *before* the shuffle — shuffle volume is
    docs × num_hashes longs, independent of text length. It also keeps
    every expression flat (one hash call per aggregate), where a single
    nested array expression with num_hashes × shingles terms defeats
    codegen and recomputes per consumer.
    Docs with fewer than ``k`` words produce no row.
    """
    if hash_fn == "xxhash64":
        ex = exploded_window_hashes(df, text_col, k, [F.col(id_col).alias("id")])
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("s"))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        sh = word_shingles(c(text_col), k)
        ex = df.select(F.col(id_col).alias("id"), F.explode(sh).alias("s"))
        aggs = [
            F.min(_shingle_hash(F.col("s"), i, hash_fn)).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return (
        ex.groupBy("id")
        .agg(*aggs)
        .select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    k: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding, scored by the
    MinHash Jaccard estimate (fraction of agreeing signature slots).

    Plan shape (the scale path): one signature aggregation shared by
    all three consumers via exchange reuse →
    explode to ``bands`` rows/doc → self-equi-join on (band, band_key) →
    distinct id pairs → signatures rejoined for the estimate. Shuffle
    keys are uniform hashes, so no skew; pair blowup is bounded by
    bucket sizes (near-identical docs landing in one bucket is the
    *point*). Returns (id_a, id_b, est_jaccard) with id_a < id_b.

    NOTE: this call is EAGER — the signature aggregation runs at call
    time (an eager localCheckpoint shares it across the plan's three
    consumers; computing lazily was measured slower than not sharing at
    all). Build the plan only when you intend to execute it.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    # localCheckpoint: the signature table has THREE consumers (banding +
    # both sides of the estimate rejoin) and Spark does not give them a
    # ReusedExchange (measured: zero reuse, the shingle+hash aggregation
    # runs three times). The eager checkpoint truncates the plan to one
    # shared RDD so signatures compute once; the lazy variant
    # (eager=False) was measured SLOWER than no checkpoint at all (the
    # deferred materialization recomputes), so eagerness is deliberate —
    # see the docstring note. Unlike persist() the blocks are released
    # when the DataFrame is GC'd, so nothing stays pinned for the
    # session lifetime. ~25% faster steady-state and ~4x faster cold
    # (one codegen) at sf0.1.
    base = minhash_signatures_df(
        df, id_col, text_col, num_hashes, hash_fn, k
    ).localCheckpoint()
    return minhash_pairs_from_signatures(base, num_hashes, bands, threshold)


def minhash_pairs_from_signatures(
    sigs: DataFrame, num_hashes: int, bands: int, threshold: float = 0.5
) -> DataFrame:
    """LSH banding + Jaccard estimate over a PRECOMPUTED ``(id, sig)``
    table — the tail of :func:`minhash_pairs`, split out so signatures
    can come from anywhere: the signature store of the streaming ingest,
    or a parquet checkpoint shared with an external engine (which is how
    the xxhash64 path gets an end-to-end DuckDB oracle despite DuckDB
    lacking xxhash64) — as long as every signature in ONE call came from
    the same ``(num_hashes, hash_fn, k)``. ``sigs`` should
    already be materialized (localCheckpoint / parquet): it has three
    consumers here."""
    banded = banded_signatures(sigs, num_hashes, bands)
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return _estimate_pairs(cand, sigs, num_hashes, threshold)


def lsh_candidate_stats(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Per-band LSH bucket statistics WITHOUT enumerating a single
    candidate pair: ``(band, n_buckets, max_bucket, candidate_pairs)``
    where ``candidate_pairs = Σ k·(k−1)/2`` over the band's bucket
    sizes ``k``.

    Two jobs for one operator:

    * **Tuning instrument** — the numbers that decide (bands, rows) for
      a corpus before paying for the self-join: total candidate volume,
      and whether one mega-bucket dominates (``max_bucket``, the skew
      signal that says "salt or re-band before joining").
    * **Compute-only scale probe** — the full pair listing's output is
      Θ(Σk²) BY CONSTRUCTION on duplicate-heavy data, so its wall-clock
      ratio under data scaling conflates plan cost with output volume.
      This aggregate covers the identical corpus-sized compute
      (shingle → minhash → band → bucket agg) with BAND-sized output,
      so a superlinear ratio here is unambiguously plan regression
      (tools/scale_gate.py gates on exactly this).

    One extra keyed aggregation over :func:`banded_signatures`'s
    output; partial aggregation collapses each bucket map-side, so the
    shuffle carries bucket-count rows, not doc rows.
    """
    banded = banded_signatures(sigs, num_hashes, bands)
    per_bucket = banded.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("k").alias("max_bucket"),
            # k·(k−1) is even, so the halving is exact in integers
            F.sum(F.col("k") * (F.col("k") - F.lit(1))).alias("pairs2"),
        )
        .select(
            "band",
            "n_buckets",
            "max_bucket",
            F.expr("pairs2 div 2").cast("bigint").alias("candidate_pairs"),
        )
    )


def minhash_star_edges(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """LSH bucket connectivity as STAR edges — ``(hub, member)`` with
    hub = the bucket's min id — instead of all-pairs: ``k−1`` edges per
    bucket where pair enumeration emits ``k·(k−1)/2``.

    Within one bucket, {hub→m₁, hub→m₂, …} and the full pair clique
    have IDENTICAL transitive closure, so feeding these edges to
    :func:`connected_components` / :func:`connected_components_star`
    yields exactly the clusters the all-pairs listing would — at output
    volume ≤ bands·n edges, linear in the corpus no matter how
    duplicate-heavy it is. This is the production 100 TB dedup path:
    all-pairs on an m-fold duplicate group is Θ(m²) by definition and
    exists for pair-level INSPECTION (scores, audits), not for
    clustering. The trade: no per-pair Jaccard estimate, so no
    threshold filter — every bucket co-occupant connects. Run it at
    (bands, rows) tuned so bucket co-occupancy already implies the
    similarity you mean (more rows/band = higher precision), checked
    cheaply first via :func:`lsh_candidate_stats`.

    Plan: bucket-min aggregation (map-side combined) + one join back on
    the same (band, band_key) key — Spark reuses the banding exchange —
    then a distinct on the edge pair (a member can meet the same hub in
    several bands). Returns ``(id_a, id_b)``, ``id_a < id_b`` (the hub
    is the bucket min, so it is always the smaller endpoint).
    """
    banded = banded_signatures(sigs, num_hashes, bands)
    hubs = banded.groupBy("band", "band_key").agg(
        F.min("id").alias("hub"), F.count(F.lit(1)).alias("k")
    )
    return (
        banded.join(hubs.filter(F.col("k") >= 2), ["band", "band_key"])
        .filter(F.col("id") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def banded_signatures(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode ``(id, sig)`` into ``(id, band, band_key)`` LSH rows.

    The band key is the raw signature slots themselves (array equality
    in the join) — no hash computation, and an 8-16 byte shuffle key
    instead of a 32-char md5 string.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.array(
                            *[
                                F.element_at(F.col("sig"), b * rows + r + 1)
                                for r in range(rows)
                            ]
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.band_key")


def _keep_scored_pairs(
    df: DataFrame,
    id_a: Column,
    id_b: Column,
    score: Column,
    name: str,
    threshold: float,
) -> DataFrame:
    """``(id_a, id_b, <name>)`` rows of ``df`` whose ``score`` clears
    ``threshold`` — with the score expression evaluated ONCE per pair.

    The obvious ``select(score).filter(col >= t)`` spelling lets
    predicate pushdown substitute the scoring expression into the
    filter below the projection, so every candidate pays the score
    twice — and pair scores here are interpreted higher-order
    expressions (zip_with folds, array intersections), the costliest
    per-row work in the dedup family (measured 2.0x on
    embedding_neardup_exact: 24.5 → 15.5 s at sf0.1). Building the
    score once into a one-element struct array and filtering on the
    BOUND field inside the HOF makes the threshold test a field read,
    and the explode (Generate) barrier keeps the optimizer from
    re-inlining the expression. NULL scores are dropped, exactly like
    the plain ``>=`` filter."""
    packed = F.filter(
        F.array(
            F.struct(
                id_a.alias("id_a"), id_b.alias("id_b"), score.alias(name)
            )
        ),
        lambda s: s[name] >= F.lit(float(threshold)),
    )
    return df.select(F.explode(packed).alias("__kept")).select(
        F.col("__kept.id_a").alias("id_a"),
        F.col("__kept.id_b").alias("id_b"),
        F.col(f"__kept.{name}").alias(name),
    )


def _estimate_pairs(
    cand: DataFrame, sigs: DataFrame, num_hashes: int, threshold: float
) -> DataFrame:
    """Rejoin signatures onto (id_a, id_b) candidates and keep pairs
    whose MinHash Jaccard estimate clears ``threshold``."""
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda v: v,
        )
    )
    est = matches / F.lit(float(num_hashes))
    return _keep_scored_pairs(
        cand.join(sa, "id_a").join(sb, "id_b"),
        F.col("id_a"), F.col("id_b"), est, "est_jaccard", threshold,
    )


def minhash_incremental_pairs(
    new_df: DataFrame,
    base_sigs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    k: int = 3,
    broadcast_new: bool = True,
    new_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs for a NEW shard against an existing corpus —
    the daily-increment shape: the base corpus's ``(id, sig)`` table is
    built once (``minhash_signatures_df``, persisted wherever), and each
    increment only shingles its own documents.

    Returns every candidate pair with at least one NEW member —
    new×new and new×base — scored exactly like :func:`minhash_pairs`;
    pairs internal to the base are assumed already known. With
    ``minhash_pairs(base)`` ∪ this, you get precisely
    ``minhash_pairs(base ∪ new)`` (asserted in tests), so incremental
    ingestion never re-pairs the existing corpus.

    Scale shape: the increment's banded rows are tiny next to the
    corpus's, so they BROADCAST (``broadcast_new``, default) — the
    base-side bucket table streams map-side with no shuffle. At
    increment sizes past broadcast limits, flip it off and the join
    shuffles on (band, band_key) as usual. Base and new ids must be
    disjoint.
    """
    if new_sigs is None:
        new_sigs = minhash_signatures_df(
            new_df, id_col, text_col, num_hashes, hash_fn, k
        ).localCheckpoint()  # two consumers (banding + estimate), as minhash_pairs
    # callers passing precomputed new_sigs (e.g. the streaming ingest,
    # which also persists them) must match (num_hashes, hash_fn, k)
    all_sigs = base_sigs.select("id", "sig").unionByName(new_sigs)
    nb = banded_signatures(new_sigs, num_hashes, bands)
    ab = banded_signatures(all_sigs, num_hashes, bands)
    left = F.broadcast(nb) if broadcast_new else nb
    cand = (
        left.alias("a")
        .join(
            ab.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _estimate_pairs(cand, all_sigs, num_hashes, threshold)


def _md5_60bit(x: Column) -> Column:
    """60-bit integer hash from the first 15 hex chars of md5 —
    reproducible in DuckDB by a positional polynomial (no conv() there)."""
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")


def simhash60(col: Column | str, bits: int = 60) -> Column:
    """SimHash fingerprint (60-bit to stay in signed-int range): sum of
    ±1 per bit over token hashes, sign-collapsed to a bit vector.

    Pure expressions: tokens → per-token 60-bit hash → per-bit vote via
    transform/aggregate. Cross-engine reproducible (md5-derived hashes).
    """
    def vote_for_bit(hashes: Column, b: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    # the token-hash array must be BOUND, not referenced: all `bits`
    # vote folds read it, and Catalyst inlines a named Column at every
    # reference — the tokenize+md5 transform re-evaluated 60x per row
    # (simhash_fingerprints at sf0.1: 24.8 s before, see the same let
    # spelling in web.main_content_blocks). transform over a
    # one-element array binds it evaluated once; size(hs) == size(toks)
    # (transform is length- and NULL-preserving), so the empty-token
    # guard reads the bound array too.
    toks = tokens(F.lower(c(col)))
    hashes = F.transform(toks, _md5_60bit)

    def fold(hs: Column) -> Column:
        out = F.lit(0).cast("bigint")
        for b in range(bits):
            out = out + F.when(
                vote_for_bit(hs, b) > 0, F.lit(2**b).cast("bigint")
            ).otherwise(F.lit(0))
        return F.when(F.size(hs) > 0, out)

    return F.get(F.transform(F.array(hashes), fold), 0)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list by hash-to-min
    label propagation: every node's label starts as its own id and each
    round becomes the min of its own and its neighbors' labels, until a
    fixpoint. Returns (id, component) with component = min node id in
    the component, for every node incident to an edge.

    Raises ``ValueError`` for ``max_iterations < 1`` and ``RuntimeError``
    if the loop hits the cap before converging.

    This is the dedup-cluster step that turns near-duplicate PAIRS
    (minhash_pairs / embedding_neardup_*) into keep-one-per-group
    assignments. Each round is one equi-join + one union + one
    aggregation (two shuffles) over the edge list; rounds needed =
    graph diameter, which for near-dup clusters is tiny (near-cliques:
    2-3). Convergence is detected by the per-round SUM of labels:
    labels only ever decrease, so the sum is strictly monotone until
    the fixpoint and one cheap scan-agg per round replaces the
    old-vs-new label join a changed-count would need. Nothing is
    collected to the driver but that one scalar. For billion-edge
    general graphs prefer the large-star/small-star variant (Kiveris
    et al., 2014); for dedup graphs this simple form is both fewer
    shuffles per round and fewer rounds.
    """
    if max_iterations < 1:
        # a skipped loop would return identity labels — every node its own
        # component — which is precisely the silent wrong answer the
        # convergence guard below exists to prevent
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    # checkpoint the symmetrized edges too: every propagation round joins
    # against them, and without truncation each round would re-run the
    # whole upstream pair-generation pipeline (for dedup graphs that is
    # the expensive MinHash/LSH stage, times the number of rounds)
    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        # hash-partitioned by the propagation join key and CACHED (not
        # checkpointed): persist preserves output partitioning through
        # planning even under AQE — a checkpoint's LogicalRDD reports
        # UnknownPartitioning there — so every round's sym⋈labels join
        # reuses the layout instead of re-shuffling the 2|E|-row edge
        # table per round (same co-partitioning move as
        # functions/graph.pagerank). The materialize-once benefit of
        # the old checkpoint is kept: the cache fills on first use and
        # the pair-generation upstream never re-runs.
        .repartition("d")
        .persist()
    )
    # empty edge set: nothing to label — skip the iteration machinery
    # (each round costs a checkpoint + a collect even on zero rows;
    # measured ~5s of pure overhead on an empty graph). Release the
    # cache eagerly: the empty-graph case is the COMMON one for clean
    # corpora, and each leaked persist holds storage for the session.
    if sym.limit(1).isEmpty():
        out = sym.select(F.col("s").alias("id"), F.col("d").alias("comp"))
        sym.unpersist()
        return out
    # localCheckpoint each round: every step references the previous one
    # TWICE (propagation join + label join), so without lineage truncation
    # the logical plan doubles per round — a diameter-11 path is a
    # 2^11-node plan and a driver OOM long before the data is big. The
    # eager checkpoint materializes the round and cuts the plan to a
    # constant size. (On a real cluster with executor churn, reliable
    # `checkpoint()` to the checkpoint dir is the durable variant.)
    labels = (
        sym.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    # decimal(38,0) keeps the convergence sum exact for any bigint ids
    # (a double sum would round above 2^53 and could miss a real change)
    label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    converged = False
    # try/finally: the per-round collect can throw (task failure, ^C) —
    # the iteration-scoped cache must not outlive the call either way;
    # labels are checkpointed, independent of the cached edges
    try:
        prev_sum = labels.agg(label_sum).collect()[0][0]
        for _ in range(max_iterations):
            prop = sym.join(labels, sym["d"] == labels["id"]).select(
                F.col("s").alias("id"), "comp"
            )
            # own label rides along via the union, so one keyed min-agg
            # does the least(own, neighbors) step without a join back
            # onto labels
            labels = (
                labels.unionByName(prop)
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
                .localCheckpoint()
            )
            cur_sum = labels.agg(label_sum).collect()[0][0]
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
    finally:
        sym.unpersist()
    if not converged:
        # returning silently would report one real component as several
        # (labels > max_iterations hops from the component min are stale)
        raise RuntimeError(
            f"connected_components: not converged after {max_iterations} "
            "iterations; the graph diameter exceeds max_iterations — "
            "raise it"
        )
    return labels


def _cc_canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (a=min, b=max), self-loops dropped,
    duplicates collapsed."""
    return (
        e.select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _cc_sym(canon: DataFrame) -> DataFrame:
    """Both orientations (u, v) of a canonical edge set."""
    return canon.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        canon.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star/small-star edge
    rewriting (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC 2014). Returns (id, comp), comp = min node id, for
    every node incident to an edge — identical output to
    :func:`connected_components`.

    This is the BILLION-EDGE scale path: rounds needed are
    O(log² n) regardless of graph diameter, where hash-to-min label
    propagation needs diameter-many rounds (a 10⁶-hop path graph is 20
    star rounds vs 10⁶ propagation rounds). Per half-round it is one
    keyed aggregation (each node's min incident label — map-side
    combined) and one join, all on uniformly hashed node keys; no
    per-node adjacency list is ever materialized (high-degree nodes
    skew a collect_list formulation, not this one).

    * large-star: every neighbor LARGER than u re-attaches to u's min;
    * small-star: every neighbor ≤ u (and u) re-attaches to u's min.

    The fixpoint is a union of stars centered at component minima.
    Convergence is detected by EQUALITY of (count, content-hash-sum) of
    the canonical edge set across one large+small round — NOT by any
    monotone decrease: this kept-(u,min) formulation can transiently
    GROW the edge count and endpoint sum (a path {(1,2),(2,3)} expands
    to 3 edges for one round before collapsing), so never "optimize"
    the check into an early exit on non-decrease or a cheaper sum-only
    probe. The set-equality test costs one scan-agg per round, nothing
    collected but two scalars. For near-clique dedup graphs prefer
    :func:`connected_components` (fewer rounds, 2-3 shuffles total);
    for deep/unknown topologies this one bounds the round count.
    """
    if max_iterations < 1:
        raise ValueError(f"max_iterations must be >= 1, got {max_iterations}")
    # materialize the null-filtered edge projection ONCE: canon, the
    # early exit, and the final node recovery all read it — without
    # this, each consumer re-runs the whole upstream pair-generation
    # pipeline (for dedup graphs, the expensive MinHash/LSH stage; the
    # same rationale as connected_components' sym checkpoint)
    both = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .localCheckpoint()
    )
    nodes = (
        both.select(F.col("a").alias("id"))
        .unionByName(both.select(F.col("b").alias("id")))
        .distinct()
    )
    canon = _cc_canon(both).localCheckpoint()
    if canon.limit(1).isEmpty():
        # no non-loop edges: every incident node (self-loops included)
        # is its own component — same early exit as connected_components
        return nodes.select("id", F.col("id").alias("comp"))

    def _star(sym: DataFrame, large: bool) -> DataFrame:
        m = sym.groupBy("u").agg(F.min(F.least(F.col("v"), F.col("u"))).alias("m"))
        moved = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u") if large else F.col("v") <= F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        kept = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return _cc_canon(moved.unionByName(kept))

    def _metric(canon_e: DataFrame):
        # (count, order-insensitive content hash): equal exactly when the
        # edge SET is unchanged (up to a negligible 64-bit hash-sum
        # collision) — a changed set with coincidentally equal endpoint
        # sums must not stop the loop early. Decimal sum stays exact.
        row = canon_e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.col("a"), F.col("b")).cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    prev = _metric(canon)
    converged = False
    for _ in range(max_iterations):
        canon = _star(_cc_sym(canon), large=True)
        canon = _star(_cc_sym(canon), large=False).localCheckpoint()
        cur = _metric(canon)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star: not converged after {max_iterations} "
            "iterations — raise max_iterations"
        )
    # fixpoint is a union of stars: each node's min incident endpoint IS
    # its component (the center labels itself via the kept self edge)
    labels = (
        _cc_sym(canon)
        .groupBy(F.col("u").alias("id"))
        .agg(F.min(F.least(F.col("u"), F.col("v"))).alias("comp"))
    )
    # nodes whose only edges were self-loops vanished with the loops at
    # canonicalization; they are their own component (parity with
    # connected_components, which keeps them)
    # nodes (computed from the checkpointed projection above; an edge
    # with a NULL endpoint is no edge — same rule as
    # connected_components) restore self-loop-only ids the
    # canonicalization dropped
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce(F.col("comp"), F.col("id")).alias("comp")
    )


def embedding_neardup_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    blocks: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every (id_a < id_b)
    pair whose cosine similarity >= ``threshold``. Returns
    (id_a, id_b, cos).

    The all-pairs O(n²·d) score is the point of this function (it is
    the verification baseline for :func:`embedding_neardup_lsh`, which
    is the 100 TB path), so the optimization target is the COST PER
    PAIR, not the pair count. Round 14 moved the scoring off the
    per-pair interpreted ``zip_with``/``aggregate`` fold (64 interpreted
    lambda steps per pair — r13 measured 12.5 s at sf0.1 AFTER the
    single-evaluation fix) onto a blocked Arrow path: vectors are
    grouped into ``blocks`` hash blocks, block pairs are enumerated by
    a tiny (blocks²/2-row) join, and each task scores one block pair in
    NumPy (guide §4.2 — hand whole batches to vectorized native code).

    Bit-identical by construction, NOT merely close: the NumPy kernel
    accumulates the dot product dimension-by-dimension in index order
    across the whole pair block (``acc += A[:, k] ⊗ B[:, k]``), which
    performs the same IEEE-754 double additions in the same order as
    the sequential ``aggregate`` fold (and as the oracle's
    ``list_reduce``) — float64 add is deterministic given order, so
    every cosine, the threshold decision, and the rounded output are
    unchanged. Norms accumulate the same way. Mixed-dimension pairs
    produce no output (the zip_with semantics). A NaN element makes its
    pairs' cosine NaN, and those pairs are KEPT: Spark and DuckDB both
    order NaN above every double, so ``NaN >= threshold`` holds there.
    A NULL element makes its pairs' cosine NULL, so its vector never
    pairs, and neither do NULL ids/vectors.

    ``blocks`` defaults to the session's default parallelism; the pair
    SET is independent of it. Each block is replicated ``blocks`` times
    through the block-pair join, so data movement is O(blocks·n) — keep
    blocks near the core count, and keep corpora LSH-sized out of this
    function altogether."""
    spark = df.sparkSession
    id_t = df.schema[id_col].dataType.simpleString()
    # a NULL element makes every cosine of its vector NULL (no pair), but
    # Arrow hands it to NumPy as NaN, which must pair: drop it here
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).filter(
        F.col("v").isNotNull()
        & F.col("id").isNotNull()
        & ~F.exists("v", lambda x: x.isNull())
    )
    if blocks is None:
        blocks = spark.sparkContext.defaultParallelism
    n_blocks = max(int(blocks), 1)
    blk = base.groupBy(
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).alias("b")
    ).agg(F.collect_list(F.struct("id", "v")).alias("rows"))
    pairs_in = (
        blk.alias("x")
        .join(blk.alias("y"), F.col("x.b") <= F.col("y.b"))
        .select(
            (F.col("x.b") == F.col("y.b")).alias("same"),
            F.col("x.rows").alias("ra"),
            F.col("y.rows").alias("rb"),
        )
    )
    thr = float(threshold)

    def _score(batches):
        import numpy as np
        import pandas as pd

        def unpack(cell):
            ids, vecs, lens = [], [], []
            for e in cell:
                ids.append(e["id"])
                vecs.append(np.asarray(e["v"], dtype=np.float64))
                lens.append(len(e["v"]))
            width = max(lens) if lens else 0
            mat = np.zeros((len(vecs), width), dtype=np.float64)
            for i, v in enumerate(vecs):
                mat[i, : lens[i]] = v
            return (
                np.asarray(ids, dtype=object),
                mat,
                np.asarray(lens, dtype=np.int64),
            )

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for same, ra, rb in zip(pdf["same"], pdf["ra"], pdf["rb"]):
                ia, A, la = unpack(ra)
                ib, B, lb = unpack(rb)
                if not len(ia) or not len(ib):
                    continue
                d = max(A.shape[1], B.shape[1])
                if A.shape[1] < d:
                    A = np.pad(A, ((0, 0), (0, d - A.shape[1])))
                if B.shape[1] < d:
                    B = np.pad(B, ((0, 0), (0, d - B.shape[1])))
                # dot + norms accumulated dimension-by-dimension: the
                # exact IEEE add order of the sequential fold (padding
                # slots are exact zeros: x + 0.0 == x)
                acc = np.zeros((len(ia), len(ib)), dtype=np.float64)
                na = np.zeros(len(ia), dtype=np.float64)
                nb = np.zeros(len(ib), dtype=np.float64)
                for k in range(d):
                    acc += A[:, k, None] * B[None, :, k]
                    na += A[:, k] * A[:, k]
                    nb += B[:, k] * B[:, k]
                denom = np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = acc / denom
                # NaN orders above every double in Spark and DuckDB, so a
                # NaN cosine passes the threshold there: keep it here too
                mask = (denom != 0.0) & (np.isnan(cos) | (cos >= thr))
                # zip_with semantics: a mixed-dimension pair never scores
                mask &= la[:, None] == lb[None, :]
                if bool(same):
                    mask &= np.asarray(ia[:, None] < ib[None, :], dtype=bool)
                i, j = np.nonzero(mask)
                if not len(i):
                    continue
                lo_is_a = np.asarray(ia[i] < ib[j], dtype=bool)
                out_a.append(np.where(lo_is_a, ia[i], ib[j]))
                out_b.append(np.where(lo_is_a, ib[j], ia[i]))
                out_c.append(cos[i, j])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    return pairs_in.mapInPandas(_score, f"id_a {id_t}, id_b {id_t}, cos double")


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded random-hyperplane LSH.

    Each vector gets ``bands`` signatures of ``rows_per_band`` sign bits
    (deterministic hash-derived hyperplanes, shared with
    :func:`hobbes_spark.functions.similarity.lsh_bucket_topk` through
    :func:`~hobbes_spark.functions.similarity.plane_weight_matrix`); rows are
    candidates if ANY band matches. Plan shape: one signature scan →
    explode to ``bands`` rows/vector → self-equi-join on (band, key) →
    distinct pairs → exact cosine rerank >= ``threshold``.

    The scale path: shuffle keys are uniform sign-bit buckets and the
    join touches only same-bucket pairs, so cost tracks the true
    duplicate density instead of n^2. Identical (or positively scaled)
    vectors always share every band, so recall on exact duplicates is
    1.0; for merely-similar pairs recall is the classic banding curve —
    raise ``bands`` or lower ``rows_per_band`` to trade cost for recall.
    Returns (id_a, id_b, cos) with id_a < id_b.

    Operating note for scale: bucket occupancy is n / 2^rows_per_band
    per band, and the candidate join costs Θ(bands · n²/2^bits), so
    ``rows_per_band`` must grow ≈ log2(n) with the corpus (the small
    defaults suit the test corpora; tools/scale_check.py sizes them
    dynamically).
    """
    from hobbes_spark.functions.similarity import (
        corpus_dim,
        plane_weight_matrix,
    )

    dim = corpus_dim(df, vec_col)
    if dim is None:  # empty/all-null corpus: no pairs by construction
        spark = df.sparkSession
        return spark.createDataFrame(
            [], f"id_a {df.schema[id_col].dataType.simpleString()}, "
                f"id_b {df.schema[id_col].dataType.simpleString()}, cos double"
        )
    # weights hashed once (see plane_weight_matrix); signs via one
    # Arrow-batched matmul — an expression form pays planes × dim
    # interpreted lambda steps per row (measured ~5s for 5k×64-dim×72
    # planes; the matmul is ms)
    from hobbes_spark.functions.similarity import hyperplane_signs_arrow

    weights = plane_weight_matrix(df.sparkSession, bands * rows_per_band, dim)
    signs = hyperplane_signs_arrow(weights)(F.col("v"))
    sig_cols = []
    for band in range(bands):
        key = F.lit(0).cast("bigint")
        for r in range(rows_per_band):
            plane = band * rows_per_band + r
            key = key + F.element_at(F.col("__signs"), plane + 1).cast(
                "bigint"
            ) * F.lit(2**r).cast("bigint")
        sig_cols.append(
            F.struct(F.lit(band).alias("band"), key.alias("key"))
        )
    from hobbes_spark.functions.similarity import _dotd, _norm

    # ONE spelling of the vector norm (similarity._norm — the exact path
    # uses the same); materialized via localCheckpoint because base has
    # three consumers (the banding scan and both rerank rejoins) and
    # banded self-joins — without truncation the Arrow sign matmul and
    # the source scan re-run per consumer, the same multi-consumer
    # recomputation minhash_pairs documents (~25% there)
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias(
                "nrm"
            ),
        )
        .filter(F.col("v").isNotNull())
        .localCheckpoint()
    )
    banded = (
        base.select("id", signs.alias("__signs"))
        .select("id", F.explode(F.array(*sig_cols)).alias("bk"))
        .select("id", "bk.band", "bk.key")
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = _dotd(F.col("va"), F.col("vb")) / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
    return _keep_scored_pairs(
        cand.join(va, "id_a").join(vb, "id_b"),
        F.col("id_a"), F.col("id_b"), cos, "cos", threshold,
    )


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT all-pairs word-set Jaccard self-join via prefix filtering
    (AllPairs / PPJoin family, Bayardo et al. 2007, Xiao et al. 2008) —
    the deterministic sibling of MinHash LSH: every pair with
    ``jaccard(tokens(a), tokens(b)) >= threshold`` is returned, no
    recall curve. Returns (id_a, id_b, jaccard), id_a < id_b.

    The pruning theorem: order every document's distinct tokens by
    GLOBAL rarity; two sets with Jaccard ≥ θ must share a token within
    each one's first ``n − ⌈θ·n⌉ + 1`` rarest tokens. So candidates are
    generated only from those short prefixes — and prefixes are made of
    the RAREST tokens, so bucket sizes stay small where a naive
    token-inverted-index join would explode on stopwords.

    Plan: (id, token) distinct explode → global token counts (one keyed
    agg) → rarity-ranked per-doc arrays (one agg) → prefix explode →
    equi-join on token → distinct candidates → exact set Jaccard from
    the two full arrays. All shuffles keyed on uniform values (token,
    id); the verify step is array intersection on already-built arrays.
    Docs with zero tokens never pair. Correctness is pinned against a
    brute-force oracle; the pruning only removes pairs, never results.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(F.lower(c(text_col))))).alias("tok"),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__tf"))
    docs = (
        toks.join(freq, "tok")
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__tf", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("n", F.size("toks"))
        # EAGER materialization (the minhash_pairs precedent, same
        # reasoning documented there): the ranked-array table has FOUR
        # consumers (both prefix join sides + both verify rejoins), and
        # without truncation the explode→freq-join→collect_list subtree
        # compiles and runs once per consumer (r13: 1.09 s/subtree at
        # sf0.1, and the un-truncated plan also denied the planner real
        # sizes for the candidate join). Sizing note (r13 advice): this
        # holds id + the full ranked token array per doc — proportional
        # to the TOKENIZED corpus minus payload columns, not metadata-
        # sized; budget executor storage accordingly. Tradeoffs of the
        # eager localCheckpoint: building this DataFrame runs a Spark
        # job even if the result is never executed, and localCheckpoint
        # is not fault-tolerant (an executor loss makes partitions
        # unrecoverable — rerun the query). For cluster runs where that
        # matters, swap for reliable checkpoint/persist at the call
        # site.
        .localCheckpoint()
    )
    # round before ceil: IEEE products like 100*0.55 = 55.000000000000004
    # would otherwise ceil to 56 and shorten the prefix by one token,
    # silently missing boundary pairs the EXACT guarantee promises
    pref_len = (
        F.col("n") - F.ceil(F.round(F.col("n") * F.lit(threshold), 9)) + 1
    ).cast("int")
    pref = docs.select(
        "id", "n", F.explode(F.slice(F.col("toks"), 1, pref_len)).alias("tok")
    )
    # PPJoin length filter (Xiao et al. 2008 §3.1), applied INSIDE the
    # candidate join so non-qualifying pairs die before the distinct
    # exchange: jaccard ≥ θ implies θ·max(na,nb) ≤ min(na,nb) (the
    # estimate can't beat min/max), so the band predicate only removes
    # pairs the exact verify would reject anyway — results unchanged,
    # the brute-force oracle pins it. Same round-before-compare
    # convention as pref_len (a boundary pair like n=9 vs n=10 at
    # θ=0.9 must survive 0.9*10 = 9.000000000000002). r13 measured
    # 11.3 M → 3.69 M candidates on the sf0.1 corpus.
    #
    # The PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2) was
    # implemented, property-tested and REJECTED in r14 on measurement:
    # with prefixes made of the globally rarest tokens, a generating
    # occurrence at position 0 on either side (the common case) has a
    # positional bound of min(na, nb), which the length filter already
    # enforces — it pruned 3.69 M → 3.42 M distinct candidates at
    # θ=0.9 (7%) and 0.04% at θ=0.5 on the sf0.1 corpus while adding a
    # posexplode column and a per-join-row bound check (+0.5-1 s at
    # θ=0.9, +50% at θ=0.5). The randomized brute-force property test
    # in tests/test_functions.py stays as the exactness pin.
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.round(F.col("b.n") * F.lit(threshold), 9) <= F.col("a.n"))
            & (F.round(F.col("a.n") * F.lit(threshold), 9) <= F.col("b.n")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    da = docs.select(F.col("id").alias("id_a"), F.col("toks").alias("ta"),
                     F.col("n").alias("na"))
    db = docs.select(F.col("id").alias("id_b"), F.col("toks").alias("tb"),
                     F.col("n").alias("nb"))
    inter = F.size(F.array_intersect(F.col("ta"), F.col("tb")))
    jac = inter / F.nullif(
        (F.col("na") + F.col("nb") - inter).cast("double"), F.lit(0.0)
    )
    return _keep_scored_pairs(
        cand.join(da, "id_a").join(db, "id_b"),
        F.col("id_a"), F.col("id_b"), jac, "jaccard", threshold,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023): rows
    whose embeddings are near-identical in cosine form a semantic group;
    one representative (the min id) survives, the rest are dropped.
    Returns the surviving rows of ``df`` (all columns).

    Plan: banded hyperplane-LSH candidate pairs
    (:func:`embedding_neardup_lsh` — cost tracks duplicate density, not
    n²) → connected components over the pair graph (semantic groups are
    near-cliques, so the 2-3-round propagation variant) → anti-join of
    the non-representative members. Rows with NULL vectors are never
    paired and always survive. SemDeDup proper scopes the pairing to
    k-means cells; the LSH cells here are the deterministic,
    oracle-checkable stand-in with the same cost shape — swap
    ``embedding_neardup_lsh`` for a per-cell exact join to reproduce the
    paper exactly.
    """
    pairs = embedding_neardup_lsh(
        df, id_col, vec_col, threshold, bands, rows_per_band
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    drop = comp.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact character-n-gram Jaccard similarity for all pairs within a
    blocking key (same ``block_col``) — the exact-scoring stage normally
    fed by LSH candidates; blocking bounds the quadratic pair count.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    grams = char_ngrams(c(text_col), n)
    base = df.select(
        F.col(id_col).alias("id"), F.col(block_col).alias("blk"), grams.alias("g")
    ).filter(F.size("g") > 0)
    a, b = base.alias("a"), base.alias("b")
    inter = F.size(F.array_intersect(F.col("a.g"), F.col("b.g")))
    union = F.size(F.col("a.g")) + F.size(F.col("b.g")) - inter
    jac = inter / F.nullif(union.cast("double"), F.lit(0.0))
    return _keep_scored_pairs(
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))),
        F.col("a.id"), F.col("b.id"), jac, "jaccard", threshold,
    )
