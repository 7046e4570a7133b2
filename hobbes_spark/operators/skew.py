"""Skew handling for hot-key equi-joins.

At 100 TB a handful of hot keys (one language, one event type, one
empty-string id) can pin a join stage on one task. AQE's skew-join
splitting handles sort-merge joins above its byte thresholds; these
helpers cover the rest:

* :func:`salted_join` — hot-key equi-join where the dimension side is
  too big to broadcast: replicate the dimension ``salts`` times, give
  each fact row a random salt, join on ``(key, salt)`` — every hot key
  spreads over ``salts`` tasks.
* :func:`auto_salted_join` — the same with the salt factor derived from
  the measured join price (:func:`join_cardinality_stats`).

A hot-key *aggregation* needs none of this: Spark splits every
algebraic reduction (sum, count, min, max, avg) into a map-side
``partial_*`` aggregate and a final one around the exchange, so a hot
key sends at most one partial row per map task into the shuffle. A
plain ``groupBy().agg()`` is the whole plan.

Salts are deterministic given ``seed`` (``F.rand(seed)``), so runs are
reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hobbes_spark.expressions import c

__all__ = [
    "salted_join",
    "auto_salt_factor",
    "auto_salted_join",
    "join_cardinality_stats",
]


def _check_salted_join_contract(fact, dim, on: str, how: str) -> None:
    """Shared guard for the salted join family: join-type allowlist
    (right/full would surface unmatched dim keys once per replica) and
    the non-key overlap check (duplicate output columns fail far away
    with AMBIGUOUS_REFERENCE otherwise — same guard as asof/range
    joins)."""
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; {how!r} would "
            "multiply unmatched dim rows by the salt count"
        )
    overlap = (set(fact.columns) & set(dim.columns)) - {on}
    if overlap:
        raise ValueError(
            f"salted_join: overlapping non-key columns {sorted(overlap)}; "
            "rename or drop them on one side first"
        )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salts: int = 16,
    seed: int = 42,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``fact`` has hot keys and ``dim`` is too big to
    broadcast: ``dim`` is replicated ``salts`` times, ``fact`` rows get
    a random salt, and the join key becomes ``(on, salt)``.

    Join semantics (inner/left/semi/anti) are unchanged — each fact row
    matches exactly the one dim replica carrying its salt. Right/full
    joins would surface each unmatched dim key once per replica and are
    rejected."""
    _check_salted_join_contract(fact, dim, on, how)
    salt = F.floor(F.rand(seed) * salts).cast("int")
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    return f.join(d, on=[on, "__salt"], how=how).drop("__salt")


def auto_salt_factor(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    target_rows_per_task: int = 5_000_000,
    max_salts: int = 256,
) -> int:
    """Derive :func:`salted_join`'s salt factor from the measured join
    price instead of a hand-picked constant (r8 verdict item 5).

    Formula: the pricer (:func:`join_cardinality_stats`, ``top=1``)
    measures the hottest key's exact inner-join output ``max_out =
    n_fact(key) * n_dim(key)`` — the number of output rows the single
    task owning that key would produce unsalted. Salting the fact side
    ``s`` ways splits that key's output evenly across ``s`` tasks
    (each task joins ~``n_fact/s`` fact rows against the key's full dim
    replica), so the smallest factor keeping every task at or under
    ``target_rows_per_task`` output rows is

        salts = ceil(max_out / target_rows_per_task)

    clamped to ``[1, max_salts]``: 1 means the join is balanced enough
    that salting would only pay replication cost (callers should then
    skip the salt entirely — :func:`auto_salted_join` does), and the
    cap bounds the ``salts``-fold dim replication, the price of the
    technique. The default target (5M output rows/task) is the same
    order as a 128 MiB shuffle partition of ~25-byte join rows; tune it
    to the deployment's task sizing, not the data volume — that is what
    makes the formula scale-free.

    Cost: two map-side-combined key counts + a key-sized join — the
    pricer's plan — and a single-row collect. Deterministic (no
    sampling), so retried/speculated planning tasks derive the same
    factor.
    """
    if target_rows_per_task < 1:
        raise ValueError(
            f"auto_salt_factor: target_rows_per_task must be >= 1, "
            f"got {target_rows_per_task}"
        )
    hot = join_cardinality_stats(fact, dim, on, on, top=1).collect()
    max_out = hot[0]["out_rows"] if hot else 0
    salts = -(-max_out // target_rows_per_task)  # ceil div
    return int(max(1, min(salts, max_salts)))


def auto_salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    target_rows_per_task: int = 5_000_000,
    max_salts: int = 256,
    seed: int = 42,
    how: str = "inner",
) -> DataFrame:
    """:func:`salted_join` with the salt factor derived by
    :func:`auto_salt_factor`. A derived factor of 1 (no hot key worth
    splitting) skips the salt entirely — the plain equi-join carries no
    replication cost and AQE's skew handling suffices."""
    # contract-check up front so a data-dependent factor of 1 can't
    # silently accept a join shape the salted path would reject once
    # the data grows a hot key
    _check_salted_join_contract(fact, dim, on, how)
    salts = auto_salt_factor(fact, dim, on, target_rows_per_task, max_salts)
    if salts == 1:
        return fact.join(dim, on=on, how=how)
    return salted_join(fact, dim, on, salts=salts, seed=seed, how=how)


def join_cardinality_stats(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top: int = 10,
) -> DataFrame:
    """Price an equi-join BEFORE running it: per-key row counts on both
    sides, the per-key output cardinality ``n_l·n_r``, and each key's
    share of the total output — for the ``top`` heaviest keys (ties by
    key). The pre-flight instrument for :func:`salted_join` / AQE skew
    tuning, in the same spirit as ``dedup.lsh_candidate_stats``: the
    numbers that decide whether to salt, broadcast, or pre-filter a
    join cost two keyed COUNT aggregations (key-cardinality-sized
    output), never the join itself — a join that would explode to 10^13
    rows prices at exactly 10^13 here without materializing one of
    them.

    ``out_rows`` is the EXACT inner-join output for the key (NULL keys
    never match: both sides' NULL-key rows are counted and reported
    with ``out_rows`` 0, so "my join dropped rows" debugging sees
    them). ``share_pct`` is out_rows / total output, half-up to 2 dp —
    one key near 100 means one task does the whole join (salt it);
    flat shares mean the join is balanced and AQE alone is fine.

    Plan: two map-side-combined aggs → full-outer equi-join of two
    key-sized tables → one ungrouped total (1 row, broadcast back) →
    TakeOrdered top-k. The inputs are scanned once each, key columns
    only (column pruning reaches the scans).
    """
    if top < 1:
        raise ValueError(f"join_cardinality_stats: top must be >= 1, got {top}")
    lc = left.groupBy(c(left_key).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("left_rows")
    )
    rc = right.groupBy(c(right_key).alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("right_rows")
    )
    per = (
        lc.join(rc, lc["key"].eqNullSafe(rc["key"]), "full_outer")
        .select(
            F.coalesce(lc["key"], rc["key"]).alias("key"),
            # keep NULL-key visibility: counted, but joins produce 0
            (lc["key"].isNull() & rc["key"].isNull()).alias("__both_null"),
            F.coalesce("left_rows", F.lit(0)).alias("left_rows"),
            F.coalesce("right_rows", F.lit(0)).alias("right_rows"),
        )
        .withColumn(
            "out_rows",
            F.when(F.col("key").isNull() | F.col("__both_null"), F.lit(0))
            .otherwise(F.col("left_rows") * F.col("right_rows"))
            .cast("bigint"),
        )
        .drop("__both_null")
    )
    # per has TWO consumers (the total and the top-k) and Spark gives
    # them no ReusedExchange: without the checkpoint both input scans
    # and both count aggregations run twice (the minhash_pairs
    # multi-consumer rationale; key-cardinality-sized blocks, released
    # when the DataFrame is GC'd)
    per = per.localCheckpoint()
    total = per.groupBy().agg(
        F.sum("out_rows").cast("bigint").alias("__total")
    )
    from pyspark.sql import Window

    # orderBy + limit compiles to TakeOrdered (distributed partial
    # top-k); a bare row_number window over the key table would funnel
    # billions of keys into one sort task at 100 TB — rank is stamped
    # AFTER the limit, over `top` rows only
    topk = (
        per.crossJoin(F.broadcast(total))
        .withColumn(
            "share_pct",
            F.when(
                F.col("__total") > 0,
                F.floor(
                    F.col("out_rows") * 10000 / F.col("__total") + F.lit(0.5)
                ) / F.lit(100.0),
            ).otherwise(F.lit(0.0)),
        )
        .orderBy(F.desc("out_rows"), F.asc_nulls_last("key"))
        .limit(top)
    )
    w = Window.orderBy(F.desc("out_rows"), F.asc_nulls_last("key"))
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "rank", "key", "left_rows", "right_rows", "out_rows", "share_pct"
    )
