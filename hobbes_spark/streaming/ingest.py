"""Streaming near-duplicate ingest: MinHash signatures and LSH pairs
maintained incrementally as documents arrive.

The batch operators already split the work the right way
(:func:`hobbes_spark.functions.dedup.minhash_incremental_pairs`): a new
shard only shingles ITSELF and joins against the persisted signature
store — the corpus is never re-shingled, never re-paired. This module
turns that into a continuous pipeline with ``foreachBatch``:

    microbatch of documents
      → MinHash signatures (computed once)
      → incremental LSH pairs vs the signature store so far
      → append pairs    to  <store>/pairs/_batch_id=N/
      → append sigs     to  <store>/signatures/_batch_id=N/

Exactly-once: every writer here (MinHash, and the HLL / count-min sketch
stores below) is :func:`hobbes_spark.streaming.sinks.store_writer` over
a per-batch computation — one store guard (parameters pinned in
``<store>/_meta``, no rewind), then one
:func:`~hobbes_spark.streaming.sinks.write_batch` (``_batch_id``-keyed
dynamic partition overwrite) per store table. The MinHash "store so
far" read **filters ``_batch_id < N``** — a replayed batch sees exactly
the store state of its first attempt, rewrites exactly its own two
partitions, and cannot pair against its own half-written output. Union
of all pair partitions after any number of replays == ``minhash_pairs``
over everything ingested (asserted in tests).

State lives in parquet, not executor memory: restarts are free, the
store is directly queryable, and its size is docs × num_hashes longs —
the signature table IS the checkpointed state, which is why this scales
where an in-memory stateful operator would not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hobbes_spark.streaming.sinks import _path_exists, store_writer

__all__ = [
    "minhash_ingest_writer",
    "read_signature_store",
    "hll_ingest_writer",
    "cms_ingest_writer",
    "cms_store_sketch",
]


def _sig_schema(id_type: T.DataType, hash_fn: str = "xxhash64") -> T.StructType:
    # md5 signatures are hex STRINGS, xxhash64 signatures are longs —
    # an empty base typed with the wrong element type poisons the
    # union inside the incremental join with a bigint cast
    elem = T.StringType() if hash_fn == "md5" else T.LongType()
    return T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("sig", T.ArrayType(elem)),
        ]
    )


def read_signature_store(
    spark: SparkSession, store_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """Signatures ingested so far (optionally only strictly before a
    batch id — the replay-safety filter). None if the store is empty.

    ONLY a missing signatures directory means "empty base". Any other
    read failure (transient FS error, corrupt footer, permissions)
    raises: treating it as an empty corpus would silently drop every
    new-vs-base pair for this batch, and the checkpoint would commit the
    loss permanently."""
    path = f"{store_dir}/signatures"
    if not _path_exists(spark, path):
        return None
    df = spark.read.parquet(path)
    if before_batch is not None:
        df = df.filter(F.col("_batch_id") < before_batch)
    return df.select("id", "sig")


def minhash_ingest_writer(
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    hash_fn: str = "xxhash64",
    k: int = 3,
    broadcast_new: bool = True,
):
    """``foreachBatch`` function implementing one ingest step; see the
    module docstring for the layout and the exactly-once argument.

    Document identity is FIRST-WRITE-WINS: a ``id_col`` value that was
    already ingested in an earlier batch is dropped from the new side
    (its signature is not rewritten and no new pairs are emitted for
    it) — the incremental join's base/new-disjointness precondition
    would otherwise be violated and every later batch would fan its
    pairs out across duplicate signature rows. Re-ingesting an UPDATED
    document therefore requires a fresh store (or an upstream
    tombstone pass); same-batch replays are unaffected."""
    from hobbes_spark.functions.dedup import (
        minhash_incremental_pairs,
        minhash_signatures_df,
    )

    def step(batch_df: DataFrame, batch_id: int) -> dict:
        spark = batch_df.sparkSession
        new_sigs = minhash_signatures_df(
            batch_df, id_col, text_col, num_hashes, hash_fn, k
        )
        base = read_signature_store(spark, store_dir, before_batch=batch_id)
        if base is None:
            base = spark.createDataFrame(
                [], _sig_schema(batch_df.schema[id_col].dataType, hash_fn)
            )
        # first-write-wins (docstring): ids already in the base never
        # re-enter the new side
        new_sigs = new_sigs.join(
            base.select("id"), "id", "left_anti"
        ).localCheckpoint()  # three consumers: banding, estimate, store write
        pairs = minhash_incremental_pairs(
            batch_df,
            base,
            id_col,
            text_col,
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            hash_fn=hash_fn,
            k=k,
            broadcast_new=broadcast_new,
            new_sigs=new_sigs,
        )
        return {"pairs": pairs, "signatures": new_sigs}

    return store_writer(
        store_dir,
        {"num_hashes": num_hashes, "hash_fn": hash_fn, "k": k, "bands": bands},
        "signatures",
        step,
    )


def hll_ingest_writer(
    store_dir: str,
    keys: "list[str]",
    col: str,
    lgk: int = 12,
):
    """``foreachBatch`` step maintaining a mergeable HLL sketch table:
    each microbatch appends one sketch row per group under its
    ``_batch_id`` partition (dynamic overwrite ⇒ replay-idempotent —
    and unlike the MinHash ingest, no read-back is needed at all:
    sketches merge at ROLLUP time, so the write path is stateless).
    Distinct-count rollups over any batch range then read the store
    and merge (functions.sketches.hll_rollup_estimate); merging daily
    parts is byte-identical to sketching the union, so streaming
    ingestion loses nothing versus a batch rebuild.

    ``lgk`` (and the key/column layout) is pinned in ``<store>/_meta``
    on first write, like the MinHash/CMS stores: a restart with a
    different ``lgk`` would append sketches ``hll_union_agg`` refuses
    to merge, silently mixing incompatible state until the first
    rollup spanning the change blows up."""
    from hobbes_spark.functions.sketches import hll_group_sketches

    return store_writer(
        store_dir,
        {"kind": "hll", "keys": ",".join(keys), "col": col, "lgk": lgk},
        "sketches",
        lambda batch_df, _: {
            "sketches": hll_group_sketches(batch_df, keys, col, lgk)
        },
    )


def cms_ingest_writer(
    store_dir: str,
    col: str,
    depth: int = 4,
    width: int = 4096,
    hash_fn: str = "xxhash64",
):
    """``foreachBatch`` step maintaining a mergeable count-min sketch
    store: each microbatch writes its own (d, pos, cnt) cell table under
    its ``_batch_id`` partition (dynamic overwrite ⇒ replay-idempotent;
    stateless write path, same recipe as the HLL ingest). Frequency /
    heavy-hitter rollups over any batch range read the store and
    cell-sum (functions.sketches.cms_merge semantics) — summing per-batch
    cells is exactly the sketch of the union, so streaming ingestion
    loses nothing versus a batch rebuild. Parameters are pinned via the
    store _meta (mixed depth/width cells would silently mis-bucket)."""
    from hobbes_spark.functions.sketches import cms_build

    return store_writer(
        store_dir,
        {"kind": "cms", "depth": depth, "width": width, "hash_fn": hash_fn},
        "cells",
        lambda batch_df, _: {
            "cells": cms_build(batch_df, col, depth, width, hash_fn)
        },
    )


def cms_store_sketch(spark: SparkSession, store_dir: str) -> DataFrame:
    """The merged (d, pos, cnt) sketch over every ingested batch —
    feed it to functions.sketches.cms_estimate / downstream rollups."""
    return (
        spark.read.parquet(f"{store_dir}/cells")
        .groupBy("d", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )
