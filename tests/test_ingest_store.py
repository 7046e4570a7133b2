"""The exactly-once store guard shared by the three ``foreachBatch``
ingest stores (MinHash signatures, HLL sketches, count-min cells):
parameters pinned in ``<store>/_meta``, no rewind, and a missing path —
only a missing path — read as an empty store."""

from __future__ import annotations

import os
import shutil

import pytest

from hobbes_spark.streaming.ingest import (
    cms_ingest_writer,
    cms_store_sketch,
    hll_ingest_writer,
    minhash_ingest_writer,
    read_signature_store,
)
from hobbes_spark.streaming.sinks import _assert_batch_monotonic


# Batch ``b`` of each store carries new keys; the rewind tests below
# also feed batches that write no rows.
def _docs(spark, b):
    return spark.createDataFrame(
        [(i, f"doc number {i} with shared words here today")
         for i in range(3 * b, 3 * b + 3)],
        "doc_id bigint, text string",
    )


def _events(spark, b):
    return spark.createDataFrame(
        [("click", 10 * b + i % 4) for i in range(12)] + [("buy", b)],
        "event_type string, user_id bigint",
    )


def _terms(spark, b):
    return spark.createDataFrame(
        [(f"{t}{b}",) for t in "a b a c a b d".split()], "t string"
    )


# store kind -> (writer with the default parameters, writer with one
# parameter changed, batch ``b`` of the input, the _meta rows as written
# before the store guard moved into streaming/sinks.py — byte for byte)
STORES = {
    "minhash": (
        lambda store: minhash_ingest_writer(store),
        lambda store: minhash_ingest_writer(store, num_hashes=32),
        _docs,
        '{"key":"bands","value":"8"}\n{"key":"hash_fn","value":"xxhash64"}\n'
        '{"key":"k","value":"3"}\n{"key":"num_hashes","value":"16"}\n',
    ),
    "hll": (
        lambda store: hll_ingest_writer(store, ["event_type"], "user_id"),
        lambda store: hll_ingest_writer(store, ["event_type"], "user_id", lgk=14),
        _events,
        '{"key":"col","value":"user_id"}\n{"key":"keys","value":"event_type"}\n'
        '{"key":"kind","value":"hll"}\n{"key":"lgk","value":"12"}\n',
    ),
    "cms": (
        lambda store: cms_ingest_writer(store, "t"),
        lambda store: cms_ingest_writer(store, "t", width=1024),
        _terms,
        '{"key":"depth","value":"4"}\n{"key":"hash_fn","value":"xxhash64"}\n'
        '{"key":"kind","value":"cms"}\n{"key":"width","value":"4096"}\n',
    ),
}


def _meta_rows(store):
    meta = os.path.join(store, "_meta")
    out = []
    for f in sorted(os.listdir(meta)):
        if f.endswith(".json"):
            with open(os.path.join(meta, f)) as fh:
                out.append(fh.read())
    return "".join(out)


@pytest.mark.parametrize("kind", sorted(STORES))
def test_store_refuses_fresh_checkpoint_rewind(spark, tmp_path, kind):
    """A NEW query run (epoch counter restarted at 0) against an OLD
    store raises instead of clobbering its partitions; the same run
    replaying its last batch is an idempotent rewrite."""
    make, _, batch, _ = STORES[kind]
    store = str(tmp_path / "store")
    w = make(store)
    w(batch(spark, 0), 0)
    w(batch(spark, 1), 1)
    w(batch(spark, 1), 1)
    with pytest.raises(ValueError, match="NEW checkpoint"):
        make(store)(batch(spark, 0), 0)


@pytest.mark.parametrize("batch1", ["same_as_batch_0", "empty"])
@pytest.mark.parametrize("kind", sorted(STORES))
def test_store_refuses_rewind_past_a_batch_without_rows(
    spark, tmp_path, kind, batch1
):
    """A batch that writes no partition still counts: a MinHash batch
    whose docs are all stored already (first write wins) or an empty
    microbatch in any store. A new query at batch 0 must be refused,
    not overwrite batch 0's partitions."""
    make, _, batch, _ = STORES[kind]
    store = str(tmp_path / "store")
    w = make(store)
    first = batch(spark, 0)
    w(first, 0)
    w(first if batch1 == "same_as_batch_0" else first.limit(0), 1)
    with pytest.raises(ValueError, match="NEW checkpoint"):
        make(store)(batch(spark, 0), 0)


@pytest.mark.parametrize("kind", sorted(STORES))
def test_store_without_batch_record_is_guarded_by_its_guard_table(
    spark, tmp_path, spark_jobs, kind
):
    """A store written before ``_batches`` existed keeps its guard: the
    guard table's ``_batch_id`` partitions set the mark, read by
    listing directories, without a Spark job."""
    make, _, batch, _ = STORES[kind]
    store = tmp_path / "store"
    w = make(str(store))
    w(batch(spark, 0), 0)
    w(batch(spark, 1), 1)
    shutil.rmtree(store / "_batches")
    guard = {"minhash": "signatures", "hll": "sketches", "cms": "cells"}[kind]
    _, jobs, _ = spark_jobs(
        lambda: _assert_batch_monotonic(spark, str(store), guard, 1)
    )
    assert jobs == 0
    with pytest.raises(ValueError, match="NEW checkpoint"):
        make(str(store))(batch(spark, 0), 0)


@pytest.mark.parametrize("kind", sorted(STORES))
def test_store_refuses_parameter_drift(spark, tmp_path, kind):
    make, drift, batch, meta = STORES[kind]
    store = str(tmp_path / "store")
    make(store)(batch(spark, 0), 0)
    assert _meta_rows(store) == meta
    make(store)(batch(spark, 1), 1)  # same parameters: the next batch is fine
    with pytest.raises(ValueError, match="different parameters"):
        drift(store)(batch(spark, 2), 2)


@pytest.mark.parametrize("kind", sorted(STORES))
def test_store_meta_written_before_the_shared_guard_is_accepted(
    spark, tmp_path, kind
):
    """A store created by the earlier per-writer guard keeps working:
    its ``_meta`` JSON rows, written as-is, are accepted unchanged and
    still refuse drifted parameters."""
    make, drift, batch, meta = STORES[kind]
    store = tmp_path / "store"
    (store / "_meta").mkdir(parents=True)
    (store / "_meta" / "part-00000-c000.json").write_text(meta)
    (store / "_meta" / "_SUCCESS").write_text("")
    make(str(store))(batch(spark, 0), 0)
    assert _meta_rows(str(store)) == meta
    assert sorted(os.listdir(store / "_meta")) == ["_SUCCESS", "part-00000-c000.json"]
    with pytest.raises(ValueError, match="different parameters"):
        drift(str(store))(batch(spark, 1), 1)


def test_corrupt_signature_store_raises(spark, tmp_path):
    """Only a MISSING signatures directory is an empty base. A corrupt
    file must fail the read: an empty base would silently drop every
    new-vs-base pair of the batch, and the checkpoint would commit that
    loss."""
    store = str(tmp_path / "store")
    assert read_signature_store(spark, store) is None
    part = tmp_path / "store" / "signatures" / "_batch_id=0"
    part.mkdir(parents=True)
    (part / "part-00000.parquet").write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        read_signature_store(spark, store)
    with pytest.raises(Exception, match="(?i)parquet"):
        minhash_ingest_writer(store, hash_fn="md5")(_docs(spark, 1), 1)
    assert not os.path.exists(tmp_path / "store" / "pairs")


def test_store_reopen_launches_no_job(spark, tmp_path, spark_jobs):
    """Re-opening an unchanged signature or count-min store reuses the
    schema of the first read: no Spark job, the same schema and rows."""
    sigs, cells = str(tmp_path / "sigs"), str(tmp_path / "cells")
    minhash_ingest_writer(sigs)(_docs(spark, 0), 0)
    cms_ingest_writer(cells, "t")(_terms(spark, 0), 0)

    def reopen():
        return read_signature_store(spark, sigs), cms_store_sketch(spark, cells)

    opened = reopen()
    reopened, jobs, _ = spark_jobs(reopen)
    assert jobs == 0
    for first, again in zip(opened, reopened):
        assert again.schema == first.schema
        assert sorted(again.collect()) == sorted(first.collect())
