"""Structured Streaming tests: replay the events table as a stream and
require exact agreement with the equivalent batch plan; exercise
watermark late-data eviction and the custom stateful operator across
real microbatch boundaries.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from hobbes_spark.pipeline import Pipeline
from hobbes_spark.streaming import (
    running_user_totals,
    session_agg,
    sliding_agg,
    stream_events,
    tumbling_agg,
)


def _run_to_memory(stream_df, mode: str, checkpoint: str):
    name = "m" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return name


def _rows(spark, name):
    return spark.sql(f"SELECT * FROM {name}").collect()


def _norm(rows, cols):
    out = set()
    for r in rows:
        out.add(tuple(round(v, 6) if isinstance(v, float) else v for v in (r[c] for c in cols)))
    return out


@pytest.mark.parametrize(
    "fn,kwargs",
    [
        (tumbling_agg, dict(duration="6 hours")),
        (sliding_agg, dict(duration="6 hours", slide="2 hours")),
        (session_agg, dict(gap="1 hour", keys=("user_id",))),
    ],
)
def test_stream_matches_batch(spark, sf_dir, fn, kwargs, tmp_path):
    """Replaying the events file as a stream must produce exactly the
    batch result (same declarative plan, incremental execution)."""
    path = f"{sf_dir}/events.parquet"
    stream = stream_events(spark, path)
    assert stream.isStreaming
    agg_stream = fn(stream, watermark=None, **kwargs)
    name = _run_to_memory(agg_stream, "complete", str(tmp_path / "ckpt"))

    batch = Pipeline.table(spark, sf_dir, "events").df
    agg_batch = fn(batch, watermark=None, **kwargs)

    cols = agg_batch.columns
    got = _norm(_rows(spark, name), cols)
    want = _norm(agg_batch.collect(), cols)
    assert got == want and len(got) > 0


def _write_events(spark, dirpath, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.coalesce(1).write.mode("append").parquet(dirpath)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append mode + 10 min watermark over restarts of the same
    checkpoint: a row arriving an hour late (behind the watermark) never
    reaches its (already closed) window."""
    data = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def run():
        # parquet sink: the only file sink with checkpointed exactly-once
        # restart (memory sink cannot recover a checkpoint)
        stream = stream_events(spark, data)
        agg = tumbling_agg(stream, duration="10 minutes", keys=("event_type",),
                           watermark="10 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # batch 1: events 10:00-11:00 -> watermark advances to 10:50
    _write_events(
        spark, data,
        [(i, t0 + dt.timedelta(minutes=5 * i), 1, "click", 1.0) for i in range(13)],
    )
    run()
    # batch 2: one event a full hour LATE (9:00) + one fresh (12:00)
    _write_events(
        spark, data,
        [(100, t0 - dt.timedelta(hours=1), 1, "click", 99.0),
         (101, t0 + dt.timedelta(hours=2), 1, "click", 1.0)],
    )
    run()
    # batch 3: advance the watermark far enough to flush everything live
    _write_events(
        spark, data,
        [(102, t0 + dt.timedelta(hours=5), 1, "click", 1.0)],
    )
    run()

    rows = spark.read.parquet(out).collect()
    starts = {r["win_start"] for r in rows}
    # the late event's window (09:00-09:10) must never have been emitted
    assert t0 - dt.timedelta(hours=1) not in starts
    # the fresh 12:00 event's window was
    assert t0 + dt.timedelta(hours=2) in starts
    # and no window double-counts: every 5-min-spaced batch-1 window has n=2
    for r in rows:
        if t0 <= r["win_start"] < t0 + dt.timedelta(hours=1):
            assert r["n_events"] == 2, r


def test_running_user_totals_stateful(spark, tmp_path):
    """applyInPandasWithState keeps per-user state across microbatches:
    three files replayed one per trigger must end at the batch totals."""
    data = str(tmp_path / "in")
    t0 = dt.datetime(2026, 1, 1)
    all_rows = []
    for b in range(3):
        rows = [
            (b * 100 + i, t0 + dt.timedelta(hours=b, minutes=i), i % 4, "e", float(b + i))
            for i in range(20)
        ]
        all_rows += rows
        _write_events(spark, data, rows)

    stream = stream_events(spark, data, max_files_per_trigger=1)
    name = _run_to_memory(running_user_totals(stream), "update", str(tmp_path / "ckpt"))

    updates = _rows(spark, name)
    # one update row per (user, microbatch it appeared in)
    assert len(updates) > 4
    # running totals are monotone; the max per user is the final state
    final = {}
    for r in updates:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r

    batch = spark.createDataFrame(
        all_rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("total"), F.max("ts").alias("last")
    )
    for r in batch.collect():
        f = final[r["user_id"]]
        assert f["n_events"] == r["n"]
        assert abs(f["total_value"] - r["total"]) < 1e-9
        assert f["last_ts"] == r["last"]


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """Exact dedup with bounded state: duplicates arriving in LATER
    microbatches (within the watermark) are dropped; distinct keys
    survive."""
    from hobbes_spark.streaming import stream_events, stream_exact_dedup

    data = str(tmp_path / "in")
    t0 = dt.datetime(2026, 1, 1, 12, 0)
    # batch files replayed one per trigger; event_id 7 appears in all 3
    for b in range(3):
        rows = [(7, t0 + dt.timedelta(minutes=b), 1, "dup", 1.0)] + [
            (100 * b + i, t0 + dt.timedelta(minutes=b, seconds=i), 2, "uniq", 1.0)
            for i in range(1, 4)
        ]
        _write_events(spark, data, rows)

    stream = stream_events(spark, data, max_files_per_trigger=1)
    out = stream_exact_dedup(stream, ["event_id"], watermark="1 hour")
    name = _run_to_memory(out, "append", str(tmp_path / "ckpt"))
    rows = _rows(spark, name)
    ids = sorted(r["event_id"] for r in rows)
    assert ids.count(7) == 1  # two later-batch duplicates dropped
    assert len(ids) == 1 + 9  # 7 once + 3x3 unique rows


def test_stream_dedup_watermark_eviction_both_sides(spark, tmp_path):
    """Round-8 gate: ``dropDuplicatesWithinWatermark`` EVICTION pinned
    from both sides with late, out-of-order, duplicated file delivery
    (watermark 10 min, one file per trigger; batch N runs under the
    watermark computed from batch N-1's max event time, shown in
    parentheses):

      b0 (wm -inf):  keys 7, 8, 10 first arrive at 12:00; unique 1.
      b1 (wm 11:51): re-deliveries 8@12:05, 7@12:08 are IN-horizon ->
                     dropped (exactly-once over at-least-once
                     delivery); unique 2@12:40 pushes the next
                     watermark to 12:30, past every key's expiry
                     (first-seen + 10 min).
      b2 (wm 12:30): EVICTION-VISIBILITY LAG — state removal applies
                     this batch's watermark at batch END, so the
                     re-delivery 10@12:35 still finds 10's state
                     (expiry 12:10 < wm) and is DROPPED; 9@12:05 is a
                     late NEW key and is EMITTED: the operator does
                     not watermark-filter its input (it must see late
                     duplicates to drop them) — dedup state, not an
                     aggregation window. Unique 3@12:45.
      b3 (wm 12:35): 7@12:50 and 8@12:48 are beyond-horizon
                     re-deliveries of keys evicted at the end of b2 ->
                     RE-EMITTED as new (the bounded-state contract:
                     state is O(rate x horizon), so a duplicate
                     outside the horizon is indistinguishable from a
                     new row). Unique 4@12:55.

    (a) keys with no beyond-horizon re-delivery (1, 2, 3, 4, 9, 10)
    match the batch ``dropDuplicates`` oracle exactly; (b) the evicted
    keys 7 and 8 re-emit with both event times — the one documented
    divergence from batch."""
    from hobbes_spark.streaming import stream_events, stream_exact_dedup

    data = str(tmp_path / "in")
    t0 = dt.datetime(2026, 1, 1, 12, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)
    batches = [
        [(7, t0, 1, "a", 1.0), (8, t0, 1, "a", 1.0), (10, t0, 1, "a", 1.0),
         (1, m(1), 1, "u", 1.0)],
        [(8, m(5), 1, "a", 1.0), (7, m(8), 1, "a", 1.0), (2, m(40), 1, "u", 1.0)],
        [(10, m(35), 1, "a", 1.0), (9, m(5), 1, "late-new", 1.0),
         (3, m(45), 1, "u", 1.0)],
        [(7, m(50), 1, "a", 1.0), (8, m(48), 1, "a", 1.0), (4, m(55), 1, "u", 1.0)],
    ]
    for rows in batches:
        _write_events(spark, data, rows)

    stream = stream_events(spark, data, max_files_per_trigger=1)
    out = stream_exact_dedup(stream, ["event_id"], watermark="10 minutes")
    name = _run_to_memory(out, "append", str(tmp_path / "ckpt"))
    got = sorted((r["event_id"], r["ts"]) for r in _rows(spark, name))

    assert got == [
        (1, m(1)), (2, m(40)), (3, m(45)), (4, m(55)),
        (7, t0), (7, m(50)),          # (b) evicted -> re-emitted
        (8, t0), (8, m(48)),          # (b) evicted -> re-emitted
        (9, m(5)),                    # late NEW key: no input filter
        (10, t0),                     # eviction lag: 12:35 dup dropped
    ]
    # (a) in-horizon keys equal the batch first-arrival oracle (batch
    # dropDuplicates keeps an ARBITRARY row per key; min(ts) is the
    # deterministic spelling of "first occurrence")
    batch = spark.createDataFrame(
        [r for rows in batches for r in rows],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).groupBy("event_id").agg(F.min("ts").alias("ts"))
    batch_first = {r["event_id"]: r["ts"] for r in batch.collect()}
    in_horizon = {1, 2, 3, 4, 9, 10}
    assert {(i, ts) for i, ts in got if i in in_horizon} == {
        (i, batch_first[i]) for i in in_horizon
    }


def test_stream_fingerprint_dedup_normalizes(spark, tmp_path):
    """Content dedup: same text modulo case/whitespace collapses to one
    row across microbatches."""
    from pyspark.sql import functions as F

    from hobbes_spark.streaming import stream_fingerprint_dedup

    data = str(tmp_path / "in")
    t0 = dt.datetime(2026, 1, 1)
    docs = [
        (1, t0, "Hello  World"),
        (2, t0 + dt.timedelta(minutes=1), "hello world"),   # dup modulo norm
        (3, t0 + dt.timedelta(minutes=2), "something else"),
    ]
    spark.createDataFrame(docs, "doc_id long, ts timestamp, text string") \
        .coalesce(1).write.mode("append").parquet(data)
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(data)
    )
    out = stream_fingerprint_dedup(stream, "text", watermark="1 hour")
    name = _run_to_memory(out, "append", str(tmp_path / "ckpt"))
    rows = _rows(spark, name)
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} <= {1, 2, 3} and 3 in {r["doc_id"] for r in rows}
    assert "__fp" not in spark.sql(f"select * from {name}").columns


def test_stream_fingerprint_dedup_null_passthrough(spark, tmp_path):
    """Distinct NULL-text rows all survive (they are not duplicates)."""
    from hobbes_spark.streaming import stream_fingerprint_dedup

    data = str(tmp_path / "in")
    t0 = dt.datetime(2026, 1, 1)
    docs = [(1, t0, None), (2, t0 + dt.timedelta(minutes=1), None),
            (3, t0 + dt.timedelta(minutes=2), "x"), (4, t0 + dt.timedelta(minutes=3), "x")]
    spark.createDataFrame(docs, "doc_id long, ts timestamp, text string") \
        .coalesce(1).write.mode("append").parquet(data)
    stream = spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(data)
    out = stream_fingerprint_dedup(stream, "text", watermark="1 hour")
    name = _run_to_memory(out, "append", str(tmp_path / "ckpt"))
    ids = sorted(r["doc_id"] for r in _rows(spark, name))
    assert ids == [1, 2, 3]


def test_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (click->purchase attribution shape):
    replaying both sides as streams must equal the batch join."""
    from hobbes_spark.streaming import interval_join, stream_events

    path = f"{sf_dir}/events.parquet"
    batch = Pipeline.table(spark, sf_dir, "events").df
    clicks_b = batch.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
    buys_b = batch.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", F.col("event_id").alias("buy_id"))
    want = interval_join(clicks_b, buys_b, "user_id", within="2 hours", watermark=None)
    want_set = {(r["click_id"], r["buy_id"]) for r in want.collect()}

    s = stream_events(spark, path)
    clicks_s = s.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
    buys_s = s.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", F.col("event_id").alias("buy_id"))
    joined = interval_join(clicks_s, buys_s, "user_id", within="2 hours",
                           watermark="1 hour")
    name = _run_to_memory(joined, "append", str(tmp_path / "ckpt"))
    got_set = {(r["click_id"], r["buy_id"]) for r in _rows(spark, name)}
    assert len(want_set) > 0
    assert got_set == want_set


def test_interval_join_prefixes_clashing_right_columns(spark):
    import datetime as dt

    from hobbes_spark.streaming import interval_join

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, t0, 10.0, "click"), (1, t0 + dt.timedelta(minutes=5), 20.0, "buy")],
        "user_id long, ts timestamp, value double, event_type string",
    )
    j = interval_join(df, df, "user_id", within="1 hour", watermark=None)
    assert j.columns.count("value") == 1 and "r_value" in j.columns
    row = j.filter(F.col("event_type") == "click").filter(
        F.col("r_event_type") == "buy"
    ).first()
    assert row["value"] == 10.0 and row["r_value"] == 20.0


def test_idempotent_sink_replay_does_not_duplicate(spark, sf_dir, tmp_path):
    """foreachBatch exactly-once: replaying a batch id must REPLACE its
    partition, not append — the crash-between-write-and-commit case."""
    from hobbes_spark.streaming.sinks import idempotent_parquet_writer
    from hobbes_spark.streaming.source import stream_events

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    s = stream_events(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    q = (
        s.writeStream.foreachBatch(idempotent_parquet_writer(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    first = spark.read.parquet(out)
    n = first.count()
    batch_ids = [r["_batch_id"] for r in first.select("_batch_id").distinct().collect()]
    assert n > 0 and len(batch_ids) >= 1

    # simulate an at-least-once redelivery: rerun batch 0's write with
    # the same batch id and a SUBSET of rows (as if the retry saw the
    # same offsets) — count for that batch must equal the retry's rows,
    # total must not grow by the retry
    batch0 = spark.read.parquet(out).filter(F.col("_batch_id") == batch_ids[0])
    n_batch0 = batch0.count()
    # materialize the retry rows BEFORE the overwrite deletes the files
    # they would lazily re-read
    replay_pd = batch0.drop("_batch_id").limit(10).toPandas()
    replay_rows = spark.createDataFrame(replay_pd)
    idempotent_parquet_writer(out)(replay_rows, batch_ids[0])
    after = spark.read.parquet(out)
    assert after.filter(F.col("_batch_id") == batch_ids[0]).count() == 10
    assert after.count() == n - n_batch0 + 10
    # and a NEW batch id appends without touching the others
    idempotent_parquet_writer(out)(replay_rows, max(batch_ids) + 1)
    assert spark.read.parquet(out).count() == n - n_batch0 + 20


def test_write_partitioned_layout_and_pruning(spark, sf_dir, tmp_path):
    """Directory partitioning must show up on disk and as partition
    filters (pruned scan), with file sizes capped."""
    from hobbes_spark.sources.sinks import write_partitioned

    out = str(tmp_path / "part")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    write_partitioned(docs, out, ["lang"], max_records_per_file=100)
    langs = [
        d for d in os.listdir(out) if d.startswith("lang=")
    ]
    assert len(langs) >= 2  # real directory layout
    rd = spark.read.parquet(out).filter(F.col("lang") == langs[0].split("=", 1)[1])
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan.split("PartitionFilters")[1].splitlines()[0]
    # capped files: every parquet part has <= 100 records
    import pyarrow.parquet as pq

    for root, _dirs, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                assert pq.ParquetFile(os.path.join(root, f)).metadata.num_rows <= 100


def test_minhash_ingest_matches_batch_pairs(spark, sf_dir, tmp_path):
    """Streaming the corpus in file-sized microbatches through the
    incremental MinHash ingest must produce, across all batch
    partitions, exactly the batch minhash_pairs of the full corpus —
    and a replayed batch (same batch_id) must not duplicate anything."""
    from hobbes_spark.functions.dedup import minhash_pairs
    from hobbes_spark.streaming.ingest import minhash_ingest_writer
    from hobbes_spark.pipeline import Pipeline

    docs = Pipeline.table(spark, sf_dir, "documents").df.select("doc_id", "text")
    # two single-file shards -> two microbatches (maxFilesPerTrigger=1).
    # The file stream source lists plain files, so the shards are laid
    # flat (a write.parquet(path) makes a directory, which it ignores).
    import glob

    src = str(tmp_path / "in")
    os.makedirs(src)
    for i, half in enumerate((docs.filter(F.col("doc_id") % 2 == 0),
                              docs.filter(F.col("doc_id") % 2 == 1))):
        d = str(tmp_path / f"shard{i}")
        half.coalesce(1).write.parquet(d)
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0], f"{src}/shard{i}.parquet")
    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(minhash_ingest_writer(store))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    got = spark.read.parquet(f"{store}/pairs")
    assert got.select("_batch_id").distinct().count() == 2
    got_pairs = sorted(
        (r.id_a, r.id_b, round(r.est_jaccard, 9)) for r in got.collect()
    )
    exp = sorted(
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in minhash_pairs(docs, "doc_id", "text").collect()
    )
    assert got_pairs == exp and len(exp) > 0

    # replay batch 1 (writer invoked again with the same id): partitions
    # are overwritten, not appended — pair set unchanged
    writer = minhash_ingest_writer(store)
    writer(docs.filter(F.col("doc_id") % 2 == 1), 1)
    again = sorted(
        (r.id_a, r.id_b, round(r.est_jaccard, 9))
        for r in spark.read.parquet(f"{store}/pairs").collect()
    )
    assert again == exp


def test_hll_ingest_rollup_equals_direct_sketch(spark, sf_dir, tmp_path):
    """Streaming events into per-batch HLL sketches, then merging the
    store, must give the SAME estimate as sketching the whole table
    directly (merge-of-parts == sketch-of-whole), and replaying a batch
    must not change it."""
    from hobbes_spark.functions.sketches import (
        hll_group_sketches,
        hll_rollup_estimate,
    )
    from hobbes_spark.pipeline import Pipeline
    from hobbes_spark.streaming.ingest import hll_ingest_writer

    ev = Pipeline.table(spark, sf_dir, "events").df
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    store = str(tmp_path / "store")
    q = (
        stream.writeStream.foreachBatch(
            hll_ingest_writer(store, ["event_type"], "user_id")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    merged = {
        r.event_type: r.approx_distinct
        for r in hll_rollup_estimate(
            spark.read.parquet(f"{store}/sketches"), ["event_type"]
        ).collect()
    }
    direct = {
        r.event_type: r.approx_distinct
        for r in hll_rollup_estimate(
            hll_group_sketches(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert merged == direct

    # replay batch 0: same partition overwritten, rollup unchanged
    hll_ingest_writer(store, ["event_type"], "user_id")(ev, 0)
    again = {
        r.event_type: r.approx_distinct
        for r in hll_rollup_estimate(
            spark.read.parquet(f"{store}/sketches"), ["event_type"]
        ).collect()
    }
    assert again == direct


def test_watermark_operators_accept_driver_event_times(spark, sf_dir, tmp_path):
    """The driver tables carry timezone-less micros timestamps
    (TIMESTAMP_NTZ under Spark 4 parquet inference); every
    watermark-using operator must work on a stream of them — the source
    normalizes event time to an instant once, for all of them (round-2
    review finding: only interval_join had been patched)."""
    from hobbes_spark.streaming import stream_exact_dedup

    path = f"{sf_dir}/events.parquet"
    # watermarked tumbling aggregation, append mode (requires watermark)
    agg = tumbling_agg(
        stream_events(spark, path), duration="6 hours", keys=("event_type",),
        watermark="1 hour",
    )
    name = _run_to_memory(agg, "append", str(tmp_path / "ck1"))
    assert len(_rows(spark, name)) > 0
    # watermarked streaming dedup
    ded = stream_exact_dedup(stream_events(spark, path), ["event_id"], "1 hour")
    name2 = _run_to_memory(ded, "append", str(tmp_path / "ck2"))
    assert len(_rows(spark, name2)) > 0


def test_minhash_ingest_rejects_parameter_drift(spark, sf_dir, tmp_path):
    """Restarting the ingest with different MinHash parameters must
    refuse: mixed signature widths/hash families in one store would turn
    every later banding pass into garbage pairs with no error."""
    from hobbes_spark.pipeline import Pipeline
    from hobbes_spark.streaming.ingest import minhash_ingest_writer

    docs = Pipeline.table(spark, sf_dir, "documents").df.select("doc_id", "text")
    store = str(tmp_path / "store")
    minhash_ingest_writer(store, num_hashes=16, bands=8)(docs.limit(5), 0)
    # same params: fine (replay / next batch)
    minhash_ingest_writer(store, num_hashes=16, bands=8)(docs.limit(5), 1)
    with pytest.raises(ValueError, match="different parameters"):
        minhash_ingest_writer(store, num_hashes=32, bands=8)(docs.limit(5), 2)
    with pytest.raises(ValueError, match="different parameters"):
        minhash_ingest_writer(store, hash_fn="md5")(docs.limit(5), 2)


def test_cms_ingest_rollup_equals_direct_sketch(spark, sf_dir, tmp_path):
    """Streaming term batches into per-batch CMS cell tables, then
    cell-summing the store, must equal the sketch of the whole corpus —
    and a replayed batch must not change it."""
    from hobbes_spark.functions.sketches import cms_build
    from hobbes_spark.functions.text import tokens
    from hobbes_spark.pipeline import Pipeline
    from hobbes_spark.streaming.ingest import (
        cms_ingest_writer,
        cms_store_sketch,
    )
    import glob

    docs = Pipeline.table(spark, sf_dir, "documents").df.select("doc_id", "text")
    src = str(tmp_path / "in")
    os.makedirs(src)
    for i, half in enumerate((docs.filter(F.col("doc_id") % 2 == 0),
                              docs.filter(F.col("doc_id") % 2 == 1))):
        d = str(tmp_path / f"shard{i}")
        half.coalesce(1).write.parquet(d)
        shutil.copy(glob.glob(f"{d}/part-*.parquet")[0], f"{src}/shard{i}.parquet")
    store = str(tmp_path / "store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def terms_writer(batch_df, batch_id):
        terms = batch_df.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
        cms_ingest_writer(store, "t", width=512)(terms, batch_id)

    q = (
        stream.writeStream.foreachBatch(terms_writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    all_terms = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
    merged = {(r.d, r.pos): r.cnt for r in cms_store_sketch(spark, store).collect()}
    direct = {(r.d, r.pos): r.cnt for r in cms_build(all_terms, "t", width=512).collect()}
    assert merged == direct and len(direct) > 0

    # replay batch 1: dynamic overwrite keeps the store unchanged
    half1 = docs.filter(F.col("doc_id") % 2 == 1).select(
        F.explode(tokens(F.lower(F.col("text")))).alias("t")
    )
    cms_ingest_writer(store, "t", width=512)(half1, 1)
    again = {(r.d, r.pos): r.cnt for r in cms_store_sketch(spark, store).collect()}
    assert again == direct

    # parameter drift refused
    with pytest.raises(ValueError, match="different parameters"):
        cms_ingest_writer(store, "t", width=1024)(half1, 2)


def test_quality_gated_writer_publishes_and_quarantines(spark, tmp_path):
    """Stream a clean batch and a dirty batch through the quality gate:
    the clean one publishes, the dirty one parks in quarantine, and a
    replayed batch id overwrites instead of duplicating."""
    from pyspark.sql import functions as F

    from hobbes_spark.functions import validate as V
    from hobbes_spark.streaming.sinks import quality_gated_writer

    out = str(tmp_path / "out")
    rep = str(tmp_path / "report")
    checks = [V.not_null("id"), V.in_range("v", 0.0, 100.0)]
    writer = quality_gated_writer(out, checks, rep)

    clean = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    dirty = spark.createDataFrame([(3, 999.0)], "id long, v double")
    writer(clean, 0)
    writer(dirty, 1)
    writer(clean, 0)  # replay: must overwrite batch 0, not duplicate

    published = spark.read.parquet(out)
    assert published.count() == 2  # clean rows only, replay deduped
    assert set(published.select("_batch_id").distinct().toPandas()["_batch_id"]) == {0}
    quarantined = spark.read.parquet(out + "_quarantine")
    assert quarantined.count() == 1
    report = spark.read.parquet(rep)
    failed = report.filter(~F.col("passed")).collect()
    assert len(failed) == 1 and failed[0]["_batch_id"] == 1
    assert failed[0]["check"].startswith("in_range")

    # fail_action='fail' raises and does NOT publish
    strict = quality_gated_writer(str(tmp_path / "o2"), checks,
                                  str(tmp_path / "r2"), fail_action="fail")
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="quality gate failed"):
        strict(dirty, 7)
    import os
    assert not os.path.exists(str(tmp_path / "o2"))


def test_interval_join_outer_keeps_right_only_keys(spark):
    """full_outer: an unmatched right row's key lives only in the right
    side's key column — the output must coalesce it into the single key
    column instead of returning the row keyless."""
    import datetime as dt
    from hobbes_spark.streaming import interval_join

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    clicks = spark.createDataFrame(
        [(1, t(0), 100)], "user_id long, ts timestamp, click_id long"
    )
    buys = spark.createDataFrame(
        [(1, t(1), 200), (7, t(1), 201)],  # user 7 has no click
        "user_id long, ts timestamp, buy_id long",
    )
    out = interval_join(clicks, buys, "user_id", within="2 hours",
                        watermark=None, how="full_outer")
    rows = {(r["user_id"], r["click_id"], r["buy_id"]) for r in out.collect()}
    assert (1, 100, 200) in rows
    assert (7, None, 201) in rows  # key preserved, not NULL


def test_hll_ingest_pins_lgk_refuses_mix(spark, sf_dir, tmp_path):
    """A restart with a different lgk must refuse up front (same _meta
    pinning as the MinHash/CMS stores): hll_union_agg cannot merge
    different lgConfigK sketches, so appending them would corrupt the
    store silently until the first rollup spanning the change."""
    import pytest as _pt
    from hobbes_spark.streaming.ingest import hll_ingest_writer

    ev = Pipeline.table(spark, sf_dir, "events").df.limit(50)
    store = str(tmp_path / "hll_store")
    hll_ingest_writer(store, ["event_type"], "user_id", lgk=12)(ev, 0)
    with _pt.raises(ValueError, match="different"):
        hll_ingest_writer(store, ["event_type"], "user_id", lgk=14)(ev, 1)
    # same params: fine
    hll_ingest_writer(store, ["event_type"], "user_id", lgk=12)(ev, 1)


# --------------------------------------------------------------------- #
# Review-hardening regressions (round 4, streaming batch)
# --------------------------------------------------------------------- #


def test_ingest_store_refuses_fresh_checkpoint_rewind(spark, tmp_path):
    """A NEW checkpoint (epoch counter restarted at 0) pointed at an OLD
    store must raise instead of hiding the base and clobbering old
    partitions."""
    from hobbes_spark.streaming.ingest import minhash_ingest_writer

    docs = spark.createDataFrame(
        [(i, f"doc number {i} with shared words here today") for i in range(8)],
        "doc_id bigint, text string",
    )
    store = str(tmp_path / "store")
    w = minhash_ingest_writer(store, hash_fn="md5")
    w(docs.filter("doc_id < 4"), 0)
    w(docs.filter("doc_id >= 4"), 1)
    # same run replaying its LAST batch: fine (idempotent rewrite)
    w(docs.filter("doc_id >= 4"), 1)
    # fresh writer (new query run) starting over at batch 0: refuse
    w2 = minhash_ingest_writer(store, hash_fn="md5")
    with pytest.raises(ValueError, match="NEW checkpoint"):
        w2(docs.filter("doc_id < 4"), 0)


def test_ingest_duplicate_doc_id_first_write_wins(spark, tmp_path):
    from hobbes_spark.streaming.ingest import (
        minhash_ingest_writer,
        read_signature_store,
    )

    store = str(tmp_path / "store")
    w = minhash_ingest_writer(store, hash_fn="md5")
    d0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id bigint, text string"
    )
    d1 = spark.createDataFrame(
        [(1, "totally different updated text content now"),
         (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    w(d0, 0)
    w(d1, 1)
    sigs = read_signature_store(spark, store).toPandas()
    # doc 1 keeps its FIRST signature; no duplicate signature rows
    assert sorted(sigs["id"]) == [1, 2]
    # and the near-dup pair (1, 2) on the ORIGINAL text was found
    pairs = spark.read.parquet(f"{store}/pairs").toPandas()
    assert {(int(a), int(b)) for a, b in zip(pairs.id_a, pairs.id_b)} == {(1, 2)}


def test_quality_gate_flip_does_not_double_publish(spark, tmp_path):
    """A replay whose verdict flips (time-dependent check) must clear
    the opposite target's partition — the batch may live in exactly one
    of path / path_quarantine."""
    import pyspark.sql.functions as F

    from hobbes_spark.functions.validate import in_range
    from hobbes_spark.streaming.sinks import quality_gated_writer

    path = str(tmp_path / "pub")
    rep = str(tmp_path / "rep")
    batch = spark.createDataFrame([(1, 5.0)], "id bigint, v double")
    good = quality_gated_writer(path, [in_range("v", 0, 10)], rep)
    bad = quality_gated_writer(path, [in_range("v", 0, 1)], rep)
    good(batch, 0)   # passes -> published
    bad(batch, 0)    # replay, now fails -> quarantined, publish cleared
    assert spark.read.parquet(f"{path}_quarantine").count() == 1
    import os
    assert not os.path.exists(f"{path}/_batch_id=0")
    # and the reverse flip clears quarantine
    good(batch, 0)
    assert spark.read.parquet(path).count() == 1
    assert not os.path.exists(f"{path}_quarantine/_batch_id=0")


def test_quality_gate_null_check_fails_closed(spark, tmp_path):
    import pyspark.sql.functions as F

    from hobbes_spark.streaming.sinks import quality_gated_writer

    path = str(tmp_path / "pub2")
    rep = str(tmp_path / "rep2")
    # a custom check WITHOUT the built-ins' empty-safe coalesce: NULL on
    # an all-NULL column
    null_check = ("custom", F.sum((F.col("v") < 0).cast("int")).cast("bigint"))
    batch = spark.createDataFrame([(1, None)], "id bigint, v double")
    w = quality_gated_writer(path, [null_check], rep)
    w(batch, 0)
    # indeterminate -> NOT published
    assert spark.read.parquet(f"{path}_quarantine").count() == 1


def test_interval_join_semi_and_anti(spark):
    from hobbes_spark.streaming.joins import interval_join

    import pyspark.sql.functions as F

    left = spark.createDataFrame(
        [(1, "2021-01-01 10:00:00"), (2, "2021-01-01 10:00:00")],
        "user_id bigint, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2021-01-01 10:30:00")], "user_id bigint, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    semi = interval_join(left, right, "user_id", how="left_semi")
    anti = interval_join(left, right, "user_id", how="left_anti")
    assert [r["user_id"] for r in semi.collect()] == [1]
    assert [r["user_id"] for r in anti.collect()] == [2]


def test_stateful_null_timestamps_emit_null_not_epoch(spark):
    import pyspark.sql.functions as F

    ev = spark.createDataFrame(
        [(10, None, 2.0)], "user_id bigint, ts timestamp, value double"
    )
    # batch-mode equivalent: drive the pandas state fn directly
    from hobbes_spark.streaming.stateful import _update_user

    import pandas as pd

    class FakeState:
        exists = False
        def update(self, v): self.v = v

    out = list(_update_user((10,), iter([ev.toPandas()]), FakeState()))[0]
    assert pd.isna(out["last_ts"].iloc[0])  # NULL, not 1970-01-01


def test_quality_batteries_are_streamable(spark, sf_dir, tmp_path):
    """The gopher/c4 batteries are stateless map-only expressions, so
    they apply unchanged to a document STREAM — the streaming-ingest
    curation mode — and per-row results must equal the batch run over
    the same corpus (multiple microbatch files, append mode, no
    watermark needed: no state, no aggregation)."""
    from pyspark.sql import functions as F

    from hobbes_spark.functions.curation import (
        c4_quality_stats, gopher_quality_stats,
    )

    data = str(tmp_path / "in")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # two files -> at least two microbatches with maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(data)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(data)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(data)
    )
    out = c4_quality_stats(gopher_quality_stats(stream)).select(
        "doc_id", "word_count", "keep_quality", "kept_lines",
        "sentence_count", "keep_c4",
    )
    name = _run_to_memory(out, "append", str(tmp_path / "ckpt"))
    cols = ["doc_id", "word_count", "keep_quality", "kept_lines",
            "sentence_count", "keep_c4"]
    streamed = _norm(_rows(spark, name), cols)
    batch = _norm(
        c4_quality_stats(gopher_quality_stats(docs)).select(*cols).collect(),
        cols,
    )
    assert streamed == batch and len(streamed) == docs.count()


def test_stream_parquet_generic_source(spark, sf_dir):
    """stream_parquet (the generic landing-zone source stream_events
    delegates to): schema comes from the file, stateless batch
    operators run unchanged, and the replayed micro-batches equal the
    batch read row-for-row."""
    from pyspark.sql import functions as F

    from hobbes_spark.functions.text import token_count
    from hobbes_spark.streaming import stream_parquet
    from hobbes_spark.streaming.run import replay_to_df

    path = f"{sf_dir}/documents.parquet"
    stream = stream_parquet(spark, path, max_files_per_trigger=1)
    agg = stream.withColumn("__t", token_count("text")).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.sum("__t").alias("t")
    )
    got = {r["lang"]: (r["n"], r["t"])
           for r in replay_to_df(agg, spark, mode="complete").collect()}
    batch = spark.read.parquet(path).withColumn("__t", token_count("text"))
    want = {r["lang"]: (r["n"], r["t"])
            for r in batch.groupBy("lang").agg(
                F.count(F.lit(1)).alias("n"), F.sum("__t").alias("t")).collect()}
    assert got == want and len(got) >= 2


def test_stream_parquet_single_file_reuses_one_symlink_dir(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A single-file stream is exposed through a symlink directory named
    after the file: repeated calls reuse it instead of leaving one
    directory per call, and the stream still reads the file."""
    from hobbes_spark.streaming import stream_parquet

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = f"{sf_dir}/documents.parquet"
    first = stream_parquet(spark, path)
    second = stream_parquet(spark, path)
    dirs = [e for e in os.listdir(tmp_path) if e.startswith("hb_stream_")]
    assert len(dirs) == 1
    link = os.path.join(tmp_path, dirs[0], "documents.parquet")
    assert os.readlink(link) == os.path.abspath(path)
    assert first.schema == second.schema == spark.read.parquet(path).schema


# --------------------------------------------------------------------- #
# Restart-replay (exactly-once) gates, r8 verdict item 4: kill a file-
# sink query between "batch written" and "offset committed" (simulated
# by deleting the newest ckpt/commits/<N> file — the exact crash point
# the foreachBatch at-least-once contract names), restart on the SAME
# checkpoint with MORE input, and require the final sink to equal the
# batch oracle: the replayed batch must replace, not duplicate, and the
# recovered state (dedup keys / open windows) must pick up where the
# killed run left off.
# --------------------------------------------------------------------- #


def _simulate_crash_before_commit(ckpt: str) -> int:
    """Delete the newest commits/<N> file: the restart will re-run
    batch N with the same offsets and the same batch_id — exactly what
    a crash after the foreachBatch write but before the offset commit
    produces. Returns N.  (Round 10: the mechanics moved into the
    library as streaming.run.uncommit_last_batch so the
    stream_restart_* catalog rows can run the same drill.)"""
    from hobbes_spark.streaming.run import uncommit_last_batch

    return uncommit_last_batch(ckpt)


def test_restart_replay_dedup_sink_exactly_once(spark, tmp_path):
    """Dedup source -> idempotent parquet sink across a mid-trigger
    crash + restart: duplicates spanning the restart are dropped (state
    recovered), the replayed batch overwrites its own partition, and
    the final sink equals batch ``dropDuplicates`` over ALL input."""
    from hobbes_spark.streaming import stream_events, stream_exact_dedup
    from hobbes_spark.streaming.sinks import idempotent_parquet_writer

    data = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")
    t0 = dt.datetime(2026, 1, 1, 12, 0)

    def run():
        s = stream_events(spark, data, max_files_per_trigger=1)
        d = stream_exact_dedup(s, ["event_id"], watermark="1 hour")
        q = (
            d.writeStream.foreachBatch(idempotent_parquet_writer(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # duplicates are EXACT row copies, so first-arrival-wins (stream)
    # and any-row-wins (batch oracle) coincide and values compare clean
    row7 = (7, t0 + dt.timedelta(minutes=2), 1, "dup", 1.0)
    _write_events(spark, data, [
        (1, t0, 1, "a", 1.0), (2, t0 + dt.timedelta(minutes=1), 1, "b", 1.0),
        row7,
    ])
    _write_events(spark, data, [row7, (3, t0 + dt.timedelta(minutes=5), 2, "c", 1.0)])
    _write_events(spark, data, [(8, t0 + dt.timedelta(minutes=10), 2, "d", 1.0), row7])
    run()

    replayed = _simulate_crash_before_commit(ckpt)
    # more input AFTER the crash: a dup of a pre-crash key (state must
    # survive the restart) and two fresh keys
    _write_events(spark, data, [
        (8, t0 + dt.timedelta(minutes=10), 2, "d", 1.0),  # dup of key 8
        (4, t0 + dt.timedelta(minutes=20), 3, "e", 1.0),
    ])
    _write_events(spark, data, [(5, t0 + dt.timedelta(minutes=25), 3, "f", 1.0)])
    run()

    sink = spark.read.parquet(out)
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    got = sorted(tuple(r[c] for c in cols) for r in sink.select(*cols).collect())
    oracle = (
        spark.read.parquet(data)
        .select(*cols)
        .dropDuplicates(["event_id"])
    )
    want = sorted(tuple(r[c] for c in cols) for r in oracle.collect())
    assert got == want  # no loss, and...
    assert len(got) == len({g[0] for g in got})  # ...no duplicates
    # the crashed trigger really re-ran and re-committed: stateful
    # queries end each drain with a no-data watermark-advance batch, so
    # the newest commit is that batch — it replays empty (no sink
    # partition) but its commit file must be back, and the post-restart
    # data batches continue AFTER it
    assert str(replayed) in os.listdir(os.path.join(ckpt, "commits"))
    batch_ids = sorted(
        r["_batch_id"] for r in sink.select("_batch_id").distinct().collect()
    )
    assert min(b for b in batch_ids if b > replayed) == replayed + 1


def test_restart_replay_windowed_sink_exactly_once(spark, tmp_path):
    """Windowed counts -> idempotent parquet sink across a mid-trigger
    crash + restart: the window emitted by the killed trigger re-emits
    under the same batch id (replace, not duplicate), windows still
    open at the crash finalize from recovered state after the restart,
    and the final sink equals the batch oracle restricted to windows
    the final watermark closed (no dupes, no loss)."""
    from hobbes_spark.streaming import stream_events, tumbling_agg
    from hobbes_spark.streaming.sinks import idempotent_parquet_writer

    data = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")
    t0 = dt.datetime(2026, 1, 1, 12, 0)

    def run():
        s = stream_events(spark, data, max_files_per_trigger=1)
        agg = tumbling_agg(
            s, duration="30 minutes", keys=("event_type",),
            watermark="10 minutes",
        )
        q = (
            agg.writeStream.foreachBatch(idempotent_parquet_writer(out))
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    def ev(i, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), 1, "click", 1.0)

    # b0: two events in the 12:00 window; b1: 12:40; b2: 13:20 (wm
    # 12:30 -> emits [12:00,12:30) n=2); then the drain's trailing
    # NO-DATA batch b3 advances the watermark to 13:10 and emits
    # [12:30,13:00) n=1 — b3 is the newest commit, so the simulated
    # crash kills a trigger that EMITTED A WINDOW: the sharpest replay.
    _write_events(spark, data, [ev(1, 0), ev(2, 10)])
    _write_events(spark, data, [ev(3, 40)])
    _write_events(spark, data, [ev(4, 80)])
    run()
    before = {(r["win_start"], r["n_events"])
              for r in spark.read.parquet(out).collect()}
    assert before == {(t0, 2), (t0 + dt.timedelta(minutes=30), 1)}

    replayed = _simulate_crash_before_commit(ckpt)
    # more input: one real window (13:30) + two far-future sentinels
    # that push the watermark past every real window's end
    _write_events(spark, data, [ev(5, 90)])
    _write_events(spark, data, [ev(6, 180)])
    _write_events(spark, data, [ev(7, 240)])
    run()

    sink = spark.read.parquet(out)
    got = sorted(
        (r["win_start"], r["win_end"], r["n_events"]) for r in sink.collect()
    )
    # batch oracle over ALL input, restricted to windows the final
    # watermark had closed (trailing no-data batch: max event time
    # 16:00 minus 10 min = 15:50)
    final_wm = t0 + dt.timedelta(minutes=230)
    oracle = (
        spark.read.parquet(data)
        .groupBy(F.window("ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("win.end") <= F.lit(final_wm))
        .select("win.start", "win.end", "n_events")
    )
    want = sorted((r["start"], r["end"], r["n_events"]) for r in oracle.collect())
    assert got == want
    # 12:00 n2, 12:30 n1, 13:00 n1, 13:30 n1, 15:00 n1
    assert len(got) == 5
    assert len({(g[0], g[1]) for g in got}) == len(got)  # no window twice
    # the crashed trigger's window re-landed exactly once, under its
    # original batch id (replace, not duplicate)
    b = spark.read.parquet(out).filter(
        F.col("win_start") == t0 + dt.timedelta(minutes=30)
    )
    assert [r["_batch_id"] for r in b.select("_batch_id").collect()] == [replayed]


def test_restart_replay_stateful_op_exactly_once(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState) across the
    same mid-trigger crash + restart: the per-user running totals must
    recover state from the checkpoint, the replayed trigger's update
    rows land under their original batch id (replace, not duplicate),
    and the FINAL totals equal the batch aggregation over all input —
    completing the restart-gate family (dedup / windowed agg / custom
    state)."""
    from hobbes_spark.streaming import running_user_totals, stream_events
    from hobbes_spark.streaming.sinks import idempotent_parquet_writer

    data = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "sink")
    t0 = dt.datetime(2026, 1, 1)

    def run():
        s = stream_events(spark, data, max_files_per_trigger=1)
        q = (
            running_user_totals(s)
            .writeStream.foreachBatch(idempotent_parquet_writer(out))
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    all_rows = []
    def feed(b):
        rows = [
            (b * 100 + i, t0 + dt.timedelta(hours=b, minutes=i), i % 3,
             "e", float(b + i))
            for i in range(12)
        ]
        all_rows.extend(rows)
        _write_events(spark, data, rows)

    feed(0)
    feed(1)
    run()
    replayed = _simulate_crash_before_commit(ckpt)
    feed(2)
    feed(3)
    run()

    sink = spark.read.parquet(out)
    # replayed batch landed exactly once under its original id: its
    # partition exists and was not duplicated under a new id (update
    # rows are per (user, batch) — each user has at most one row per
    # batch id)
    per = sink.groupBy("user_id", "_batch_id").count().collect()
    assert all(r["count"] == 1 for r in per)
    assert replayed in {r["_batch_id"] for r in per}
    # final running totals (max n_events per user) == batch aggregation
    final = {}
    for r in sink.collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur["n_events"]:
            final[r["user_id"]] = r
    batch = spark.createDataFrame(
        all_rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("total"),
        F.max("ts").alias("last"),
    )
    rows = batch.collect()
    assert len(rows) == 3
    for r in rows:
        f = final[r["user_id"]]
        assert f["n_events"] == r["n"], (r["user_id"], f["n_events"], r["n"])
        assert abs(f["total_value"] - r["total"]) < 1e-9
        assert f["last_ts"] == r["last"]


def test_source_scaled_partitions_bounds_and_pin_restores(spark, sf_dir, tmp_path):
    """r14 (guide §2 — scale-adaptive state partitioning): the derived
    state partition count must track source size, stay within
    [floor, session shuffle default], and the pin context must restore
    the session conf even on error. Partition-count independence of the
    replay result is pinned by replaying the same stateful dedup at two
    different counts."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from hobbes_spark.streaming import stream_parquet
    from hobbes_spark.streaming.run import pinned_shuffle_partitions, replay_to_df
    from hobbes_spark.streaming.source import source_scaled_partitions

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # a tiny source floors (never 0/1 unless the cap itself is 1)
    small = source_scaled_partitions(spark, f"{sf_dir}/documents.parquet")
    assert min(2, cap) <= small <= cap
    # a synthetic "huge" source saturates at the session cap
    assert (
        source_scaled_partitions(spark, f"{sf_dir}/documents.parquet",
                                 bytes_per_partition=1) == cap
    )
    # missing path degrades to the floor, not an exception
    assert source_scaled_partitions(spark, "/nonexistent") == min(2, cap)

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pinned_shuffle_partitions(spark, 3):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before
    with _pytest.raises(RuntimeError):
        with pinned_shuffle_partitions(spark, 3):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == before  # restored on error too

    # result is partition-count independent: same dedup, two layouts
    src = str(tmp_path / "in")
    spark.range(0, 50).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).cast("string").alias("source"),
        (F.col("id") % 7).cast("string").alias("text"),
    ).coalesce(1).write.parquet(src)

    def replay(n):
        d = stream_parquet(spark, src).dropDuplicates(["source", "text"])
        out = replay_to_df(d, spark, mode="append", state_partitions=n)
        return sorted((r["doc_id"] is not None, r["source"], r["text"])
                      for r in out.collect())

    assert replay(2) == replay(7)
