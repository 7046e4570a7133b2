"""Skew helpers and IVF ANN: exact equivalence for salted ops, recall
floor for the IVF index.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hobbes_spark.functions.similarity import cosine_topk, ivf_topk
from hobbes_spark.operators.skew import salted_agg, salted_join


@pytest.fixture(scope="module")
def skewed(spark):
    """1 hot key carrying ~90% of rows + a long tail."""
    hot = spark.range(0, 9000).select(
        F.lit("HOT").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    tail = spark.range(0, 1000).select(
        F.concat(F.lit("t"), (F.col("id") % 50).cast("string")).alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    return hot.unionByName(tail)


def test_salted_agg_equals_direct(spark, skewed):
    got = salted_agg(
        skewed, ["k"], {"v": "sum"}, salts=8
    ).withColumnRenamed("v", "s")
    want = skewed.groupBy("k").agg(F.sum("v").alias("s"))
    g = {r["k"]: r["s"] for r in got.collect()}
    w = {r["k"]: r["s"] for r in want.collect()}
    assert g.keys() == w.keys()
    assert all(abs(g[k] - w[k]) < 1e-6 for k in w)


def test_salted_agg_mean_and_count(spark, skewed):
    got = salted_agg(skewed, ["k"], {"v": "mean"}, salts=8)
    want = {r["k"]: r["m"] for r in skewed.groupBy("k").agg(F.avg("v").alias("m")).collect()}
    for r in got.collect():
        assert abs(r["v"] - want[r["k"]]) < 1e-9

    got2 = salted_agg(skewed, ["k"], {"v": "count"}, salts=8)
    want2 = {r["k"]: r["n"] for r in skewed.groupBy("k").agg(F.count("v").alias("n")).collect()}
    assert {r["k"]: r["v"] for r in got2.collect()} == want2


def test_salted_agg_rejects_nonalgebraic(skewed):
    with pytest.raises(ValueError, match="non-algebraic"):
        salted_agg(skewed, ["k"], {"v": "median"})


def test_salted_agg_balances_partitions(spark, skewed):
    """The stage-1 shuffle must spread the hot key over the salt space."""
    stage1 = (
        skewed.withColumn("__salt", F.floor(F.rand(42) * 8).cast("int"))
        .groupBy("k", "__salt")
        .count()
    )
    hot = stage1.filter(F.col("k") == "HOT").collect()
    assert len(hot) == 8  # all 8 salt cells occupied
    assert max(r["count"] for r in hot) < 9000 * 0.25  # no cell holds the key


def test_salted_join_equals_direct(spark, skewed):
    dim = spark.createDataFrame(
        [("HOT", 1.0)] + [(f"t{i}", float(i)) for i in range(50)], "k string, w double"
    )
    got = salted_join(skewed, dim, "k", salts=4).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("w")).alias("s")
    )
    want = skewed.join(dim, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v") * F.col("w")).alias("s")
    )
    g = {r["k"]: (r["n"], round(r["s"], 6)) for r in got.collect()}
    w = {r["k"]: (r["n"], round(r["s"], 6)) for r in want.collect()}
    assert g == w


def test_salted_join_left_keeps_unmatched(spark, skewed):
    dim = spark.createDataFrame([("HOT", 1.0)], "k string, w double")
    got = salted_join(skewed, dim, "k", salts=4, how="left")
    assert got.count() == skewed.count()
    assert got.filter(F.col("w").isNull()).count() == 1000  # the tail


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, queries, k=5)
    approx = ivf_topk(emb, queries, k=5, nlist=8, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall {recall:.2f} too low"
    # nprobe = nlist degenerates to exact search
    full = ivf_topk(emb, queries, k=5, nlist=8, nprobe=8)
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e


def test_salted_mean_ignores_nulls(spark):
    """mean must divide by the NON-null count per column (avg semantics),
    not the group row count."""
    df = spark.createDataFrame(
        [("k", 2.0), ("k", None), ("k", 4.0)], "k string, v double"
    )
    got = salted_agg(df, ["k"], {"v": "mean"}, salts=4).collect()[0]["v"]
    assert abs(got - 3.0) < 1e-9


def test_salted_join_rejects_full(spark, skewed):
    dim = spark.createDataFrame([("HOT", 1.0)], "k string, w double")
    with pytest.raises(ValueError, match="salted_join supports"):
        salted_join(skewed, dim, "k", how="full")


def test_ivf_index_persists_and_searches_identically(spark, sf_dir, tmp_path):
    """Build once, write, read back, search: results must equal the
    one-shot ivf_topk (the index is a table, not session state)."""
    from hobbes_spark.functions.similarity import (
        ivf_build,
        ivf_read,
        ivf_search,
        ivf_topk,
    )
    from hobbes_spark.pipeline import Pipeline

    emb = Pipeline.table(spark, sf_dir, "embeddings").df
    queries = emb.limit(5)
    direct = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(emb, queries, k=5, nlist=8, nprobe=8).collect()
    )
    assigned, centroids = ivf_build(emb, nlist=8)
    from hobbes_spark.functions.similarity import ivf_write

    ivf_write(str(tmp_path / "idx"), assigned, centroids)
    a2, c2 = ivf_read(spark, str(tmp_path / "idx"))
    stored = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_search(a2, c2, queries, k=5, nprobe=8).collect()
    )
    assert stored == direct and len(stored) == 25


def test_ivf_reopen_launches_no_job(spark, tmp_path, spark_jobs):
    """Re-opening an unchanged index reuses the schemas of the first
    read: no Spark job, the same schema and rows, and ``cell`` is still
    a discovered partition column that prunes the scan."""
    from hobbes_spark.functions.similarity import ivf_read, ivf_write

    assigned = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 3) for i in range(12)],
        "id bigint, v array<double>, cell int",
    )
    centroids = spark.createDataFrame(
        [(c, [float(c), 1.0]) for c in range(3)], "cell int, centroid array<double>"
    )
    idx = str(tmp_path / "idx")
    ivf_write(idx, assigned, centroids)
    a1, c1 = ivf_read(spark, idx)
    (a2, c2), jobs, _ = spark_jobs(lambda: ivf_read(spark, idx))
    assert jobs == 0
    assert (a2.schema, c2.schema) == (a1.schema, c1.schema)
    assert sorted(a2.collect()) == sorted(a1.collect()) == sorted(assigned.collect())
    assert sorted(c2.collect()) == sorted(c1.collect())
    plan = a2.filter("cell = 1")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan


def test_ragged_corpus_dim_raises(spark):
    """A mixed-dimension corpus must fail fast: the Arrow sign kernel
    signs other-dim vectors all-zero, which would silently collapse the
    ragged subset into one LSH bucket (Θ(m²) candidates, lost recall)."""
    from hobbes_spark.functions.similarity import corpus_dim

    ok = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, None)],
        "id bigint, v array<double>",
    )
    assert corpus_dim(ok, "v") == 2
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0, 5.0])], "id bigint, v array<double>"
    )
    with pytest.raises(ValueError, match="ragged"):
        corpus_dim(ragged, "v")
    assert corpus_dim(ok.filter("id = 3"), "v") is None


# --------------------------------------------------------------------- #
# Review-hardening regressions (round 4)
# --------------------------------------------------------------------- #


def _vec_df(spark, rows):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    return spark.createDataFrame(rows, schema)


def test_null_vectors_excluded_from_lsh_and_cosine(spark):
    from hobbes_spark.functions.similarity import cosine_topk, lsh_bucket_topk

    corpus = _vec_df(spark, [(i, [float(i), 1.0]) for i in range(8)] + [(99, None)])
    queries = _vec_df(spark, [(0, [1.0, 1.0]), (100, None)])
    for fn in (cosine_topk, lsh_bucket_topk):
        out = fn(corpus, queries, k=20).collect()
        assert all(r["neighbor_id"] != 99 for r in out), fn.__name__
        assert all(r["query_id"] != 100 for r in out), fn.__name__
        assert all(r["cos"] is not None for r in out), fn.__name__


@pytest.mark.parametrize(
    "rows", [[], [(1, None), (2, None)]], ids=["empty", "all_null"]
)
def test_lsh_corpus_without_vectors_returns_no_rows(spark, rows):
    """No corpus vector means no bucket to probe: 0 rows, with the same
    columns and types as a non-empty result."""
    from hobbes_spark.functions.similarity import lsh_bucket_topk

    queries = _vec_df(spark, [(0, [1.0, 1.0]), (5, None)])
    out = lsh_bucket_topk(_vec_df(spark, rows), queries, k=5)
    full = lsh_bucket_topk(_vec_df(spark, [(1, [1.0, 1.0])]), queries, k=5)
    assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]
    assert [(f.name, f.dataType) for f in out.schema] == [
        (f.name, f.dataType) for f in full.schema
    ]
    assert out.collect() == []
    assert full.count() == 1


def test_ivf_tolerates_null_vectors(spark):
    from hobbes_spark.functions.similarity import ivf_topk

    corpus = _vec_df(
        spark, [(i, [float(i % 4), float(i // 4)]) for i in range(12)] + [(99, None)]
    )
    queries = _vec_df(spark, [(0, [1.0, 1.0])])
    out = ivf_topk(corpus, queries, k=5, nlist=2, nprobe=2).collect()
    assert len(out) == 5  # no FAILED_EXECUTE_UDF, NULL row not indexed
    assert all(r["neighbor_id"] != 99 for r in out)


def test_probe_radius_two_expands_probes_and_caps(spark):
    from hobbes_spark.functions.similarity import lsh_bucket_topk

    corpus = _vec_df(spark, [(i, [float(i), 1.0, -float(i)]) for i in range(30)])
    queries = _vec_df(spark, [(0, [1.0, 1.0, -1.0])])
    r1 = {r["neighbor_id"] for r in lsh_bucket_topk(
        corpus, queries, k=30, planes=8, probe_radius=1).collect()}
    r2 = {r["neighbor_id"] for r in lsh_bucket_topk(
        corpus, queries, k=30, planes=8, probe_radius=2).collect()}
    assert r1 <= r2  # radius 2 can only ADD candidates
    with pytest.raises(ValueError, match="probe_radius"):
        lsh_bucket_topk(corpus, queries, probe_radius=3)


def test_ragged_query_dimension_raises(spark):
    from hobbes_spark.functions.similarity import lsh_bucket_topk

    corpus = _vec_df(spark, [(i, [float(i), 1.0, 0.0]) for i in range(5)])
    queries = _vec_df(spark, [(0, [1.0, 1.0])])  # dim 2 != 3
    with pytest.raises(ValueError, match="dimension"):
        lsh_bucket_topk(corpus, queries)


def test_quantize_preserves_null_elements(spark):
    from hobbes_spark.functions.similarity import dequantized, quantize_embeddings

    df = _vec_df(spark, [(1, [1.0, None, -0.5])])
    row = quantize_embeddings(df).select(
        "q8", "scale", dequantized("q8", "scale").alias("back")
    ).collect()[0]
    assert row["q8"] == [127, None, -63]  # NULL stays NULL, not -127
    assert row["back"][1] is None


def test_ivf_probes_cells_by_cosine_not_raw_l2(spark):
    """A short query must probe the cell of its cosine-direction, not
    the L2-nearest cell: with unnormalized clustering, [0.1, 0] sits
    closer (L2) to the tiny-norm cluster even though its direction
    matches the large-norm one."""
    from hobbes_spark.functions.similarity import ivf_topk

    # two clean direction clusters with very different norms
    corpus = _vec_df(
        spark,
        [(i, [100.0 + i, 0.0]) for i in range(5)]          # +x, huge norm
        + [(10 + i, [0.0, 0.05 + 0.001 * i]) for i in range(5)],  # +y, tiny norm
    )
    queries = _vec_df(spark, [(0, [0.1, 0.0])])  # +x direction, tiny norm
    out = ivf_topk(corpus, queries, k=3, nlist=2, nprobe=1).collect()
    # nprobe=1: the single probed cell must be the +x cell (cosine 1.0)
    assert {r["neighbor_id"] for r in out} <= set(range(5))
    assert all(abs(r["cos"] - 1.0) < 1e-9 for r in out)


def test_hash_bucket_salt_framing_decorrelates_prefix_salts(spark):
    from hobbes_spark.functions.sampling import hash_bucket

    df = spark.createDataFrame([(f"k{i}",) for i in range(200)], ["k"])
    a = df.withColumn("h", hash_bucket("k", salt="v1")).collect()
    b = df.withColumn("h", hash_bucket("k", salt="v12")).collect()
    # prefix salts must not produce correlated streams; with the \x1f
    # separator the two hash columns share (essentially) no values
    same = sum(1 for x, y in zip(a, b) if x["h"] == y["h"])
    assert same == 0


def test_top_fraction_exact_quota_at_float_boundary(spark):
    from hobbes_spark.functions.sampling import top_fraction_by

    rows = [("g", i, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, ["g", "id", "score"])
    # 0.07 * 100 == 7.000000000000001 in IEEE double: must keep 7, not 8
    out = top_fraction_by(df, by=["g"], score_col="score", frac=0.07,
                          tiebreak=["id"])
    assert out.count() == 7


# --------------------------------------------------------------------- #
# IVF-PQ (round 6): coarse cells over the compressed code table
# --------------------------------------------------------------------- #


def test_ivf_pq_full_probe_equals_adc(spark, sf_dir):
    """nprobe == nlist must reproduce pq_adc_topk exactly — cell
    pruning collapses to a no-op, which is the identity the catalog
    oracle relies on (codes quantize RAW vectors, not residuals)."""
    from hobbes_spark.functions.similarity import (
        ivf_pq_topk,
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < 5)
    books = pq_codebooks(emb, levels=8)
    adc = sorted(
        (r.query_id, r.neighbor_id, r.dist, r.rank)
        for r in pq_adc_topk(pq_encode(emb, books), queries, books, k=5).collect()
    )
    ivf = sorted(
        (r.query_id, r.neighbor_id, r.dist, r.rank)
        for r in ivf_pq_topk(
            emb, queries, k=5, nlist=4, nprobe=4, levels=8
        ).collect()
    )
    assert ivf == adc and len(ivf) == 25


def test_ivf_pq_pruned_probe_dominated_and_recalls(spark, sf_dir):
    """nprobe < nlist scans a strict subset of cells: at every rank the
    pruned distance can only be >= the full-probe one, and recall
    against the full-probe ranking stays useful on the driver corpus."""
    from hobbes_spark.functions.similarity import ivf_pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < 8)
    full = ivf_pq_topk(emb, queries, k=5, nlist=8, nprobe=8, levels=8).collect()
    pruned = ivf_pq_topk(emb, queries, k=5, nlist=8, nprobe=4, levels=8).collect()
    fd = {(r.query_id, r.rank): r.dist for r in full}
    for r in pruned:
        assert r.dist >= fd[(r.query_id, r.rank)] - 1e-9
    f = {(r.query_id, r.neighbor_id) for r in full}
    p = {(r.query_id, r.neighbor_id) for r in pruned}
    recall = len(f & p) / len(f)
    assert recall >= 0.6, f"IVF-PQ recall {recall:.2f} too low"


def test_pq_adc_drops_null_vector_queries(spark, sf_dir):
    """A NULL-embedding query row must be dropped, not ranked: a NULL
    distance sorts FIRST ascending (garbage rank-1 rows), and keeping
    it would break the nprobe==nlist identity with ivf_pq_search
    (round-6 review fix)."""
    from hobbes_spark.functions.similarity import (
        pq_adc_topk, pq_codebooks, pq_encode,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_codebooks(emb, levels=8)
    null_q = spark.createDataFrame(
        [(99999, None)], "vec_id bigint, embedding array<float>"
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        "vec_id", "embedding"
    ).unionByName(null_q)
    out = pq_adc_topk(pq_encode(emb, books), queries, books, k=3).collect()
    assert len(out) == 3 * 4  # the NULL query contributes no rows
    assert all(r.query_id != 99999 and r.dist is not None for r in out)


def test_ivf_pq_write_read_roundtrip_search(spark, sf_dir, tmp_path):
    """Persist → reload → search must equal the in-memory search: the
    production mode is build ONCE, search many times off the cell-
    partitioned code table + codebook sidecar."""
    from hobbes_spark.functions.similarity import (
        ivf_pq_build, ivf_pq_read, ivf_pq_search, ivf_pq_write,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id") < 5)
    encoded, centroids, books = ivf_pq_build(emb, nlist=8, levels=8)
    mem = sorted(
        (r.query_id, r.neighbor_id, r.dist, r.rank)
        for r in ivf_pq_search(
            encoded, centroids, queries, books, k=5, nprobe=3
        ).collect()
    )
    ivf_pq_write(str(tmp_path / "idx"), encoded, centroids, books)
    enc2, cents2, books2 = ivf_pq_read(spark, str(tmp_path / "idx"))
    assert books2 == books
    disk = sorted(
        (r.query_id, r.neighbor_id, r.dist, r.rank)
        for r in ivf_pq_search(
            enc2, cents2, queries, books2, k=5, nprobe=3
        ).collect()
    )
    assert disk == mem and len(disk) == 25


def test_ivf_pq_disk_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The cell-partitioned layout must actually prune: the probe join
    against the on-disk code table is a broadcast equi-join ON THE
    PARTITION COLUMN, so Spark inserts a dynamic-partition-pruning
    filter into the scan — at 100 TB that is the difference between
    reading nprobe/nlist of the index and reading all of it."""
    from hobbes_spark.functions.similarity import (
        ivf_pq_build, ivf_pq_read, ivf_pq_search, ivf_pq_write,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    encoded, centroids, books = ivf_pq_build(emb, nlist=8, levels=8)
    ivf_pq_write(str(tmp_path / "idx"), encoded, centroids, books)
    enc2, cents2, books2 = ivf_pq_read(spark, str(tmp_path / "idx"))
    out = ivf_pq_search(
        enc2, cents2, emb.filter(F.col("vec_id") < 2), books2, k=3, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_ivf_pq_index_carries_no_raw_floats(spark, sf_dir):
    """The index the search scans is (id, cell, pq) ONLY — the 8x
    shrink is real because the float column is dropped at build time."""
    from hobbes_spark.functions.similarity import ivf_pq_build

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    encoded, centroids, books = ivf_pq_build(emb, nlist=4, levels=8)
    assert set(encoded.columns) == {"id", "cell", "pq"}
    assert set(centroids.columns) == {"cell", "centroid"}
    row = encoded.first()
    assert all(isinstance(c, int) and 0 <= c < 8 for c in row["pq"])


class TestHardNegatives:
    """DPR-style hard-negative mining (similarity.hard_negatives)."""

    def _emb(self, spark):
        rows = [
            (1, [1.0, 0.0], 10), (2, [0.9, 0.1], 10),   # label-10 cluster
            (3, [0.8, 0.2], 20), (4, [0.0, 1.0], 20),   # label-20
            (5, [0.7, 0.3], None), (6, None, 30),        # NULL label / vector
        ]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        )

    def test_same_label_never_mined(self, spark):
        from hobbes_spark.functions.similarity import hard_negatives

        emb = self._emb(spark)
        out = hard_negatives(emb, emb.filter(F.col("vec_id") == 1), k=10).collect()
        # query 1 (label 10): doc 2 shares the label and must be absent
        # even though it is the most similar vector; NULL label differs
        ids = [r["neighbor_id"] for r in out]
        assert 2 not in ids
        assert set(ids) == {3, 4, 5}
        # the hardest negative is the most similar different-label doc
        assert out[0]["neighbor_id"] == 3 and out[0]["rank"] == 1
        assert all(r["neighbor_label"] != 10 for r in out)

    def test_null_labels_group_together(self, spark):
        from hobbes_spark.functions.similarity import hard_negatives

        emb = self._emb(spark)
        nulls = emb.filter(F.col("vec_id") == 5)  # label NULL
        out = hard_negatives(emb, nulls, k=10).collect()
        # null-safe: another NULL-label doc would be excluded; here doc 5
        # is the only NULL-label vector, so all labeled docs are fair game
        assert {r["neighbor_id"] for r in out} == {1, 2, 3, 4}

    def test_reduces_to_cosine_topk_when_labels_unique(self, spark):
        from hobbes_spark.functions.similarity import cosine_topk, hard_negatives

        rows = [(i, [float(i % 3 + 1), float(i % 5)], i) for i in range(1, 12)]
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        )
        q = emb.filter(F.col("vec_id") <= 2)
        a = sorted((r["query_id"], r["rank"], r["neighbor_id"])
                   for r in hard_negatives(emb, q, k=5).collect())
        b = sorted((r["query_id"], r["rank"], r["neighbor_id"])
                   for r in cosine_topk(emb, q, k=5).collect())
        # all-distinct labels exclude only self -> identical mining
        assert a == b


def test_join_cardinality_stats_prices_without_joining(spark):
    """The profiler's out_rows must equal the ACTUAL inner-join output
    per key, NULL keys are visible with out_rows 0, and shares sum to
    ~100 over all keys."""
    from hobbes_spark.operators.skew import join_cardinality_stats

    left = spark.createDataFrame(
        [("hot", i) for i in range(30)] + [("a", 1), ("b", 2), (None, 9)],
        "k string, v bigint",
    )
    right = spark.createDataFrame(
        [("hot", i) for i in range(20)] + [("a", 1), ("c", 3), (None, 8)],
        "k string, v bigint",
    )
    got = {r["key"]: r for r in join_cardinality_stats(
        left, right, "k", "k", top=10
    ).collect()}
    actual = (
        left.join(right, "k").groupBy("k").count().collect()
    )
    actual = {r["k"]: r["count"] for r in actual}
    assert got["hot"]["out_rows"] == 600 == actual["hot"]
    assert got["a"]["out_rows"] == 1 == actual["a"]
    # one-sided keys and NULL keys: visible, zero output
    assert got["b"]["out_rows"] == 0 and got["b"]["left_rows"] == 1
    assert got["c"]["out_rows"] == 0 and got["c"]["right_rows"] == 1
    assert got[None]["out_rows"] == 0
    assert got[None]["left_rows"] == 1 and got[None]["right_rows"] == 1
    assert got["hot"]["rank"] == 1
    assert got["hot"]["share_pct"] == 99.83  # 600/601 half-up 2dp


def test_join_cardinality_stats_plan_has_no_big_join(spark):
    """The profiler joins two KEY-SIZED count tables, never the inputs:
    the plan must contain exactly one join, fed by aggregates."""
    from hobbes_spark.operators.skew import join_cardinality_stats

    left = spark.range(1000).select((F.col("id") % 10).alias("k"))
    right = spark.range(1000).select((F.col("id") % 10).alias("k"))
    df = join_cardinality_stats(left, right, "k", "k", top=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin")
    )
    # count-table full-outer + 1-row total broadcast = 2 joins max
    assert joins <= 2
    assert "TakeOrdered" in plan
    rows = df.collect()
    assert [r["out_rows"] for r in rows] == [10000] * 3


def test_aqe_skew_split_engages_on_unsalted_join(spark):
    """Round-8 plan gate for the sweep's skewed-join twins
    (tools/scale_check.py skew_join_aqe / skew_join_salted): on a fact
    where ONE key owns 50% of the rows, (a) the join pre-flight pricer
    detects the hot key's share, (b) AQE's skew-join split engages on
    the sort-merge plan (``skew=true`` in the final adaptive plan) —
    the mechanism that keeps the hot key off a single task when the
    join is NOT salted, and (c) the salted twin produces the identical
    aggregate."""
    from hobbes_spark.operators.skew import join_cardinality_stats

    confs = {
        # sized so the planted skew trips the detector on test-scale
        # data; production keeps the defaults
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pad = F.lpad(F.lit("x"), 200, "x")
        fact = spark.range(0, 60000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % 5000).cast("long").alias("sk"),
            pad.alias("pad"),
        )
        dim = spark.range(0, 5000).select(
            F.col("id").alias("sk"), (F.col("id") % 7).alias("grp")
        )

        # (a) the pricer sees the hot key owning half the fact
        stats = join_cardinality_stats(fact, dim, "sk", "sk", top=3)
        hot = stats.orderBy("rank").first()
        assert hot["key"] == 0
        assert hot["left_rows"] == 30000  # exactly half of 60k fact rows

        # (b) AQE splits the skewed partition in the unsalted SMJ
        joined = fact.join(dim.hint("merge"), "sk").groupBy("grp").agg(
            F.count(F.lit(1)).alias("n")
        )
        unsalted = {(r["grp"], r["n"]) for r in joined.collect()}
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]

        # (c) the salted twin is value-identical
        salted = salted_join(fact, dim, on="sk", salts=16).groupBy("grp").agg(
            F.count(F.lit(1)).alias("n")
        )
        assert {(r["grp"], r["n"]) for r in salted.collect()} == unsalted
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --------------------------------------------------------------------- #
# Derived salt factor (r8 verdict item 5): the pricer chooses the salt.
# --------------------------------------------------------------------- #


def test_auto_salt_factor_formula(spark, skewed):
    """ceil(hottest-key output / target), clamped to [1, max_salts]:
    HOT carries 9000 fact rows x 1 dim row = 9000 output rows."""
    from hobbes_spark.operators.skew import auto_salt_factor

    dim = skewed.select("k").distinct().withColumn("grp", F.length("k"))
    # target >= max_out -> 1 (balanced enough, skip the salt)
    assert auto_salt_factor(skewed, dim, "k", target_rows_per_task=9000) == 1
    # ceil division: 9000 / 4000 -> 3
    assert auto_salt_factor(skewed, dim, "k", target_rows_per_task=4000) == 3
    # clamp at max_salts
    assert auto_salt_factor(
        skewed, dim, "k", target_rows_per_task=1, max_salts=16
    ) == 16
    # deterministic (no sampling): same inputs, same factor
    assert auto_salt_factor(skewed, dim, "k", target_rows_per_task=4000) == 3
    with pytest.raises(ValueError, match="target_rows_per_task"):
        auto_salt_factor(skewed, dim, "k", target_rows_per_task=0)


def test_auto_salted_join_equals_fixed_and_unsalted(spark, skewed):
    """The r8 verdict's done-criterion: derived salt == fixed salt ==
    unsalted values; the salt only reshapes partitioning."""
    from hobbes_spark.operators.skew import auto_salted_join

    dim = skewed.select("k").distinct().withColumn("grp", F.length("k"))

    def agg(df):
        return sorted(
            (r["grp"], r["n"], round(r["s"], 6))
            for r in df.groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        )

    unsalted = agg(skewed.join(dim, "k"))
    fixed = agg(salted_join(skewed, dim, "k", salts=4))
    derived = agg(auto_salted_join(skewed, dim, "k", target_rows_per_task=2000))
    derived_skip = agg(  # factor 1 -> plain-join fast path
        auto_salted_join(skewed, dim, "k", target_rows_per_task=10**9)
    )
    assert unsalted == fixed == derived == derived_skip


def test_auto_salted_join_contract_checks_before_pricing(spark, skewed):
    """A data-dependent factor of 1 must not silently accept a join
    shape the salted path rejects: the guards fire regardless of the
    derived factor."""
    from hobbes_spark.operators.skew import auto_salted_join

    dim = skewed.select("k").distinct().withColumn("v", F.lit(1.0))
    with pytest.raises(ValueError, match="overlapping non-key"):
        auto_salted_join(skewed, dim, "k", target_rows_per_task=10**9)
    dim_ok = skewed.select("k").distinct().withColumn("grp", F.lit(1))
    with pytest.raises(ValueError, match="salted_join supports"):
        auto_salted_join(skewed, dim_ok, "k", how="full")


def test_auto_agg_salt_factor_formula(spark, skewed):
    """ceil(hottest key's input rows / target), clamped: HOT carries
    9000 rows."""
    from hobbes_spark.operators.skew import auto_agg_salt_factor

    assert auto_agg_salt_factor(skewed, ["k"], target_rows_per_task=9000) == 1
    assert auto_agg_salt_factor(skewed, ["k"], target_rows_per_task=4000) == 3
    assert auto_agg_salt_factor(
        skewed, ["k"], target_rows_per_task=1, max_salts=8
    ) == 8
    with pytest.raises(ValueError, match="target_rows_per_task"):
        auto_agg_salt_factor(skewed, ["k"], target_rows_per_task=0)


def test_auto_salted_agg_equals_direct(spark, skewed):
    """Derived-salt aggregation == fixed-salt == direct groupBy, on
    both the salted path (small target) and the factor-1 fallback
    (huge target), for sum/count/min/max/mean."""
    from hobbes_spark.operators.skew import auto_salted_agg

    vals = {"v": "mean"}

    def snap(df):
        return sorted(
            (r["k"], round(r["v"], 9)) for r in df.collect()
        )

    direct = snap(skewed.groupBy("k").agg(F.avg("v").alias("v")))
    fixed = snap(salted_agg(skewed, ["k"], vals, salts=8))
    derived = snap(auto_salted_agg(skewed, ["k"], vals, target_rows_per_task=2000))
    fallback = snap(auto_salted_agg(skewed, ["k"], vals, target_rows_per_task=10**9))
    assert direct == fixed == derived == fallback
    # non-algebraic rejected on BOTH paths
    with pytest.raises(ValueError, match="non-algebraic"):
        auto_salted_agg(skewed, ["k"], {"v": "median"},
                        target_rows_per_task=10**9)
    with pytest.raises(ValueError, match="non-algebraic"):
        auto_salted_agg(skewed, ["k"], {"v": "median"},
                        target_rows_per_task=1)
