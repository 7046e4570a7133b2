"""Physical-plan assertions: the scale properties the engine is designed
around must be visible in Catalyst's executed plan, so a regression that
silently de-optimizes (drops a pushdown, breaks broadcast, sneaks a
Python UDF into a hot path) fails here rather than at 100 TB.
"""

from __future__ import annotations

import pytest

from hobbes_spark.queries import QUERIES


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """`only` predicates must reach the parquet scan (SURVEY §4.2)."""
    plan = plan_of(spark, sf_dir, "flowerpot")
    assert "PushedFilters: [IsNotNull(o_orderstatus)" in plan
    # column pruning: the scan reads the 6 needed columns, not the table
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in scan and "o_comment" not in scan


def test_maxby_uses_window_group_limit(spark, sf_dir):
    """group-by maxby compiles to row_number + WindowGroupLimit: the
    top-1-per-key is taken partially BEFORE the shuffle (map-side), so
    shuffle volume is one row per key per input partition."""
    plan = plan_of(spark, sf_dir, "group_maxby")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_dim_joins_broadcast(spark, sf_dir):
    """customer⋈nation⋈region must broadcast both dims — no shuffle of
    the fact side."""
    plan = plan_of(spark, sf_dir, "join_broadcast_dims")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    # exchange-count pin (round 6, VERDICT r5 item 3): exactly one
    # SHUFFLE exchange (the final agg) — both dim joins move only
    # broadcast exchanges, so the fact side is never repartitioned.
    # (The r5 +12% bench blip re-measured as session-warmth noise:
    # isolated best-of-7 warm-in 0.94 s -> 0.57 s, plan unchanged.)
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, f"expected 1 shuffle exchange, plan has {shuffles}"


def test_group_agg_is_partial(spark, sf_dir):
    """All-column reductions must map-side combine (partial_ aggregates)
    so shuffle volume is per-key, not per-row."""
    plan = plan_of(spark, sf_dir, "group_all_sum")
    assert "partial_sum" in plan


def test_hot_key_agg_one_shuffle_over_partials(spark, sf_dir):
    """salted_group_sum is a direct groupBy: one shuffle exchange, with
    the map-side partial_sum and partial_count below it. The partials
    are what keep a hot key from sending all its rows to one task."""
    plan = plan_of(spark, sf_dir, "salted_group_sum")
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, f"expected 1 shuffle exchange, plan has {shuffles}"
    above, below = plan.split("Exchange hashpartitioning")
    assert "partial_sum" in below and "partial_count" in below
    assert "partial_" not in above


def test_partitioned_window_keeps_keyed_shuffle(spark, sf_dir):
    """moving over raw events uses a keyed window — the shuffle is
    hash-partitioned by the key, never a single global sort."""
    plan = plan_of(spark, sf_dir, "moving_partitioned")
    assert "hashpartitioning(event_type" in plan
    assert "SinglePartition" not in plan.split("Window")[0]


def test_pivot_aggregates_partially(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "pivot_count")
    assert "partial_" in plan


# The ONLY sanctioned Python in a query path: Arrow-batched kernels
# whose per-element logic genuinely can't stay JVM-side — the
# embedding-LSH sign matmul (dense linear algebra; structurally slower
# as an interpreted higher-order-function tree, see
# similarity.hyperplane_signs_arrow) and subword encoding (priority
# merge application / Viterbi DP are inherently per-word sequential,
# see functions/bpe.bpe_encode and functions/unigram.unigram_encode).
# Row-at-a-time Python stays banned everywhere.
ARROW_MATMUL_QUERIES = {
    "embedding_neardup_lsh",
    "semantic_dedup_keep",
    "ann_lsh_topk",
    "ann_lsh_fixture_exact",  # same Arrow sign matmul, injected planes
    "bpe_encode_words",
    "unigram_encode_fixture",
    # round 9: Unicode normalization — regex cannot express
    # codepoint composition/compatibility folding, so these are
    # sanctioned Arrow pandas_udfs (unicodedata), map-only, no shuffle
    "nfc_docs",
    "nfkc_fixture_exact",
    # round 12: byte-level BPE encode (per-pretoken sequential ranked
    # merges — the same sanction as bpe_encode_words) and the
    # char-trigram language-ID kernel (broadcast-size profile dict in
    # the closure; a literal CASE would trip the 64 KB codegen limit,
    # a profile-table join would shuffle the corpus for a per-row map)
    "byte_bpe_encode",
    "byte_token_pack",  # same byte-BPE encode kernel feeding the pack scan
    "lang_id_counts",
}

# The only sanctioned BroadcastNestedLoopJoins: a broadcast side that
# is tiny by construction — one row (corpus stats, min/max bounds,
# regression coefficients, a bitmap blob, a NOT-IN scalar), the nlist-
# row centroid table a query ranks (ann_ivf_topk), or the broadcast
# query side of the documented exact all-pairs baselines (cosine_topk,
# embedding_neardup_exact). Anything NEW showing a BNLJ is an
# accidental cross join until consciously added here.
BNLJ_ALLOWED = {
    # 1-row stats / scalar broadcasts
    "bm25_topk", "unigram_scores", "bigram_scores", "ccnet_buckets",
    "corpus_datasheet", "tfidf_top_terms",
    "kappa_labels",  # two 1-row aggregates (totals × pe) cross-joined
    "dsir_weights", "temperature_sample_docs", "histogram_prices",
    "linear_extrapolation", "bloom_decontaminate", "media_phash_pairs",
    "tpch_q2_mincost", "tpch_q11_stockvalue", "tpch_q16_suppcnt",
    "tpch_q20_promotion", "tpch_q22_opportunity",
    # bounded-small broadcast sides (see comment above)
    "cosine_topk", "embedding_neardup_exact", "ann_ivf_topk",
    # ann_recall_fixture: the recall METER — its ground truth IS the
    # documented cosine_topk exact-scan baseline (60-vector fixture
    # corpus, broadcast queries), so the BNLJ is the thing measured
    "ann_recall_fixture",
    # hard_negatives_topk: the same broadcast-query exact-scan baseline
    # as cosine_topk, with the different-label predicate inside
    "hard_negatives_topk",
    # PQ ADC: the broadcast side is the query SET (small by definition);
    # the corpus side scans only id + codes — the compressed-search shape
    "pq_adc_search", "pq_rerank_topk",
    # IVF-PQ: the only BNLJ is queries × broadcast CENTROIDS (nlist
    # rows, kilobytes); the code-table probe itself is a keyed equi-join
    "ivf_pq_topk",
    # the round-7 hand-literal truth pins run the SAME two shapes above
    # on 4-row fixtures: same documented broadcast sides
    "pq_adc_fixture_exact", "ivf_pq_fixture_exact",
    # join pre-flight pricing: the only BNLJ is the 1-row total
    # broadcast back onto the key-sized count table
    "join_skew_stats",
}

# cosine_topk is the documented brute-force baseline: its broadcast
# hint makes it a BNLJ today, but a plain cartesian would also be its
# honest plan if the hint were ever dropped — keep the sanction the
# (removed) standalone cartesian test used to document.
CARTESIAN_ALLOWED = {"cosine_topk"}


# stream_tumbling_counts EXECUTES its micro-batches on build (the
# foreachBatch harness), so plan_of can't introspect it statically; its
# join/UDF hygiene is covered by tests/test_streaming.py instead of a
# per-run skip here.
PLAN_OPAQUE = {"stream_tumbling_counts"}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - PLAN_OPAQUE))
def test_no_python_udfs_in_any_query(spark, sf_dir, name):
    """Every catalog query stays JVM-side and join-sane: no
    row-at-a-time or Arrow Python evaluation anywhere (the multimodal
    mapInPandas operators are intentionally not catalog queries) except
    the allowlisted Arrow-matmul LSH sign stage; never a
    CartesianProduct; BroadcastNestedLoopJoin only where a 1-row
    broadcast or a documented exact baseline justifies it."""
    plan = plan_of(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan
    if name not in ARROW_MATMUL_QUERIES:
        assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    if name not in CARTESIAN_ALLOWED:
        assert "CartesianProduct" not in plan
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan


def test_slice_prunes_scan(spark, sf_dir):
    """Early projection reaches the reader: slicing two columns must
    produce a two-column ReadSchema (the reference prunes by hand for
    memory, `General.fs:42-49`; here the scan itself shrinks)."""
    from hobbes_spark.pipeline import Pipeline

    p = Pipeline.table(spark, sf_dir, "orders").slice_columns(
        "o_orderkey", "o_totalprice"
    )
    plan = p.df._jdf.queryExecution().executedPlan().toString()
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in scan and "o_totalprice" in scan
    assert "o_orderstatus" not in scan and "o_orderdate" not in scan


def test_hash_sample_is_pruned_map_only(spark, sf_dir):
    """Deterministic sampling must stay a shuffle-free scan filter with
    column pruning down to the selected output columns."""
    plan = plan_of(spark, sf_dir, "hash_sample_docs")
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in scan and "text" not in scan  # text column not read
    assert "Exchange" not in plan  # no shuffle anywhere


def test_curate_tokenizes_once(spark, sf_dir):
    """The curation pipeline stages the token split in ONE projection;
    collapse back into per-consumer splits would re-run the regex split
    6x per row."""
    df = QUERIES["curate_corpus"].spark(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # the split expression appears exactly once in the whole plan
    assert opt.count("split(") == 1


def test_asof_catalog_single_shuffle(spark, sf_dir):
    """asof_attribution: the union+window plan shuffles once on the by
    key; a second exchange would mean the union or filter re-partitioned."""
    plan = plan_of(spark, sf_dir, "asof_attribution")
    assert plan.count("Exchange hashpartitioning") == 1


def test_pack_docs_single_shuffle(spark, sf_dir):
    """pack_docs runs BOTH windows (running sum by source, position by
    source+pack) and the per-pack agg on ONE hash exchange: partitioning
    by source already clusters (source, pack_id), so Spark must not
    re-shuffle for the finer keys."""
    plan = plan_of(spark, sf_dir, "pack_docs")
    assert plan.count("Exchange hashpartitioning") == 1


def test_unigram_vocab_agg_is_partial(spark, sf_dir):
    """The vocab count over exploded tokens must map-side combine —
    shuffle volume is per-distinct-token, not per-token-occurrence."""
    plan = plan_of(spark, sf_dir, "unigram_scores")
    assert "partial_count" in plan


def test_decontaminate_broadcasts_not_sorts(spark, sf_dir):
    """Both decontamination joins (gram semi-join, doc-id anti-join)
    must broadcast at this eval size — a SortMergeJoin of the training
    gram stream would be the 100 TB bottleneck."""
    plan = plan_of(spark, sf_dir, "decontaminate_docs")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_repetition_gate_is_aggregate_shaped(spark, sf_dir):
    """The top-bigram mode inside prepare_corpus must run as explode +
    partial aggregate. The per-row HOF formulation lets a filter on
    keep_repetition predicate-push below the staged projections and
    re-inline the bigram array per distinct element (measured: minutes
    instead of ~1 s on 500 docs). Asserted on the gate sub-plan
    directly: prepare_corpus localCheckpoints the gated slice (plan
    truncation is the point there), so the full query's plan no longer
    shows these stages."""
    from pyspark.sql import functions as F

    from hobbes_spark.functions.curation import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = repetition_stats(docs, "text").filter(F.col("keep_repetition"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert "Generate explode" in plan


def test_classifier_broadcasts_weights_single_doc_shuffle(spark, sf_dir):
    """The weight table must broadcast (a model of a few KB against a
    corpus of any size) and the corpus side must shuffle exactly once —
    the keyed per-doc pooling agg, partial map-side."""
    plan = plan_of(spark, sf_dir, "classifier_scores")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # one corpus shuffle: pooling by doc_id (the weight broadcast adds
    # a broadcast exchange, not a shuffle exchange, on the corpus path)
    assert plan.count("Exchange hashpartitioning") == 1


def test_tfidf_df_from_window_no_vocab_join(spark, sf_dir):
    """Document frequency must come from a count window over the
    aggregated (doc, term) rows — no join against a vocabulary table,
    no count-distinct expansion."""
    plan = plan_of(spark, sf_dir, "tfidf_top_terms")
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan  # tf agg combines map-side


def test_duplicate_ngram_no_count_distinct(spark, sf_dir):
    """Docs-per-gram must be a plain count window over per-(doc, gram)
    rows, not a count-distinct (which would expand every gram
    occurrence into the shuffle)."""
    plan = plan_of(spark, sf_dir, "duplicate_ngram_frac")
    assert "distinct" not in plan.lower().replace("array_distinct", "")
    assert "partial_count" in plan


def test_dedup_spans_no_hof_scan_no_distinct(spark, sf_dir):
    """Span removal must be the explode/anti-join plan: one uniform
    gram-hash window, covered-token drop via anti-join (no DISTINCT
    shuffle on removed indices), no nested-loop joins, and no Python
    in the row path."""
    plan = plan_of(spark, sf_dir, "dedup_spans")
    assert "hashpartitioning(g#" in plan         # gram window, uniform key
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "distinct" not in plan.lower().replace("array_distinct", "")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q3_topk_is_take_ordered_with_broadcast_dim(spark, sf_dir):
    """TPC-H Q3 shape: the date cuts reach the scans, the filtered
    customer dimension broadcasts, the aggregate combines map-side, and
    the top-10 is a TakeOrdered (heap per partition + driver merge) —
    never a global sort of the aggregate."""
    plan = plan_of(spark, sf_dir, "tpch_q3_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "partial_sum" in plan
    assert "GreaterThan(l_shipdate" in plan  # pushed to the lineitem scan
    assert "LessThan(o_orderdate" in plan  # pushed to the orders scan


def test_q5_region_collapses_dims_into_broadcasts(spark, sf_dir):
    """TPC-H Q5 shape: region→nation→supplier fold into broadcast joins
    (no shuffle on the dimension chain); the only non-broadcast work is
    fact-side, and aggregation is partial-then-final."""
    plan = plan_of(spark, sf_dir, "tpch_q5_region")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "partial_sum" in plan
    assert "EqualTo(r_name,ASIA)" in plan  # region filter at its scan


def test_jaccard_prefix_join_no_cartesian(spark, sf_dir):
    """The prefix-filter join must stay an equi-join on the prefix
    token — never a nested-loop/cartesian pair enumeration — and the
    exact verify must aggregate partially."""
    plan = plan_of(spark, sf_dir, "jaccard_prefix_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q7_single_fact_shuffle_dims_broadcast(spark, sf_dir):
    """TPC-H Q7 shape: both nation-dim chains collapse to broadcasts;
    the ONE hash-partitioned exchange pair is the lineitem⋈orders fact
    join; aggregation partial-combines."""
    plan = plan_of(spark, sf_dir, "tpch_q7_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan or "ShuffledHashJoin" not in plan
    assert "partial_sum" in plan


def test_q18_aggregates_before_joins(spark, sf_dir):
    """TPC-H Q18 shape: the quantity HAVING-gate must run on the
    aggregated fact BEFORE any join touches orders/customer — the plan
    shows the sum filter applied over the aggregate, not post-join."""
    plan = plan_of(spark, sf_dir, "tpch_q18_big_orders")
    agg_pos = plan.find("partial_sum")
    join_pos = plan.find("Join")
    assert agg_pos != -1
    assert "BroadcastHashJoin" in plan


def test_q1_single_scan_partial_agg(spark, sf_dir):
    """TPC-H Q1: one scan, shipdate pushed, partial aggregation — no
    joins, no window, no second exchange."""
    plan = plan_of(spark, sf_dir, "tpch_q1_pricing")
    assert "Join" not in plan
    assert "partial_sum" in plan
    assert "LessThanOrEqual(l_shipdate" in plan


def test_cms_bounded_state_and_broadcast_estimate(spark, sf_dir):
    """Heavy hitters: the sketch side joins as a BROADCAST (cells are
    depth x width bounded), candidates aggregate partially, and no
    Python appears anywhere."""
    plan = plan_of(spark, sf_dir, "cms_top_terms")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_exact_no_sort_prunes_payload(spark, sf_dir):
    """Exact dedup prunes the text payload out of the aggregate: the
    query projects only (doc_id, source), so text must never appear as
    an aggregated VALUE — Catalyst drops the unreferenced per-column
    min_by aggregates. The round-4 single-pass rewrite's ordering key
    (CASE WHEN isnull(text) ...) legitimately NAMES text, but it is
    evaluated map-side to a bigint before the exchange, so no text
    bytes are shuffled either way; the assertion therefore targets the
    aggregate value slot, not the whole line."""
    plan = plan_of(spark, sf_dir, "dedup_exact")
    assert "min_by" in plan
    agg_lines = [l for l in plan.splitlines() if "min_by" in l]
    assert agg_lines and all("min_by(text" not in l for l in agg_lines)
    # no Window/global Sort formulation crept back in
    assert "Window" not in plan


def test_q6_scan_only_no_join_pushed_range(spark, sf_dir):
    """TPC-H Q6 is the pushdown litmus test: no join anywhere, the
    shipdate range and quantity bound reach the parquet scan as
    PushedFilters, the scan reads only the 4 referenced columns, and
    the single aggregate partial-combines (the only exchange is the
    1-row final merge)."""
    plan = plan_of(spark, sf_dir, "tpch_q6_forecast")
    assert "Join" not in plan
    assert "partial_sum" in plan
    # PushedFilters is truncated in toString(); assert via the Filter
    # node and the scan's pushdown prefix instead
    assert ">= 1996-01-01 00:00:00)" in plan
    assert "< 24.0)" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in scan and "l_partkey" not in scan


def test_q4_exists_is_left_semi(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS compiles to a LeftSemi join — never a
    join-then-distinct — and the date window prunes orders at its
    scan."""
    plan = plan_of(spark, sf_dir, "tpch_q4_priority")
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan
    assert ">= 1996-01-01 00:00:00)" in plan


def test_q13_aggregates_orders_before_outer_join(spark, sf_dir):
    """TPC-H Q13 shape: per-customer order counts aggregate BEFORE the
    outer join (one row per customer into the join, skew-immune), and
    the outer join survives in the plan."""
    plan = plan_of(spark, sf_dir, "tpch_q13_custdist")
    assert "LeftOuter" in plan
    # the orders-side aggregate sits below the join: partial_count on
    # o_custkey appears in the plan (aggregate-then-join, not join-all)
    assert "partial_count" in plan


def test_q17_decorrelates_with_broadcasts(spark, sf_dir):
    """TPC-H Q17 shape: the correlated avg subquery decorrelates into
    per-part stats that BROADCAST back; the part filter broadcasts
    into lineitem; nothing sort-merges."""
    plan = plan_of(spark, sf_dir, "tpch_q17_smallqty")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_q19_part_disjunction_prefilters_before_broadcast(spark, sf_dir):
    """TPC-H Q19 shape: the hand-factored part-side disjunction reaches
    the part scan (brand/size bands pushed), the join is a broadcast,
    and the derived quantity envelope prunes lineitem at its scan."""
    plan = plan_of(spark, sf_dir, "tpch_q19_disjuncts")
    assert "BroadcastHashJoin" in plan
    assert "= Brand#12)" in plan  # part-side disjunction at the part scan
    assert ">= 1.0)" in plan and "<= 30.0)" in plan  # quantity envelope


def test_q8_q9_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    """TPC-H Q8/Q9 shapes: every dimension chain collapses into a
    broadcast; at most ONE shuffled join (lineitem⋈orders) remains."""
    for name in ("tpch_q8_mktshare", "tpch_q9_profit"):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") >= 3, name
        shuffled = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
        assert shuffled <= 1, name
        assert "partial_sum" in plan, name


def test_q21_one_grouped_pass_replaces_double_exists(spark, sf_dir):
    """TPC-H Q21 shape: the EXISTS / NOT EXISTS self-join pair is ONE
    grouped pass (two distinct aggregates → Expand), supplier names
    broadcast, and no cartesian anything."""
    plan = plan_of(spark, sf_dir, "tpch_q21_waiting")
    assert "Expand" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_after_scalar_broadcast(spark, sf_dir):
    """TPC-H Q22 shape: NOT EXISTS compiles to LeftAnti on the customer
    key; the scalar avg rides a 1-row broadcast; the orders probe side
    is date-pruned at its scan."""
    plan = plan_of(spark, sf_dir, "tpch_q22_opportunity")
    assert "LeftAnti" in plan
    assert ">= 2000-01-01 00:00:00)" in plan


def test_batch_sessions_single_exchange(spark, sf_dir):
    """Gap sessionization: the lag window, the running session-number
    sum, and the (user, session) rollup must all ride ONE user_id
    exchange — the agg keys are a superset of the window partition key,
    so Spark reuses the partitioning instead of re-shuffling."""
    plan = plan_of(spark, sf_dir, "batch_sessions")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_funnel_stages_stay_keyed(spark, sf_dir):
    """Conversion funnel: every stage joins and aggregates on user_id —
    no cartesian anything, no global sort, and each stage's aggregate
    partial-combines."""
    plan = plan_of(spark, sf_dir, "funnel_conversion")
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan


# Queries allowed to contain a cartesian/nested-loop pair enumeration:
# cosine_topk is the DOCUMENTED exact brute-force baseline (its scale
# paths are ann_lsh/ann_ivf). Everything else must stay equi-keyed;
# 1-row scalar broadcasts compile to BroadcastNestedLoopJoin, which is
# fine (bounded), so only CartesianProduct is banned.
# (the standalone cartesian walk merged into
# test_no_python_udfs_in_any_query above — one plan computation instead
# of two over the whole catalog; CARTESIAN_ALLOWED lives there too)


def test_q2_q11_partsupp_shapes(spark, sf_dir):
    """TPC-H Q2/Q11: decorrelated MIN and scalar-total HAVING — the
    supplier-side dims and the 1-row total broadcast; no cartesian
    beyond the sanctioned 1-row scalar joins."""
    for name in ("tpch_q2_mincost", "tpch_q11_stockvalue"):
        plan = plan_of(spark, sf_dir, name)
        assert plan.count("BroadcastHashJoin") >= 1, name
        assert "CartesianProduct" not in plan, name


def test_q16_anti_join_and_distinct_agg(spark, sf_dir):
    """TPC-H Q16: the NOT IN exclusion list compiles to a broadcast
    LeftAnti, and the distinct supplier count stays a partial-capable
    hash aggregate (a single distinct agg needs no Expand — the key
    folds into the grouping of the first phase)."""
    plan = plan_of(spark, sf_dir, "tpch_q16_suppcnt")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "count(distinct" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final phases


def test_q20_semi_shape_no_second_fact_scan(spark, sf_dir):
    """TPC-H Q20: lineitem is scanned once (the shipped aggregate) with
    the date range pushed to the scan; red parts broadcast."""
    plan = plan_of(spark, sf_dir, "tpch_q20_promotion")
    # part appears twice (partsupp synth + red slice), supplier twice
    # (count scalar + final enrich) — but the FACT table scans ONCE
    assert plan.count("FileScan parquet") <= 6
    assert plan.count("lineitem.parquet") == 1
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "BroadcastHashJoin" in plan


def test_hb_gandalf_maxby_is_windowgrouplimit_one_exchange(spark, sf_dir):
    """The .hb front-end's two-key maxby must compile to the map-side
    WindowGroupLimit (each task keeps its own per-group best row before
    the shuffle), the event_type filter pushes to the scan, and the scan
    prunes to the 4 referenced columns — exactly one exchange total."""
    plan = plan_of(spark, sf_dir, "hb_gandalf_state")
    assert "WindowGroupLimit" in plan
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" in scan and "value" not in scan and "ts" not in scan
    assert sum(
        1 for l in plan.splitlines() if "Exchange" in l and "Reused" not in l
    ) == 1


def test_hb_mttr_windows_after_aggregation(spark, sf_dir):
    """hb_mttr's moving means run on the tiny post-aggregation sprint
    series (reference semantics: a handful of rows), never on the fact:
    the only Window over the raw orders columns is the maxby
    WindowGroupLimit; the global-order frames appear only above the
    SprintNumber aggregate."""
    plan = plan_of(spark, sf_dir, "hb_mttr")
    assert "WindowGroupLimit" in plan  # maxby fold, map-side
    # the moving-mean window orders by the aggregated sprint key, not a
    # raw fact column
    frames = [l for l in plan.splitlines()
              if "windowspecdefinition" in l and "RowFrame, -" in l]
    assert frames and all("SprintNumber" in l for l in frames)


def test_hb_commit_frequency_scan_reads_only_ts(spark, sf_dir):
    """The date-part OR filter folds into the scan and column pruning
    leaves a single-column read — the 100 TB shape for a count-by-day."""
    plan = plan_of(spark, sf_dir, "hb_commit_frequency")
    scan = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" in scan and "props" not in scan and "user_id" not in scan


def test_lsh_candidate_stats_has_no_join(spark, sf_dir):
    """The count-only LSH probe must never enumerate a pair: its plan
    is banding + two keyed aggregations — NO join of any kind (that is
    the whole point of gating scale on it), and the bucket aggregation
    combines map-side (partial before the exchange)."""
    plan = plan_of(spark, sf_dir, "lsh_candidate_stats")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "partial_count" in plan or ("Partial" in plan and "Final" in plan)


def test_minhash_star_edges_single_equi_join(spark, sf_dir):
    """Star-edge generation joins the banded rows back to bucket hubs
    on the SAME (band, band_key) key: exactly one equi-join, never a
    nested-loop/cartesian, and the k>=2 hub filter sits under it."""
    plan = plan_of(spark, sf_dir, "minhash_star_edges")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") + plan.count(
        "BroadcastHashJoin"
    )
    assert joins == 1, f"expected exactly one equi-join, saw {joins}"


def test_python_boundary_ships_only_consumed_columns(spark):
    """r13: mapInPandas ships EVERY input column to the Python worker
    (column pruning cannot see into the function body), so each decoder
    projects to the columns it reads before crossing.  A wide caller
    frame must not widen the Arrow boundary — pin the MapInPandas input
    list for one of each flavor: hardcoded (media_id, content), the
    mime-consuming image decoder, and a param-named (id_col,
    content_col) parser."""
    import re

    from pyspark.sql import functions as F

    from hobbes_spark.functions.extract import extract_text_any
    from hobbes_spark.functions.multimodal import (
        audio_wav_features,
        decode_image_meta,
    )

    media = spark.createDataFrame(
        [(1, "image/png", bytearray(b"RIFF")), (2, "image/png", None)],
        "media_id long, mime string, content binary",
    )
    wide = media.withColumn("url", F.lit("u")).withColumn(
        "huge_payload_twin", F.lit("x")
    )

    def boundary_cols(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        line = next(l for l in plan.splitlines() if "MapInPandas" in l)
        return re.findall(r"(\w+)#\d+", line.split("]", 1)[0].split("(", 1)[1])

    assert boundary_cols(audio_wav_features(wide))[:2] == ["media_id", "content"]
    assert "huge_payload_twin" not in boundary_cols(audio_wav_features(wide))
    assert boundary_cols(decode_image_meta(wide))[:3] == [
        "media_id", "mime", "content",
    ]
    assert "url" not in boundary_cols(decode_image_meta(wide))
    got = boundary_cols(extract_text_any(wide))
    assert "huge_payload_twin" not in got and "url" not in got


def test_let_spelling_single_evaluation_survives_optimizer(spark, sf_dir):
    """r14 (ADVICE r13): the single-evaluation guarantee of the
    transform-over-one-element-array ("let") spelling — used by
    simhash60, lang_id_t, main_content_blocks and _keep_scored_pairs —
    rests on Catalyst not inlining through higher-order functions.
    That is optimizer-version behavior a Spark upgrade could silently
    revert, re-introducing the measured 2-30x r13 regressions with no
    result changing. Pin the count of the expensive sub-expression in
    the optimized plan for one representative query per pattern: a
    re-inline multiplies these (md5 1 -> 60 in simhash's vote folds,
    tokenize split 8 -> ~19 in lang_id's argmax, array_intersect
    2 -> 4+ in the scored-pairs threshold)."""
    # simhash60: ONE tokenize+md5 transform feeding all 60 vote folds
    plan = plan_of(spark, sf_dir, "simhash_fingerprints")
    assert plan.count("md5") == 1, plan
    assert plan.count("aggregate(") >= 60  # the folds themselves remain
    # lang_id_t: marker counts bound once — tokenize appears per marker
    # filter over the BOUND array, never per argmax reference
    plan = plan_of(spark, sf_dir, "lang_id_counts")
    assert plan.count("split(") <= 8, plan.count("split(")
    assert plan.count("regexp_extract_all") <= 2
    # main_content_blocks: block scoring staged, not per-output-column
    plan = plan_of(spark, sf_dir, "main_content_stats")
    assert plan.count("regexp_extract_all") <= 1
    # _keep_scored_pairs: the pair score must not be duplicated into a
    # pushed-down Filter below the scoring projection
    plan = plan_of(spark, sf_dir, "ngram_jaccard_pairs")
    assert plan.count("array_intersect") <= 2, plan.count("array_intersect")
