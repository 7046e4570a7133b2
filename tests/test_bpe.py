"""BPE vocabulary learning + application (`functions/bpe.py`) vs the
published algorithm (Sennrich et al. 2016, §3.2's worked example
family)."""

from __future__ import annotations

import pytest


from hobbes_spark.functions.bpe import (
    END_TOKEN,
    bpe_encode,
    learn_bpe,
    word_frequencies,
)


def _wf(spark, pairs):
    return spark.createDataFrame(pairs, "word string, freq bigint")


def test_learns_the_textbook_merges(spark):
    """The classic corpus: {low:5, lower:2, newest:6, widest:3}.
    Highest-count first merges are (e,s)->es then (es,t)->est then
    (est,</w>) — the paper's worked sequence."""
    wf = _wf(spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)])
    merges = learn_bpe(wf, num_merges=4).collect()
    got = [(r["rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"]) for r in merges]
    assert got[0] == (0, "e", "s", "es", 9)
    assert got[1] == (1, "es", "t", "est", 9)
    assert got[2] == (2, "est", END_TOKEN, "est</w>", 9)
    # rank 3: (l,o) spans low(5)+lower(2) = 7, beating every count-6
    # 'newest' adjacency — the paper's next merge
    assert got[3] == (3, "l", "o", "lo", 7)


def test_greedy_overlap_and_early_stop(spark):
    # 'aaaa' has 3 adjacent (a,a) positions, weighted count 3; greedy
    # rewrite merges non-overlapping left-to-right -> [aa, aa, </w>]
    wf = _wf(spark, [("aaaa", 1)])
    merges = learn_bpe(wf, num_merges=10, min_count=2).collect()
    assert (merges[0]["lhs"], merges[0]["rhs"], merges[0]["pair_count"]) == ("a", "a", 3)
    # after (a,a) and (aa,aa) there is nothing with count >= 2: early stop
    assert len(merges) < 10
    ranks = [r["rank"] for r in merges]
    assert ranks == list(range(len(ranks)))


def test_word_frequencies_prune_and_validation(spark):
    docs = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a  b"), (3, None), (4, "   ")],
        "doc_id long, text string",
    )
    wf = {r["word"]: r["freq"] for r in word_frequencies(docs, "text").collect()}
    assert wf == {"a": 3, "b": 4, "c": 1}  # NULL/blank docs contribute nothing
    top = word_frequencies(docs, "text", max_words=2).collect()
    assert [r["word"] for r in top] == ["b", "a"]  # freq DESC, word ASC
    with pytest.raises(ValueError, match="num_merges"):
        learn_bpe(word_frequencies(docs, "text"), 0)


def test_encode_applies_merges_in_rank_order(spark):
    wf = _wf(spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)])
    merges = [(r["lhs"], r["rhs"]) for r in learn_bpe(wf, num_merges=6).collect()]
    df = spark.createDataFrame(
        [(1, "newest lowest"), (2, None), (3, "")], "id long, text string"
    )
    out = {r["id"]: r["toks"] for r in
           bpe_encode(df, "text", merges, out_col="toks").collect()}
    # 'newest' fully segments through the learned merges; 'lowest' (not
    # in the corpus) reuses est</w> — subwords generalize
    assert out[2] == [] and out[3] == []
    toks = out[1]
    # segmentation invariant: concatenation restores the words + </w>
    assert "".join(toks) == "newest" + END_TOKEN + "lowest" + END_TOKEN
    assert "est" + END_TOKEN in toks  # the learned subword is reused
    # deterministic across runs
    again = {r["id"]: r["toks"] for r in
             bpe_encode(df, "text", merges, out_col="toks").collect()}
    assert again[1] == toks


def test_encode_is_arrow_batched(spark):
    # encode is the sanctioned Arrow batch path, never row-at-a-time
    df = spark.createDataFrame([(1, "low")], "id long, text string")
    eplan = bpe_encode(df, "text", [("l", "o")])._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in eplan and "BatchEvalPython" not in eplan


def test_learn_bpe_runs_one_spark_job(spark):
    """Merge learning is driver-local over the bounded word-frequency
    table: exactly ONE Spark job (the vocab collect) regardless of
    num_merges. The previous factoring ran one job per merge round —
    30k+ sequential jobs at a production vocabulary."""
    wf = _wf(spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3),
                     ("lowest", 4), ("newer", 3), ("wider", 2), ("news", 5)])
    sc = spark.sparkContext
    sc.setJobGroup("bpe-learn", "count jobs for learn_bpe")
    try:
        out = learn_bpe(wf, num_merges=12)
    finally:
        sc.setJobGroup("bpe-after", "outside the counted window")
    assert len(out.collect()) > 0  # materialize outside the group
    ids = sc.statusTracker().getJobIdsForGroup("bpe-learn")
    assert len(ids) == 1, f"learn_bpe ran {len(ids)} jobs; must be exactly 1"


def test_trainers_write_no_session_conf(spark, conf_writes):
    """The bounded vocab collect takes a sorted top-k instead of raising
    a session-global limit conf: a job running concurrently on the same
    SparkSession (sync's thread pool) must never see a value it did not
    set, and the merges learned stay the same."""
    from hobbes_spark.functions.bpe import learn_byte_bpe
    from hobbes_spark.functions.unigram import learn_unigram_lm

    wf = _wf(spark, [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)])
    merges = learn_bpe(wf, num_merges=4).collect()
    assert [(r["lhs"], r["rhs"]) for r in merges] == [
        ("e", "s"), ("es", "t"), ("est", END_TOKEN), ("l", "o")
    ]
    assert learn_byte_bpe(wf, num_merges=3).count() == 3
    assert learn_unigram_lm(wf, vocab_size=12).count() > 0
    assert conf_writes == []


# --------------------------------------------------------------------- #
# byte-level BPE (GPT-2 family)
# --------------------------------------------------------------------- #


def test_bytes_to_unicode_is_a_bijection():
    from hobbes_spark.functions.bpe import bytes_to_unicode

    table = bytes_to_unicode()
    assert len(table) == 256 and len(set(table.values())) == 256
    # printable bytes map to themselves; space is the canonical Ġ
    assert table[ord("!")] == "!" and table[ord("~")] == "~"
    assert table[0x20] == "Ġ" and table[0x0A] == "Ċ"


def test_pretokenize_partitions_and_gpt2_shapes():
    from hobbes_spark.functions.bpe import pretokenize

    for t in ("héllo wörld", "  a_b--c 12x", "日本語 test", "", "don't",
              "tab\tthen  2  spaces ", "trailing   "):
        assert "".join(pretokenize(t)) == t
    assert pretokenize("don't stop") == ["don", "'t", " stop"]
    assert pretokenize("x  y") == ["x", " ", " y"]  # \s+(?!\S) keeps one


def test_byte_bpe_hand_computed_pin(spark):
    """UTF-8 multi-byte split and re-merge: 'é' is two bytes (Ã ©);
    the hand-ordered merges rebuild it, then the word, then attach the
    leading-space Ġ — case/space-preserving, no END_TOKEN."""
    from hobbes_spark.functions.bpe import byte_bpe_decode, byte_bpe_encode

    merges = [("Ã", "©"), ("h", "Ã©"), ("l", "l"), ("hÃ©", "ll")]
    df = spark.createDataFrame(
        [(1, "héllo héllo"), (2, "Héllo!"), (3, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["bpe_tokens"]
           for r in byte_bpe_encode(df, "text", merges).collect()}
    assert got[1] == ["hÃ©ll", "o", "Ġ", "hÃ©ll", "o"]
    # capital H blocks (h,Ã©), so rank-1 never fires and there is no
    # (Ã©,ll) merge in the table: é and ll merge separately
    assert got[2] == ["H", "Ã©", "ll", "o", "!"]
    assert got[3] == []
    assert byte_bpe_decode(got[1]) == "héllo héllo"
    assert byte_bpe_decode(got[2]) == "Héllo!"


def test_learn_byte_bpe_matches_hand_loop(spark):
    """Freq table {Ġlow:5, Ġlower:2}: pair counts are (Ġ,l)=7 (l,o)=7
    (o,w)=7 (w,e)=2 (e,r)=2 — ties break lexicographically ascending,
    so rank 0 is (l,o) ['l'<'o'<'Ġ' in code-point order... 'Ġ'=U+0120
    sorts AFTER ascii], then merges cascade."""
    from hobbes_spark.functions.bpe import learn_byte_bpe

    wf = spark.createDataFrame(
        [("Ġlow", 5), ("Ġlower", 2)], "word string, freq bigint")
    merges = learn_byte_bpe(wf, num_merges=3).collect()
    got = [(r["rank"], r["lhs"], r["rhs"], r["pair_count"]) for r in merges]
    assert got[0] == (0, "l", "o", 7)
    assert got[1] == (1, "lo", "w", 7)
    assert got[2] == (2, "Ġ", "low", 7)


def test_byte_word_frequencies_preserves_case_and_space(spark):
    from hobbes_spark.functions.bpe import byte_word_frequencies

    docs = spark.createDataFrame(
        [(1, "Ab ab"), (2, "ab"), (3, None)], "doc_id long, text string")
    wf = {r["word"]: r["freq"]
          for r in byte_word_frequencies(docs, "text").collect()}
    # 'Ab' stays capitalized; ' ab' carries the Ġ prefix; bare 'ab' once
    assert wf == {"Ab": 1, "Ġab": 1, "ab": 1}


def test_byte_bpe_round_trips_arbitrary_text(spark):
    from hobbes_spark.functions.bpe import byte_bpe_decode, byte_bpe_encode

    texts = [
        "mixed CASE text", "emoji 🎉🎈 and 中文",
        "control\tchars\nnewlines\r\n", "  leading and trailing  ",
        "naïve café — em—dash", "null-ish \x01\x02 bytes",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = byte_bpe_encode(df, "text", [("Ã", "©"), ("e", "x")]).collect()
    for r in got:
        assert byte_bpe_decode(r["bpe_tokens"]) == texts[r["doc_id"]]
