"""Byte-pair-encoding vocabulary learning and application (Sennrich,
Haddow & Birch 2016, "Neural Machine Translation of Rare Words with
Subword Units" — the tokenizer-training step of an LLM data pipeline).

Scale shape — the part that matters at 100 TB:

* :func:`word_frequencies` is the ONE corpus-sized pass (token explode →
  keyed count). Everything after runs on the distinct-word table, whose
  size is bounded by ``max_words`` — so merge learning costs the same on
  100 TB as on 100 MB once frequencies exist. This is the standard
  factoring (SentencePiece/fastBPE likewise learn from a pruned
  word-frequency table).
* :func:`learn_bpe` collects that bounded table ONCE (vocab-sized by
  the ``max_words`` prune — kilobytes, not corpus-sized) and learns all
  merges driver-local with fastBPE-style incremental pair counts: after
  each merge only the words that *contain* the merged pair are
  rewritten and re-counted. This is exactly one Spark job per call
  regardless of ``num_merges`` — the previous factoring ran one job +
  driver round-trip PER merge, which at a production vocabulary
  (30k–50k merges) is hours of pure scheduler latency on a table that
  never changes size. SentencePiece/fastBPE learn from the same pruned
  frequency table in-process for the same reason.
* :func:`bpe_encode` applies a learned merge list to text. Applying
  ~10k ordered merges is inherently per-word sequential, so this is the
  sanctioned Arrow escape hatch: a pandas_udf with the rank-dict
  algorithm and a per-batch word cache (Zipf makes the cache hit rate
  ~99%), never a row-at-a-time Python UDF.

Determinism (what lets a DuckDB oracle replay the learning loop
bit-for-bit, the unrolled-CTE precedent of ``kmeans_clusters``): pair
selection orders by (count DESC, left ASC, right ASC) — binary string
order in both engines — and the rewrite is the greedy left-to-right
merge both implementations of record use.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from hobbes_spark.expressions import c
from hobbes_spark.functions.text import tokens

__all__ = [
    "END_TOKEN", "word_frequencies", "learn_bpe", "bpe_encode",
    "bytes_to_unicode", "pretokenize", "byte_word_frequencies",
    "learn_byte_bpe", "byte_bpe_encode", "byte_bpe_decode",
]

END_TOKEN = "</w>"


def word_frequencies(
    df: DataFrame,
    text_col: str = "text",
    max_words: int | None = None,
    min_freq: int = 1,
) -> DataFrame:
    """Corpus → ``(word, freq)``: lower-cased whitespace words, counted.
    ``max_words`` keeps the top-N by (freq DESC, word ASC) — the
    deterministic prune that bounds every later stage."""
    wf = (
        df.select(F.explode(tokens(F.lower(c(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    if min_freq > 1:
        wf = wf.filter(F.col("freq") >= min_freq)
    if max_words is not None:
        wf = wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)
    return wf


def bounded_vocab_rows(word_freq: DataFrame, max_vocab: int, caller: str) -> list:
    """GUARDED driver collect of a ``(word, freq)`` table: collect at
    most ``max_vocab + 1`` rows in ONE Spark job and raise a clear error
    if the extra row exists — a caller who forgot to bound the table
    (``word_frequencies(max_words=...)``) fails fast instead of OOMing
    the driver at 100 TB.  The rows are the top ``max_vocab + 1`` by
    (freq DESC, word ASC): a sorted limit plans as a driver-merged top-k
    over every partition in one pass, without touching session conf.
    The trainers never depend on the row order (merge ties break on
    ``(count desc, pair asc)``, unigram counts are order-free sums)."""
    if max_vocab < 1:
        raise ValueError(f"{caller}: max_vocab must be >= 1, got {max_vocab}")
    rows = (
        word_freq.select("word", "freq")
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(max_vocab + 1)
        .collect()
    )
    if len(rows) > max_vocab:
        raise ValueError(
            f"{caller}: word_freq has more than max_vocab={max_vocab} "
            "rows — bound it first (word_frequencies(max_words=...)) or "
            "raise max_vocab explicitly"
        )
    return rows


def _greedy_merge(syms: list[str], left: str, right: str, merged: str) -> list[str]:
    """Greedy left-to-right merge of adjacent (left, right) → merged —
    the overlap semantics of the implementations of record: in ``a a a``
    the pair (a,a) merges once (non-overlapping, leftmost first)."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def learn_bpe(
    word_freq: DataFrame,
    num_merges: int,
    min_count: int = 2,
    max_vocab: int = 1_000_000,
) -> DataFrame:
    """Learn ``num_merges`` BPE merges from a ``(word, freq)`` table.

    Returns the merge table ``(rank, lhs, rhs, merged, pair_count)`` —
    the artifact a tokenizer ships. Stops early when no pair reaches
    ``min_count`` (the paper's stopping criterion).

    Runs exactly ONE Spark job (the collect of the vocab-sized table);
    merge learning is driver-local with incremental pair-count updates
    (only words containing the winning pair are rewritten per round —
    the fastBPE factoring). Pair selection orders by
    (count DESC, lhs ASC, rhs ASC); Python code-point string order
    equals UTF-8 binary order, so a DuckDB oracle replays the loop
    bit-for-bit (the ``kmeans_clusters`` unrolled-CTE precedent)."""
    if num_merges < 1:
        raise ValueError(f"learn_bpe: num_merges must be >= 1, got {num_merges}")
    spark = word_freq.sparkSession
    # The ONE distributed step: the (word, freq) table is vocab-sized by
    # the word_frequencies(max_words=...) prune, so this collect is
    # bounded regardless of corpus size — and GUARDED (round 8): one row
    # past ``max_vocab`` proves an unbounded table and raises before the
    # driver materializes it.
    rows = bounded_vocab_rows(word_freq, max_vocab, "learn_bpe")
    vocab: list[tuple[list[str], int]] = [
        (list(r["word"]) + [END_TOKEN], int(r["freq"])) for r in rows
    ]
    merges = _learn_merges(vocab, num_merges, min_count)
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, pair_count bigint"
    )


def _learn_merges(
    vocab: list[tuple[list[str], int]], num_merges: int, min_count: int
) -> list[tuple]:
    """Driver-local incremental-pair-count merge learning over a
    symbolized vocab (the fastBPE factoring) — shared verbatim by the
    word-level (:func:`learn_bpe`, END_TOKEN symbols) and byte-level
    (:func:`learn_byte_bpe`, byte-unicode symbols) trainers, so the
    DuckDB replay of ``bpe_merges`` keeps pinning BOTH."""
    # pair -> total weighted count (every adjacent position counts, so
    # 'aaaa' contributes 3 to (a,a)); pair -> indices of words holding it
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for idx, (syms, freq) in enumerate(vocab):
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + freq
            pair_words.setdefault((a, b), set()).add(idx)

    merges: list[tuple] = []
    floor = max(min_count, 1)
    for rank in range(num_merges):
        best, best_count = None, None
        for pair, count in pair_counts.items():
            if count < floor:
                continue
            if (
                best is None
                or count > best_count
                or (count == best_count and pair < best)
            ):
                best, best_count = pair, count
        if best is None:
            break
        lhs, rhs = best
        merged = lhs + rhs
        merges.append((rank, lhs, rhs, merged, int(best_count)))

        # Rewrite only the words that contain the winning pair, adjusting
        # counts by (new pairs − old pairs) per word.
        for idx in list(pair_words.get(best, ())):
            syms, freq = vocab[idx]
            new_syms = _greedy_merge(syms, lhs, rhs, merged)
            old_pairs = list(zip(syms, syms[1:]))
            new_pairs = list(zip(new_syms, new_syms[1:]))
            for p in old_pairs:
                pair_counts[p] -= freq
            for p in new_pairs:
                pair_counts[p] = pair_counts.get(p, 0) + freq
            for p in set(old_pairs) - set(new_pairs):
                owners = pair_words.get(p)
                if owners is not None:
                    owners.discard(idx)
            for p in set(new_pairs) - set(old_pairs):
                pair_words.setdefault(p, set()).add(idx)
            vocab[idx] = (new_syms, freq)
        # the merged pair is fully consumed; drop its bookkeeping
        pair_counts.pop(best, None)
        pair_words.pop(best, None)

    return merges


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: Sequence[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply an ordered merge list: text → array of subword tokens.

    Arrow-batched pandas_udf (the sanctioned escape hatch — ~10k ordered
    merges are inherently per-word sequential), with a per-batch word
    cache; the merge-rank dict is captured once per executor, not
    per row. Output per document is the concatenation of its words'
    subword sequences, each word ending in ``</w>``."""
    ranks = {(l, r): i for i, (l, r) in enumerate(merges)}

    def encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        syms = list(word) + [END_TOKEN]
        while len(syms) > 1:
            best_rank, best_i = None, None
            for i in range(len(syms) - 1):
                rk = ranks.get((syms[i], syms[i + 1]))
                if rk is not None and (best_rank is None or rk < best_rank):
                    best_rank, best_i = rk, i
            if best_rank is None:
                break
            # apply the winning merge greedily left-to-right
            l, r = merges[best_rank]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        cache[word] = syms
        return syms

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        out = []
        for t in texts:
            if t is None or not str(t).strip():
                out.append([])
                continue
            toks: list[str] = []
            for w in str(t).strip().lower().split():
                toks.extend(encode_word(w, cache))
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, enc(c(text_col)))


# --------------------------------------------------------------------- #
# Byte-level BPE (GPT-2 family: Radford et al. 2019, "Language Models
# are Unsupervised Multitask Learners" §2.2; the byte/unicode table and
# pre-tokenizer shape are from the public GPT-2 reference tokenizer).
# Word-level BPE (above) cannot round-trip arbitrary UTF-8 — it
# lowercases, splits on whitespace only, and carries END_TOKEN — so
# token-budget numbers drift from what a real trainer sees (r11 verdict
# item 2).  Byte-level operates on a 256-symbol alphabet mapped to
# printable unicode, so ANY byte sequence encodes and decodes exactly.
# --------------------------------------------------------------------- #


def bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte↔unicode table: visibly-printable bytes map to
    themselves, the rest to U+0100+n — every byte gets a distinct
    PRINTABLE character so merge tables stay debuggable text and no
    byte is ever unrepresentable.  Deterministic and involution-free:
    :func:`byte_bpe_decode` inverts it exactly."""
    bs = (
        list(range(0x21, 0x7F))      # '!'..'~'
        + list(range(0xA1, 0xAD))    # '¡'..'¬'
        + list(range(0xAE, 0x100))   # '®'..'ÿ'
    )
    cs = list(bs)
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(0x100 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


_BYTE_ENC = bytes_to_unicode()
_BYTE_DEC = {c: b for b, c in _BYTE_ENC.items()}

# GPT-2's pre-tokenizer, re-expressed for stdlib `re` (no \p classes):
# contractions, optionally-space-prefixed letter runs ([^\W\d_] ≈ \p{L})
# and digit runs (\d ≈ \p{N} narrowed to Nd), punctuation runs
# ([^\w\s] plus '_', matching GPT-2's [^\s\p{L}\p{N}] which treats '_'
# as punctuation), then whitespace.  The alternation PARTITIONS any
# string — every character lands in exactly one pre-token — which is
# what makes encode→decode an exact round trip.
_PRETOK_RE = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+"
    r"| ?\d+"
    r"| ?(?:[^\w\s]|_)+"
    r"|\s+(?!\S)|\s+"
)


def pretokenize(text: str) -> list[str]:
    """GPT-2-style pre-token split; ``''.join(pretokenize(t)) == t``
    for every string ``t`` (property-tested)."""
    return _PRETOK_RE.findall(text)


def _to_byte_units(pretoken: str) -> str:
    return "".join(_BYTE_ENC[b] for b in pretoken.encode("utf-8"))


def byte_word_frequencies(
    df: DataFrame,
    text_col: str = "text",
    max_words: int | None = None,
    min_freq: int = 1,
) -> DataFrame:
    """Corpus → ``(word, freq)`` over BYTE-UNICODE pre-tokens: the one
    corpus-sized pass of byte-level training (same factoring as
    :func:`word_frequencies` — everything downstream runs on this
    bounded table).  No lowercasing, no END_TOKEN: case and whitespace
    are information a byte-level tokenizer must preserve.  The split +
    byte mapping is inherently per-string sequential → Arrow-batched
    pandas_udf, then a plain explode/groupBy (one shuffle, keyed
    count)."""

    @F.pandas_udf("array<string>")
    def pretoks(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                [_to_byte_units(p) for p in pretokenize(str(t))]
                if t is not None
                else []
                for t in texts
            ]
        )

    wf = (
        df.select(F.explode(pretoks(c(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    if min_freq > 1:
        wf = wf.filter(F.col("freq") >= min_freq)
    if max_words is not None:
        wf = wf.orderBy(F.desc("freq"), F.asc("word")).limit(max_words)
    return wf


def learn_byte_bpe(
    word_freq: DataFrame,
    num_merges: int,
    min_count: int = 2,
    max_vocab: int = 1_000_000,
) -> DataFrame:
    """Byte-level merge learning: identical driver-local loop as
    :func:`learn_bpe` (:func:`_learn_merges` is shared verbatim), but
    the vocab symbols are the byte-unicode units of the pre-tokens and
    there is NO end-of-word marker — GPT-2's convention, where the
    leading-space byte (Ġ) carries the word boundary instead."""
    if num_merges < 1:
        raise ValueError(
            f"learn_byte_bpe: num_merges must be >= 1, got {num_merges}"
        )
    spark = word_freq.sparkSession
    rows = bounded_vocab_rows(word_freq, max_vocab, "learn_byte_bpe")
    vocab: list[tuple[list[str], int]] = [
        (list(r["word"]), int(r["freq"])) for r in rows
    ]
    merges = _learn_merges(vocab, num_merges, min_count)
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, pair_count bigint"
    )


def _apply_ranked_merges(
    syms: list[str],
    merges: Sequence[tuple[str, str]],
    ranks: dict[tuple[str, str], int],
) -> list[str]:
    """PRIORITY encoding: repeatedly apply the lowest-rank merge whose
    pair is adjacent anywhere, as one full greedy left-to-right pass —
    the loop the implementations of record use (and the unrolled-CTE
    shape the ``bpe_encode_words`` oracle replays)."""
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            rk = ranks.get((syms[i], syms[i + 1]))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank, best_i = rk, i
        if best_rank is None:
            break
        left, right = merges[best_rank]
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def byte_bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: Sequence[tuple[str, str]],
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply an ordered byte-level merge list: text → array of tokens
    in byte-unicode space.  Case- and whitespace-preserving; with the
    inverse table (:func:`byte_bpe_decode`) the concatenated tokens
    recover the input EXACTLY for arbitrary UTF-8 (property-tested) —
    the round-trip guarantee word-level BPE cannot give.  Arrow-batched
    pandas_udf with a per-batch pre-token cache (Zipf ⇒ ~99% hits)."""
    ranks = {(l, r): i for i, (l, r) in enumerate(merges)}
    merges = list(merges)

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks: list[str] = []
            for p in pretokenize(str(t)):
                got = cache.get(p)
                if got is None:
                    got = _apply_ranked_merges(
                        list(_to_byte_units(p)), merges, ranks
                    )
                    cache[p] = got
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, enc(c(text_col)))


def byte_bpe_decode(tokens: Sequence[str]) -> str:
    """Inverse of :func:`byte_bpe_encode` for one token sequence:
    concatenate, map each byte-unicode unit back to its byte, decode
    UTF-8 (replace on torn multi-byte boundaries — only reachable if
    the caller truncates a token list mid-character)."""
    data = bytes(_BYTE_DEC[ch] for ch in "".join(tokens))
    return data.decode("utf-8", "replace")
