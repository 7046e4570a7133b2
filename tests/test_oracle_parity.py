"""Local mirror of the driver's correctness gate: run every catalog query
on Spark AND its DuckDB oracle over the same parquet, compare row count,
column set, and an order-insensitive value snapshot. The snapshot is
the strict one of tools/gate_check.py (no int/float collapsing), so this
suite and the gate apply one compare.

The driver does this at sf=0.01; tests run sf0.001 (override with
SPARK_GRAFT_TEST_SF_DIR) so the loop stays fast while iterating.
"""

import os
import sys

import pytest

from hobbes_spark.queries import QUERIES

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))
from tools.gate_check import _snapshot, oracle_connection  # noqa: E402


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", [n for n, s in QUERIES.items() if s.oracle])
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    spec = QUERIES[name]
    got = spec.spark(spark, sf_dir).toPandas()
    exp = ddb.execute(spec.oracle).df()
    g_cols, g_rows = _snapshot(got)
    e_cols, e_rows = _snapshot(exp)
    assert g_cols == e_cols, f"{name}: column mismatch {g_cols} vs {e_cols}"
    assert len(g_rows) == len(e_rows), f"{name}: row count {len(g_rows)} vs {len(e_rows)}"
    mism = [i for i, (a, b) in enumerate(zip(g_rows, e_rows)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={g_rows[mism[0]]} oracle={e_rows[mism[0]]}"
    )


_ROWS_ONLY = [n for n, s in QUERIES.items() if s.oracle is None]


def test_no_rows_only_queries_remain():
    """Round 4 gave the last rows-only entry (the HLL rollup) a
    replayable oracle twin; every catalog query now carries a DuckDB
    oracle. Pin that as an invariant — a new rows-only entry weakens
    the correctness gate and must be a deliberate, visible choice."""
    assert _ROWS_ONLY == [], (
        f"rows-only queries reappeared (weaker driver check): {_ROWS_ONLY}"
    )


def test_strict_snapshot_contract():
    """The one oracle compare is strict: no int/float collapsing (a
    DuckDB HUGEINT surfacing as float64 must not match a Spark BIGINT),
    None and NaN both read NULL, and row order never matters."""
    import pandas as pd

    assert _snapshot(pd.DataFrame({"x": [42.0]})) != _snapshot(
        pd.DataFrame({"x": [42]})
    )
    nulls = pd.DataFrame({"x": [None, float("nan")]}, dtype=object)
    assert _snapshot(nulls) == (["x"], [("NULL",), ("NULL",)])
    fwd = pd.DataFrame({"b": [1, 2], "a": ["p", "q"]})
    rev = pd.DataFrame({"a": ["q", "p"], "b": [2, 1]})
    assert _snapshot(fwd) == _snapshot(rev) == (["a", "b"], [("p", "1"), ("q", "2")])


# --------------------------------------------------------------------- #
# Planted-edge-case parity (round 4): the driver tables contain no NULL
# texts, no sub-10-row series, and no same-timestamp events, so these
# latent Spark-vs-oracle divergences could never trip the main gate;
# each test replays a catalog query AND its oracle over planted data
# that exercises exactly the edge.
# --------------------------------------------------------------------- #


def _mini_gate(spark, tmp_path, name, tables):
    """Run QUERIES[name] and its DuckDB oracle over planted tables."""
    sf = str(tmp_path / "sf")
    for t, df in tables.items():
        df.write.mode("overwrite").parquet(f"{sf}/{t}.parquet")
    con = oracle_connection(sf, tables, glob="/*.parquet")
    spec = QUERIES[name]
    got = spec.spark(spark, sf).toPandas()
    exp = con.execute(spec.oracle).df()
    con.close()
    return _snapshot(got), _snapshot(exp)


def test_dedup_exact_null_texts_parity(spark, tmp_path):
    """Every NULL-text row survives — in the operator AND the oracle
    (the SQL used to collapse all NULL fingerprints into one window
    partition and keep only the min id)."""
    docs = spark.createDataFrame(
        [(1, "same text", "en", "web", 9), (2, "same text", "en", "web", 9),
         (3, None, "en", "web", 0), (4, None, "en", "web", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got, exp = _mini_gate(spark, tmp_path, "dedup_exact", {"documents": docs})
    assert got == exp
    ids = sorted(int(r[0]) for r in got[1])
    assert ids == [1, 3, 4]  # dup collapsed, both NULL-text rows kept


def test_concurrency_peak_timestamp_ties_parity(spark, tmp_path):
    """Same-timestamp events must land in the same session in both
    engines (the running sum used to be frame-ambiguous on ties)."""
    from pyspark.sql import functions as F

    rows = [
        (1, 10, "2021-05-01 10:00:00", "click", 1.0, "{}"),
        (2, 10, "2021-05-01 10:00:00", "view", 1.0, "{}"),   # tie with 1
        (3, 10, "2021-05-01 12:00:00", "click", 1.0, "{}"),  # new session
        (4, 20, "2021-05-01 11:00:00", "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, user_id bigint, ts string, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got, exp = _mini_gate(spark, tmp_path, "concurrency_peak", {"events": ev})
    assert got == exp


def test_buckets_mean_small_series_parity(spark, tmp_path):
    """A series with fewer than 10 distinct days must still split into
    per-row buckets in BOTH engines — the oracle's total // 10 used to
    be 0, collapsing everything into bucket 10 via LEAST(NULL, 10)."""
    from pyspark.sql import functions as F

    rows = [
        (i, f"2021-06-{(i % 4) + 1:02d} 12:00:00", 10 + i, "click", 1.0, "{}")
        for i in range(12)  # 4 distinct days -> total=4 < 10
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got, exp = _mini_gate(spark, tmp_path, "buckets_mean", {"events": ev})
    assert got == exp
    assert len(got[1]) == 4  # one bucket per day, not one collapsed row


def test_gopher_quality_edges_parity(spark, tmp_path):
    """The driver corpus has no newlines, bullets, ellipses, '#'
    symbols, or NULL texts, so the line/symbol rules are degenerate at
    the main gate; this replays the catalog query AND its oracle over
    documents that exercise every rule (incl. the '....' leftmost-match
    and unicode-ellipsis corners) and demands byte-identical output."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over that lazy dog with it " * 6,
             "en", "web", 0),
            (2, "five short words only here", "en", "web", 0),
            (3, None, "en", "web", 0),
            (4, "", "en", "web", 0),
            (5, "   ", "en", "web", 0),
            (6, "- bullet one\n- bullet two\nplain tail line", "en", "web", 0),
            (7, "thought...\nfour dots....\nunicode one…\nplain", "en", "web", 0),
            (8, "# tags # and # more # symbols here", "en", "web", 0),
            (9, "123 456 789 000 111", "en", "web", 0),
            (10, " ".join(["incomprehensibility"] * 60), "en", "web", 0),
            # CRLF endings: Java '$' matches before a trailing \r, RE2
            # does not — the \r?\n line split must keep both engines
            # identical (round-6 review fix)
            (11, "thought...\r\nbullet next\r\n- a bullet line\r\nplain", "en",
             "web", 0),
            # lone \r (classic-Mac ending) stays INSIDE a line after the
            # \r?\n split; '$' would still diverge (Java matches before a
            # final line terminator, RE2 does not) — the \z anchor pins
            # strict end-of-text in both engines
            (12, "ends with ellipsis...\rtail", "en", "web", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got, exp = _mini_gate(spark, tmp_path, "gopher_quality", {"documents": docs})
    assert got == exp


def test_c4_quality_edges_parity(spark, tmp_path):
    """The driver corpus is single-line prose, so the C4 line rules are
    near-degenerate at the main gate; this replays the catalog query
    AND its oracle over documents exercising every rule — multi-line
    filtering, the quote terminal, the javascript line, lorem-ipsum
    casing, the raw-page brace flag, empty/NULL text, and the
    empty-kept-list array_to_string(NULL) corner — demanding
    byte-identical output."""
    docs = spark.createDataFrame(
        [
            (1, "Good first sentence with many words here.\nshort one.\n"
                "No terminal punctuation on this longer line\n"
                "Please enable JavaScript to continue viewing now.\n"
                'Quoted sentence of at least five words."',
             "en", "web", 0),
            (2, "One good sentence right here today. Second good one lands "
                "here. Third good one closes it.", "en", "web", 0),
            (3, "This page mentions LOREM IPSUM dolor sit amet today. "
                "More valid sentences follow it here. And one more for "
                "the count.", "en", "web", 0),
            (4, "A fine sentence with enough words. var x = { a: 1 } "
                "appears mid-page. Another fine sentence with enough "
                "words. Closing sentence with enough words too.", "en",
             "web", 0),
            (5, None, "en", "web", 0),
            (6, "", "en", "web", 0),
            (7, "no terminal marks at all on this page", "en", "web", 0),
            # CRLF endings (round-6 review fix): without the \r?\n split
            # Spark kept these lines ('$' matches before \r) while the
            # RE2 oracle kept none — verified divergence, now pinned
            (8, "Good first sentence with many words here.\r\n"
                "Second fine sentence with many words too.\r\n"
                "Third fine sentence with enough words here.\r\n",
             "en", "web", 0),
            # lone \r inside a line: '$' would count this terminal in
            # Spark only; the \z anchor agrees (not terminal) in both
            (9, "A sentence that seems to end here.\rhidden tail", "en",
             "web", 0),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got, exp = _mini_gate(spark, tmp_path, "c4_quality", {"documents": docs})
    assert got == exp


def test_embedding_neardup_exact_nan_parity(spark, tmp_path):
    """A NaN element makes every cosine of its vector NaN, and Spark and
    DuckDB both order NaN above every double, so ``cos >= threshold``
    keeps those pairs in both engines; the NumPy kernel must keep them
    too.  A NULL element (NULL cosine) still pairs with nothing."""
    ones = [1.0] * 64
    nan = [float("nan")] + [1.0] * 63
    null_elem = [None] + [1.0] * 63
    alt = [1.0, -1.0] * 32  # cosine 0 against ``ones``
    emb = spark.createDataFrame(
        [(1, ones, 0), (2, ones, 0), (3, nan, 0), (4, alt, 1),
         (5, null_elem, 1), (6, None, 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    got, exp = _mini_gate(
        spark, tmp_path, "embedding_neardup_exact", {"embeddings": emb}
    )
    assert got == exp
    pairs = sorted((int(a), int(b)) for _, a, b in got[1])  # cos, id_a, id_b
    assert pairs == [(1, 2), (1, 3), (2, 3), (3, 4)]
