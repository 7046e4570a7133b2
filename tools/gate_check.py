"""Strict local mirror of the driver's correctness gate, over the WHOLE
catalog: with no query names given, every entry of ``QUERIES`` runs on
Spark and is compared against its DuckDB oracle.

- STOCK SparkSession — no hobbes_spark.session confs. Any conf a query
  needs (nanos parquet, session tz) must be set by the query path
  itself, exactly as the driver requires (see ADVICE round 1).
- sf0.01 by default (the driver's gate scale); local[os.cpu_count()]
  unless SPARK_GRAFT_CPUS says otherwise.
- STRICT cell compare: str(v) with no int/float collapsing, so a
  DuckDB HUGEINT surfacing as pandas float64 ("42.0") mismatches a
  Spark BIGINT ("42") — the exact class of bug the driver's value hash
  catches. ``_snapshot`` is the repo's one oracle compare:
  tests/test_oracle_parity.py, tools/retry_gate.py and
  tools/cluster_check.py import it from here.

Each MATCH line carries the query's Spark wall time, so one gate run
also gives catalog-wide timing.

Usage: python tools/gate_check.py [sf_dir] [query ...]
"""

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    return str(v)


def _snapshot(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)
    )
    return cols, rows


def oracle_connection(sf_dir, tables=TABLES, glob=""):
    """DuckDB connection with one view per table over
    ``{sf_dir}/{table}.parquet{glob}`` (pass ``glob="/*.parquet"`` for
    tables Spark wrote as directories)."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet{glob}')"
        )
    return con


def main():
    args = sys.argv[1:]
    # sf_dir is optional: `gate_check.py q1` must not eat the first
    # operand as a directory
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    else:
        sf_dir = "/root/testdata/sf0.01"
    only = set(args)

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("gate_check")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from hobbes_spark.queries import QUERIES

    con = oracle_connection(sf_dir)

    # a typo'd filter name must not produce a false green: a gate that
    # "passes" having checked nothing is worse than one that fails
    unknown = only - set(QUERIES)
    if unknown:
        raise SystemExit(f"GATE: unknown query names {sorted(unknown)}")

    bad = []
    t_gate = time.perf_counter()
    for name, spec in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            got = spec.spark(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - report, keep going
            bad.append((name, f"SPARK ERR {type(e).__name__}: {str(e)[:160]}"))
            print(f"\n{name}: SPARK ERROR {str(e)[:160]}")
            continue
        wall = time.perf_counter() - t0
        if spec.oracle is None:
            print(f"\n{name}: rows-only ({len(got)} rows) OK {wall:.2f}s")
            continue
        try:
            # record-and-continue like the Spark side: one bad oracle
            # must not abort the gate and discard the other results
            exp = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            bad.append((name, f"ORACLE ERR {type(e).__name__}: {str(e)[:160]}"))
            print(f"\n{name}: ORACLE ERROR {str(e)[:160]}")
            continue
        g_cols, g_rows = _snapshot(got)
        e_cols, e_rows = _snapshot(exp)
        if g_cols != e_cols:
            bad.append((name, f"cols {g_cols} vs {e_cols}"))
        elif len(g_rows) != len(e_rows):
            bad.append((name, f"rows {len(g_rows)} vs {len(e_rows)}"))
        elif g_rows != e_rows:
            i = next(i for i, (a, b) in enumerate(zip(g_rows, e_rows)) if a != b)
            bad.append((name, f"values: spark={g_rows[i]} oracle={e_rows[i]}"))
        status = "MATCH" if not bad or bad[-1][0] != name else "MISMATCH"
        print(f"\n{name}: {status} ({len(g_rows)} rows) {wall:.2f}s")

    print(f"\nGATE: {len(bad)} failures ({time.perf_counter() - t_gate:.0f}s)")
    for n, why in bad:
        print(f"\n  FAIL {n}: {why}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
