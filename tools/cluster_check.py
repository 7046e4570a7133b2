#!/usr/bin/env python
"""Multi-executor divergence check: run the checkpoint-heavy flagship
shapes under ``local-cluster[2,16,4096]`` — REAL executor JVMs with
real serialization, off-heap exchange, and task locality — and assert
value equality with the same queries under single-JVM ``local[*]``.

Why: ``local[N]`` (the test/bench mode; N is ``SPARK_GRAFT_CPUS`` or
the core count) hides whole bug classes a 100-node cluster surfaces —
closures that capture non-serializable state, ``localCheckpoint``
blocks living on executors instead of the driver, Python workers
needing the package importable on the executor side, broadcast values
crossing a real wire. The shapes chosen are the
ones using ``localCheckpoint``/driver-collected state the most
(r6 verdict item 2): prepare_corpus, kmeans_clusters (Lloyd's),
dedup_components_star, pagerank_centrality, plus bpe_merges
(driver-local merge learning from one Spark job).

Usage: python tools/cluster_check.py [sf_dir] [query ...]
Prints one JSON line {"results": {name: "MATCH"|"DIVERGED: ..."}};
exit 0 iff all MATCH.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gate_check import _snapshot  # noqa: E402

DEFAULT = [
    "prepare_corpus",
    "kmeans_clusters",
    "dedup_components_star",
    "pagerank_centrality",
    "bpe_merges",
    # round-12 document layer: Arrow mapInPandas kernels whose closures
    # (profile dicts, merge tables, regex tables) must cross a real
    # wire to executor-side Python workers
    "pdf_text_stats",
    "extract_any_stats",
    "archive_extract_stats",
    "byte_bpe_encode",
    "lang_id_counts",
    # round-7 additions with multi-executor-sensitive machinery: the
    # sharded two-pass prefix scan (percentile boundaries broadcast,
    # offsets joined back), bucket-star edge generation, the state-store
    # streaming dedup, and the checkpointed two-consumer join pricer
    "weighted_sample_docs",
    "minhash_star_edges",
    "stream_dedup_counts",
    "join_skew_stats",
]


def _run(master: str, sf_dir: str, names: list[str]) -> dict:
    from pyspark.sql import SparkSession

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    b = (
        SparkSession.builder.master(master)
        .appName(f"cluster_check[{master}]")
        .config("spark.sql.shuffle.partitions", "32")
        # executors are separate JVMs spawning their own Python
        # workers: the package must be importable THERE, not just in
        # the driver (cloudpickle serializes module functions by
        # reference) — exactly the class of divergence this tool exists
        # to catch, so make the legitimate part explicit
        .config("spark.executorEnv.PYTHONPATH", repo)
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from hobbes_spark.queries import QUERIES

    out = {}
    for name in names:
        try:
            out[name] = _snapshot(QUERIES[name].spark(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001 - record, keep going
            out[name] = ("ERROR", f"{type(e).__name__}: {str(e)[:200]}")
    spark.stop()
    return out


def main() -> int:
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    else:
        sf_dir = "/root/testdata/sf0.01"
    names = args or DEFAULT

    cluster = _run("local-cluster[2,16,4096]", sf_dir, names)
    local = _run(f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count()}]", sf_dir, names)

    results = {}
    ok = True
    for name in names:
        c, l = cluster[name], local[name]
        if c[0] == "ERROR" or l[0] == "ERROR":
            results[name] = f"DIVERGED: cluster={c[:2]} local={l[:2]}"
            ok = False
        elif c == l:
            results[name] = f"MATCH ({len(c[1])} rows)"
        else:
            why = (
                f"cols {c[0]} vs {l[0]}"
                if c[0] != l[0]
                else f"rows {len(c[1])} vs {len(l[1])}"
                if len(c[1]) != len(l[1])
                else "values differ"
            )
            results[name] = f"DIVERGED: {why}"
            ok = False
    print(json.dumps({"sf_dir": sf_dir, "results": results}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
