#!/usr/bin/env python
"""Core-set timing under REAL executors vs single-JVM local mode.

``tools/cluster_check.py`` proved the checkpoint-heavy shapes
value-identical under ``local-cluster[2,16,4096]``; this tool measures
the TIMING story (round-8 item 6) — what real exchange serialization,
off-heap shuffle and cross-JVM broadcast cost relative to ``local[N]``
on the same host — for the frozen r1 bench core set (``bench.py``'s
``_R1_CORE``). Observability only: no exit criterion, the numbers land
in SCALE.md so cross-round comparisons have a cluster-mode anchor.

Usage: python tools/cluster_bench.py [sf_dir] [runs]
Prints one JSON line {"sf_dir", "results": {name: {"local_sec",
"cluster_sec", "ratio"}}, "total_local_sec", "total_cluster_sec"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORE = [
    "flowerpot", "group_all_sum", "group_maxby", "pivot_count",
    "moving_mean", "moving_partitioned", "join_on_field",
    "join_broadcast_dims", "text_stats", "dedup_exact",
    "minhash_pairs_fast", "cosine_topk", "curate_corpus",
    "salted_group_sum",
]


def _time_queries(master: str, sf_dir: str, runs: int) -> dict[str, float]:
    from pyspark.sql import SparkSession

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = (
        SparkSession.builder.master(master)
        .appName(f"cluster_bench[{master}]")
        .config("spark.sql.shuffle.partitions", "32")
        # real executor JVMs spawn their own Python workers: the package
        # must be importable THERE (same rationale as cluster_check)
        .config("spark.executorEnv.PYTHONPATH", repo)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from hobbes_spark.queries import QUERIES

    out: dict[str, float] = {}
    for name in CORE:
        def mat():
            QUERIES[name].spark(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

        mat()  # untimed warm run: codegen/JIT/first-shuffle files
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            mat()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
    spark.stop()
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    runs = int(args[1]) if len(args) > 1 else 2

    cluster = _time_queries("local-cluster[2,16,4096]", sf_dir, runs)
    local = _time_queries(
        f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count()}]", sf_dir, runs
    )
    results = {
        n: {
            "local_sec": local[n],
            "cluster_sec": cluster[n],
            "ratio": round(cluster[n] / max(local[n], 1e-9), 2),
        }
        for n in CORE
    }
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "results": results,
                "total_local_sec": round(sum(local.values()), 3),
                "total_cluster_sec": round(sum(cluster.values()), 3),
                "total_ratio": round(
                    sum(cluster.values()) / max(sum(local.values()), 1e-9), 2
                ),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
