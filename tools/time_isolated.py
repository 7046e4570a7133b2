"""Isolated query timing with the noop sink (guide §1.4).

Usage: python tools/time_isolated.py <query> [query ...]

Times QUERIES[name].spark(spark, $SPARK_GRAFT_SF_DIR) construction +
noop-sink execution, best of $RUNS (default 3) after one warm-up, on
the bench session factory. Prints one line per query, with the codegen
classes each timed run compiled (0 once the query's classes are cached):
    <name> best=<s> runs=[...] compiles=[...]
"""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = int(os.environ.get("RUNS", "3"))

    from hobbes_spark.queries import QUERIES
    from hobbes_spark.session import codegen_compiles, get_spark

    spark = get_spark("hobbes_spark_isolated")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.sparkContext.setJobDescription(f"isolated:{name}")
        samples, compiles = [], []
        for i in range(runs + 1):
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            df = QUERIES[name].spark(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i:  # drop the warm-up
                samples.append(round(dt, 3))
                compiles.append(codegen_compiles(spark) - c0)
        print(
            f"\n{name} best={min(samples)} runs={samples} compiles={compiles}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
