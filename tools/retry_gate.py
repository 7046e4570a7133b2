"""Task-retry + speculation determinism gate (r8 verdict item 2;
speculation mode added by r9 verdict item 7).

Spark re-executes failed (and speculated) tasks; a recomputed attempt
that produces DIFFERENT rows than the first attempt silently corrupts
results at cluster scale — the classic victims are arbitrary tie-breaks
(group-by-maxby "one arbitrary row", SURVEY §2.4), iterative init
(k-means), and anything that leans on partition-internal row order
(systematic samplers, keep-best canonical picks).

RETRY mode (default) runs the flagship tie-sensitive catalog queries
twice:

* CLEAN:  unmodified, on a fresh ``local[8, 3]`` session
  (``maxFailures=3`` — plain ``local[8]`` never retries, which is why
  this cannot live inside the shared pytest session and runs as its own
  process).
* CHAOS:  with every table scan wrapped in a ``mapInPandas`` stage that
  (a) RAISES on ``TaskContext.attemptNumber() == 0`` — every task of
  the scan stage really fails once and is re-executed by Spark's retry
  machinery — and (b) on the retried attempt yields the partition's
  rows in REVERSED order.  The reversal is the sharp edge: a retried
  attempt is allowed to see rows in a different order than the attempt
  it replaced (different spill merge order, different upstream fetch
  interleaving on a real cluster), so any query whose values depend on
  that order diverges here.

SPECULATION mode (``--speculation``) covers the OTHER task-level
nondeterminism: ``spark.speculation=true`` launches duplicate attempts
of straggler tasks and commits whichever finishes first.  Local
masters never speculate (the scheduler only starts its checker off
``local``), so this mode runs on ``local-cluster[2,4,2048]`` — real
executor JVMs, real speculation.  The scan wrap here SLEEPS on attempt
0 of every third partition (making those tasks stragglers the
speculation checker clones) and yields rows REVERSED on any attempt
> 0, so whenever a speculative clone wins the race its row order
differs — the same sharp edge as retry mode, now arriving through the
speculation scheduler path.

Both modes assert the perturbed snapshot (the strict ``_snapshot`` of
tools/gate_check.py) is byte-identical to CLEAN, and both carry a
NEGATIVE CONTROL (an order-sensitive ``first()`` probe) that must
diverge — proving the injected perturbation actually fired.

Usage: python tools/retry_gate.py [--speculation] [sf_dir] [query ...]
Exit 0 = all identical; prints one "RETRYGATE <name> PASS|FAIL" line
per query (leading newline so Spark's \r progress fragments can't glue
to it).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.gate_check import _snapshot  # noqa: E402

# The flagship tie-sensitive shapes named by the r8 verdict.
DEFAULT_TARGETS = [
    "group_maxby",          # whole-row maxby: the §2.4 "arbitrary row" fold
    "flowerpot",            # maxby + regex/int derive golden pipeline
    "kmeans_clusters",      # iterative init + assignment ties
    "weighted_sample_docs", # systematic sampler over hash order
    "dedup_keep_best",      # canonical keep-best pick within dup clusters
]


def _chaos_wrap(df):
    """Wrap a DataFrame so every scan task fails once, then replays its
    rows reversed on the retried attempt (see module docstring)."""
    schema = df.schema

    def fn(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0:
            raise RuntimeError(
                "retry-gate: injected transient failure (attempt 0)"
            )
        pdfs = list(batches)
        for pdf in reversed(pdfs):
            yield pdf.iloc[::-1]

    return df.mapInPandas(fn, schema=schema)


#: seconds an attempt-0 straggler sleeps in speculation mode — long
#: enough that the speculation checker (100 ms interval) clones it and
#: the clone finishes first, short enough to keep the gate quick
SPEC_SLEEP_SEC = float(os.environ.get("HOBBES_SPEC_SLEEP", "4"))


def _spec_wrap(df):
    """Speculation-mode scan wrap: repartition to 8 tasks (the wrapped
    stage needs enough FAST tasks to clear the speculation quantile,
    and a 1-file sf0.001 scan would otherwise be a single task), then
    sleep on attempt 0 of every third partition — those tasks become
    stragglers the speculation checker clones — and yield rows REVERSED
    on any attempt > 0, so a winning clone delivers a different row
    order (the same sharp edge as retry mode)."""
    schema = df.schema

    def fn(batches):
        import time as _time

        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.attemptNumber() == 0 and tc.partitionId() % 3 == 0:
            _time.sleep(SPEC_SLEEP_SEC)
        if tc is not None and tc.attemptNumber() > 0:
            for pdf in reversed(list(batches)):
                yield pdf.iloc[::-1]
        else:
            yield from batches

    return df.repartition(8).mapInPandas(fn, schema=schema)


def _start_speculation_cluster():
    """Standalone cluster on TWO loopback "hosts" + a session with
    speculation ON.  Returns ``(spark, stop)``.

    Why this shape and not ``local-cluster``: the scheduler refuses to
    launch a speculative attempt on the same HOST as the running copy
    (``TaskSetManager.hasAttemptOnHost``), and every local/local-cluster
    executor reports one host — speculation silently never fires (the
    control probe proved it).  Binding one worker to 127.0.0.1 and one
    to 127.0.0.2 (distinct loopback addresses, both routable on Linux)
    gives the scheduler two host strings, so clones really launch and
    really race.  Semantic configs mirror
    ``hobbes_spark.session.get_spark`` — the gate must run the queries
    under the engine's own dialect."""
    import socket
    import subprocess
    import time as _time

    import pyspark
    from pyspark.sql import SparkSession

    spark_pkg = os.path.dirname(pyspark.__file__)
    spark_class = os.path.join(spark_pkg, "bin", "spark-class")
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    master_url = f"spark://127.0.0.1:{port}"
    procs = []

    def launch(*cls_args, host):
        env = dict(
            os.environ,
            SPARK_HOME=spark_pkg,
            PYSPARK_PYTHON=sys.executable,
            SPARK_NO_DAEMONIZE="1",
            SPARK_LOCAL_IP=host,
            SPARK_LOCAL_HOSTNAME=host,
        )
        procs.append(subprocess.Popen(
            ["bash", spark_class, *cls_args],
            env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        ))

    launch("org.apache.spark.deploy.master.Master",
           "--host", "127.0.0.1", "--port", str(port), "--webui-port", "0",
           host="127.0.0.1")
    _time.sleep(3)  # master must be up before workers register
    for h in ("127.0.0.1", "127.0.0.2"):
        launch("org.apache.spark.deploy.worker.Worker", master_url,
               "--host", h, "--cores", "4", "--memory", "2g",
               "--webui-port", "0", host=h)

    spark = (
        SparkSession.builder.master(master_url)
        .appName("retry_gate_speculation")
        .config("spark.sql.shuffle.partitions", "8")
        # executor JVMs spawn their own Python workers: the package
        # must be importable there (same rationale as cluster_bench)
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        .config("spark.executor.memory", "1g")
        .config("spark.cores.max", "8")
        .config("spark.speculation", "true")
        .config("spark.speculation.interval", "100ms")
        .config("spark.speculation.multiplier", "1.2")
        .config("spark.speculation.quantile", "0.25")
        # 3.4+ gates clones on per-task process-rate metrics that
        # python stages don't report usefully; classic duration-based
        # speculation is the behavior under test
        .config("spark.speculation.efficiency.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    def stop():
        try:
            spark.stop()
        finally:
            for p in procs:
                p.terminate()
            for p in procs:
                try:
                    p.wait(timeout=10)
                except Exception:
                    p.kill()

    # wait until BOTH workers' executors registered — speculative
    # clones need the second host to exist before the first stage runs
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    for _ in range(60):
        hosts = {e.host() for e in tracker.getExecutorInfos()}
        if {"127.0.0.1", "127.0.0.2"} <= hosts:
            return spark, stop
        _time.sleep(1)
    stop()
    raise SystemExit(
        "RETRYGATE [speculation]: executors on both loopback hosts "
        "never registered"
    )


def main():
    args = sys.argv[1:]
    speculation = "--speculation" in args
    no_control = "--no-control" in args
    args = [a for a in args if not a.startswith("--")]
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    else:
        sf_dir = os.environ.get(
            "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
        )
    targets = args or DEFAULT_TARGETS

    from hobbes_spark.pipeline import Pipeline
    from hobbes_spark.session import get_spark

    stop_cluster = None
    if speculation:
        spark, stop_cluster = _start_speculation_cluster()
        wrap = _spec_wrap
        mode = "speculation"
    else:
        # local[8, 3]: 8 threads, tasks retried up to 3 attempts — the
        # ONLY local master that exercises the retry scheduler path.
        spark = get_spark(
            "retry_gate", master="local[8, 3]", shuffle_partitions=8
        )
        wrap = _chaos_wrap
        mode = "retry"
    if stop_cluster is not None:
        import atexit

        atexit.register(stop_cluster)  # runs on every sys.exit path
    spark.sparkContext.setLogLevel("ERROR")

    from hobbes_spark.queries import QUERIES

    unknown = [t for t in targets if t not in QUERIES]
    if unknown:
        raise SystemExit(f"RETRYGATE: unknown query names {unknown}")

    orig_from_parquet = Pipeline.from_parquet.__func__

    def chaotic_from_parquet(cls, spark_, path):
        p = orig_from_parquet(cls, spark_, path)
        return cls(wrap(p.df), key_cols=p.key_cols, order=p.order)

    # Negative control: PROVE the harness detects order-sensitivity.
    # ``F.first`` with no ordering is exactly the bug class this gate
    # hunts (its value is whatever row arrives first); under either
    # wrapper the perturbed attempt streams rows reversed, so the
    # control MUST diverge from its clean run — if it matches, the
    # injection never fired (retry mode) or no speculative clone ever
    # won a race (speculation mode) and every PASS above would be
    # vacuous.
    if not no_control:
        from pyspark.sql import functions as F

        base = orig_from_parquet(Pipeline, spark, f"{sf_dir}/orders.parquet").df
        if speculation:
            # per-partition firsts: coalesce(1) would collapse the
            # wrapped stage to ONE task, and speculation needs the
            # quantile's worth of FINISHED sibling tasks before it
            # clones a straggler — so the probe aggregates first()
            # map-side inside each of the 8 wrapped tasks instead.
            def probe(df):
                return _snapshot(
                    df.groupBy(F.spark_partition_id().alias("pid"))
                    .agg(F.expr("first(o_orderkey)").alias("first_key"))
                    .toPandas()
                )

            def ident(df):
                # same plan shape as _spec_wrap minus sleep/reverse
                return df.repartition(8).mapInPandas(
                    lambda it: it, schema=df.schema
                )

            clean_ctl = probe(ident(base))
            chaos_ctl = probe(_spec_wrap(base))
        else:
            # coalesce(1) first so "first" is the deterministic global
            # stream order (clean: file order; chaos: reversed) rather
            # than a per-shuffle-partition race that could flap
            # run-to-run.
            def probe(df):
                return _snapshot(
                    df.coalesce(1)
                    .groupBy("o_custkey")
                    .agg(F.expr("first(o_orderkey)").alias("first_key"))
                    .toPandas()
                )

            clean_ctl = probe(base)
            chaos_ctl = probe(_chaos_wrap(base))
        if clean_ctl == chaos_ctl:
            print(f"\nRETRYGATE [{mode}] control FAIL: order-sensitive "
                  "probe did not diverge — perturbation never fired, "
                  "gate is vacuous")
            sys.exit(1)
        print(f"\nRETRYGATE [{mode}] control PASS "
              "(order-sensitive probe diverged as designed)")

    failures = []
    for name in targets:
        spec = QUERIES[name]
        clean = _snapshot(spec.spark(spark, sf_dir).toPandas())
        Pipeline.from_parquet = classmethod(chaotic_from_parquet)
        try:
            chaos = _snapshot(spec.spark(spark, sf_dir).toPandas())
        finally:
            Pipeline.from_parquet = classmethod(orig_from_parquet)
        ok = clean == chaos
        if not ok:
            failures.append(name)
            # first differing row, for the regression fixture
            c_cols, c_rows = clean
            h_cols, h_rows = chaos
            detail = (
                f"cols {c_cols} vs {h_cols}"
                if c_cols != h_cols
                else f"rows {len(c_rows)} vs {len(h_rows)}"
                if len(c_rows) != len(h_rows)
                else next(
                    f"row[{i}] clean={a} chaos={b}"
                    for i, (a, b) in enumerate(zip(c_rows, h_rows))
                    if a != b
                )
            )
            print(f"\nRETRYGATE [{mode}] {name} FAIL: {detail}")
        else:
            print(f"\nRETRYGATE [{mode}] {name} PASS ({len(clean[1])} rows)")

    print(f"\nRETRYGATE [{mode}]: {len(failures)} failures of {len(targets)}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
