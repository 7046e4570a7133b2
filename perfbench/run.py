"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all

Run from the root of a checkout. One workload runs in this process: a
Spark session on ``local[N]`` (N = min(4, cores)), one client in a
closed loop. The last line of standard output is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``. ``--workload all`` runs every workload
untraced and traced with the same seed, one process each, prints every
metric with its unit and the tracing overhead, then the combined JSON.

The input tables are read from ``--data`` (default the sf0.01 test
tables described in TESTDATA.md). Everything the run writes goes under ``perfbench/.work``.
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T_FIRST = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEFAULT_DATA = "/root/testdata/sf0.01"
MAX_CORES = 4

# every per-layer metric a traced run prints; a layer the workload never
# reaches reads 0
LAYER_SPANS = (  # span name -> metric "<name>_s", the spans' summed duration
    "queries.build", "pipeline.read", "catalyst.plan", "spark.exec",
    "hb.parse", "hb.compile", "providers.resolve", "sinks.json",
    "serve.read_cached", "odata.parse_filter", "odata.response", "serve.render",
)
JOB_LAYERS = {  # span name -> jobs metric
    "queries.build": "queries.build_jobs",
    "pipeline.read": "pipeline.read_jobs",
    "providers.resolve": "providers.resolve_jobs",
    "serve.read_cached": "serve.read_cached_jobs",
    "odata.response": "odata.jobs",
}
SELF_SPANS = (
    "op", "queries.build", "pipeline.read", "catalyst.plan", "spark.exec",
    "sync.run", "sync.node", "hb.program", "hb.compile", "hb.parse", "providers.resolve",
    "sync.combine", "sinks.json", "serve.read_cached", "odata.response",
    "odata.parse_filter", "serve.render",
)
PER_LAYER_UNITS = {
    **{f"{n}_s": "s" for n in LAYER_SPANS},
    **{m: "count" for m in JOB_LAYERS.values()},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "sync.elapsed_s": "s", "sync.node_s": "s", "sync.overlap": "ratio",
    "sync.nodes_done": "count", "sync.nodes_cached": "count", "sync.retries": "count",
    "sinks.json_bytes": "bytes", "odata.rows": "count", "serve.json_bytes": "bytes",
    "proc.driver_cpu_s": "s", "proc.jvm_cpu_s": "s", "proc.jvm_rss_mb": "MB",
    **{f"self.{n}_s": "s" for n in SELF_SPANS},
    "trace.unattributed_frac": "fraction",
    "trace.ops_per_s": "1/s", "trace.p50_s": "s",
}
SYNC_LAYER = (
    "hb.parse_s", "hb.compile_s", "providers.resolve_s", "providers.resolve_jobs",
    "pipeline.read_s", "pipeline.read_jobs", "sinks.json_s", "sinks.json_bytes",
    "sync.elapsed_s", "sync.node_s", "sync.nodes_done", "sync.nodes_cached", "sync.retries",
    "self.sync.run_s", "self.sync.node_s", "self.hb.program_s", "self.hb.compile_s",
    "self.hb.parse_s", "self.providers.resolve_s", "self.pipeline.read_s",
    "self.sync.combine_s", "self.sinks.json_s",
)


def age_at_first_statement() -> float:
    """Seconds between process start (from /proc, clock-tick
    resolution) and the first statement of this file; 0 without /proc."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK")
                   - (time.perf_counter() - T_FIRST))
    except (OSError, ValueError, IndexError):
        return 0.0


def spark_session(cores: int):
    """The repo's session factory on ``local[cores]``, with every scratch
    file Spark, the JVM and Python write kept under the work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from hobbes_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit. After a bare
    ``spark.stop()`` the JVM outlived the Python process by about 0.4 s;
    its Python workers end before it does."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_workload(name: str, seed: int, seconds: float, trace: bool, data: str,
                 age0: float) -> dict:
    """One run; ``age0`` is the process's age at ``T_FIRST``."""
    import stats
    import tracing
    from workloads import WORKLOADS, Context

    cores = min(MAX_CORES, os.cpu_count() or 1)
    spark = spark_session(cores)
    try:
        counters = tracing.SparkCounters(spark) if trace else None
        tracer = tracing.Tracer(counters) if trace else tracing.NullTracer()
        work = os.path.join(WORK, f"{name}-{os.getpid()}")
        ctx = Context(spark, data, work, seed, cores, tracer)
        wl = WORKLOADS[name](ctx)
        if trace:
            wl.instrument(tracer)
        setup = wl.setup()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        cpu0 = (time.process_time(), tracing.proc_cpu_s(jvm_pid))
        setup_s = age0 + time.perf_counter() - T_FIRST

        outcomes = stats.Outcomes()
        latencies: list[float] = []
        roots = []
        for i, op in enumerate(wl.ops()):
            if i % wl.batch == 0 and sum(latencies) >= seconds:
                break
            tracer.op = i
            result, err = None, ""
            t0 = time.perf_counter()
            try:
                with tracer.span("op") as root:
                    result = wl.execute(op)
            except Exception as e:  # noqa: BLE001 - a failed op, counted below
                err = f"{type(e).__name__}: {str(e)[:300]}"
            latencies.append(time.perf_counter() - t0)
            if root is not None:
                roots.append(root)
            if not err:
                try:
                    err = wl.check(op, result)
                except Exception as e:  # noqa: BLE001 - a check that raises fails the op
                    err = f"check {type(e).__name__}: {str(e)[:300]}"
            outcomes.record(not err, err)
        cpu1 = (time.process_time(), tracing.proc_cpu_s(jvm_pid))
        rss = tracing.proc_rss_mb(jvm_pid)
        tail = stats.tail(latencies)
        record = {
            "workload": name, "seed": seed, "seconds": seconds, "trace": trace,
            "cores": cores, "data": data, "setup": setup, "setup_s": setup_s,
            "tail": tail, "errors": outcomes.errors, **stats.drift(latencies),
            **(wl.detail() if hasattr(wl, "detail") else {}),
        }
        metrics = stats.end_to_end(latencies, outcomes.ok, outcomes.attempted, setup_s)
        if trace:
            tracer.restore()
            tracer.op = None
            metrics = layer_metrics(tracer, roots, counters, latencies)
            n = len(latencies)
            metrics["proc.driver_cpu_s"] = ((cpu1[0] - cpu0[0]) / n, "s")
            metrics["proc.jvm_cpu_s"] = ((cpu1[1] - cpu0[1]) / n, "s")
            metrics["proc.jvm_rss_mb"] = (rss, "MB")
            os.makedirs(WORK, exist_ok=True)
            tracer.dump(os.path.join(WORK, f"spans-{name}-seed{seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    finally:
        stop_spark(spark)
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    with open(os.path.join(WORK, f"record-{name}-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    return {
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": record["metrics"],
    }


def _root_totals(tracer, root, spans, counters, stage_data) -> dict:
    """Per-layer sums over the spans of one op (or of the cache fill)."""
    import tracing

    t = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    for s in spans:
        if s.name in LAYER_SPANS:
            t[f"{s.name}_s"] += s.duration
        if s.name in JOB_LAYERS:
            t[JOB_LAYERS[s.name]] += len(tracer.subtree_jobs(s))
        if s.name == "sinks.json":
            t["sinks.json_bytes"] += s.attrs.get("bytes", 0)
        elif s.name == "odata.response":
            t["odata.rows"] += s.attrs.get("rows", 0)
        elif s.name == "serve.render":
            t["serve.json_bytes"] += s.attrs.get("bytes", 0)
        elif s.name == "sync.node":
            t["sync.node_s"] += s.duration
        elif s.name == "sync.run":
            rep = s.attrs["report"]
            t["sync.elapsed_s"] += rep["elapsed_s"]
            t["sync.nodes_done"] += rep["done"]
            t["sync.nodes_cached"] += rep["cached"]
            t["sync.retries"] += rep["retries"]
    jobs = tracer.subtree_jobs(root)
    t["spark.jobs"] = len(jobs)
    ran = [sid for sid in counters.stage_ids(jobs) if sid in stage_data]
    t["spark.stages"] = len(ran)
    for sid in ran:
        for k, v in stage_data[sid].items():
            t[k] += v
    for name, own in tracing.self_times(spans).items():
        if f"self.{name}_s" in t:
            t[f"self.{name}_s"] += own
    return t


def layer_metrics(tracer, roots, counters, latencies) -> dict:
    """Per-layer metrics of a traced run, each the mean per op. The sync
    layers of the serve workload come from its cache fill instead, the
    one sync that workload runs."""
    import stats
    from workloads import FILL_OP

    stage_data = counters.stage_metrics()
    by_op: dict[int, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    per_op = [_root_totals(tracer, r, by_op[r.op], counters, stage_data) for r in roots]
    out = {k: (statistics.fmean(t[k] for t in per_op), u) for k, u in PER_LAYER_UNITS.items()}
    fill = [s for s in by_op.get(FILL_OP, ()) if s.name == "sync.run"]
    if fill:
        t = _root_totals(tracer, fill[0], by_op[FILL_OP], counters, stage_data)
        for k in SYNC_LAYER:
            out[k] = (t[k], PER_LAYER_UNITS[k])
    if out["sync.elapsed_s"][0]:
        out["sync.overlap"] = (out["sync.node_s"][0] / out["sync.elapsed_s"][0], "ratio")
    # the share of op time no layer span covers: for catalog, what the
    # build + plan + exec split leaves out
    out["trace.unattributed_frac"] = (
        out["self.op_s"][0] / statistics.fmean(r.duration for r in roots), "fraction")
    out["trace.ops_per_s"] = (len(latencies) / sum(latencies), "1/s")
    out["trace.p50_s"] = (stats.hd_quantile(latencies, 0.5), "s")
    return out


def run_all(args) -> dict:
    """Every workload, untraced then traced, one child process each."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in ("catalog", "sync", "serve"):
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--data", args.data]
            out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
            results[trace] = json.loads(out.stdout.strip().splitlines()[-1])
        plain, traced = results[0], results[1]
        combined["correct"] &= plain["correct"] and traced["correct"]
        combined["attempted"] += plain["attempted"]
        combined["failed"] += plain["failed"]
        m = plain["metrics"]
        overhead = {
            "trace_overhead.p50_s": (traced["metrics"]["trace.p50_s"]["value"]
                                     - m["p50_s"]["value"], "s"),
            "trace_overhead.ops_per_s": (traced["metrics"]["trace.ops_per_s"]["value"]
                                         - m["ops_per_s"]["value"], "1/s"),
        }
        print(f"{name}: ok {plain['attempted'] - plain['failed']}/{plain['attempted']}")
        for k, v in m.items():
            print(f"  {name}/{k} = {v['value']:.6g} {v['unit']}")
        for k, (v, u) in overhead.items():
            print(f"  {name}/{k} = {v:.6g} {u}")
        for k, v in traced["metrics"].items():
            print(f"  {name}/traced/{k} = {v['value']:.6g} {v['unit']}")
        for k, v in m.items():
            combined["metrics"][f"{name}/{k}"] = v
        for k, (v, u) in overhead.items():
            combined["metrics"][f"{name}/{k}"] = {"value": v, "unit": u}
    return combined


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("catalog", "sync", "serve", "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--data", default=DEFAULT_DATA)
    args = p.parse_args(argv)
    age0 = age_at_first_statement()

    if not os.path.isdir(os.path.join(ROOT, "hobbes_spark")):
        print(f"perfbench: no hobbes_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not all(os.path.exists(os.path.join(args.data, f"{t}.parquet"))
               for t in ("orders", "events", "lineitem")):
        print(f"perfbench: input tables missing under {args.data}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    if args.workload == "all":
        result = run_all(args)
    else:
        result = run_workload(args.workload, args.seed, args.seconds,
                              bool(args.trace), args.data, age0)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
