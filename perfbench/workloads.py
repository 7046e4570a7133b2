"""The three workloads. Each one sets itself up (session state, cache
fill, warm-up, reference results), yields an endless seeded stream of
ops, runs one op inside the timed region and checks its output outside
it. The loop that drives them is in ``run.py``."""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import frozen
import stats


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    cores: int
    tracer: object  # tracing.Tracer, or tracing.NullTracer when untraced


# ------------------------------------------------------------------ #
# output checks shared by the workloads
# ------------------------------------------------------------------ #

def _cell(v) -> str:
    """One cell as a comparable string: the strict rule of the repo's
    oracle gate (no int/float collapsing), NULL and NaN alike."""
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    return str(v)


def snapshot(pdf) -> tuple[list[str], list[tuple]]:
    """Sorted column names and sorted rows: an order-insensitive view of
    a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False))
    return cols, rows


def compare(got, want) -> str:
    """'' when two frames hold the same rows, else why not."""
    g_cols, g_rows = snapshot(got)
    w_cols, w_rows = snapshot(want)
    if g_cols != w_cols:
        return f"columns {g_cols} vs {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"rows {len(g_rows)} vs {len(w_rows)}"
    for a, b in zip(g_rows, w_rows):
        if a != b:
            return f"values {a} vs {b}"
    return ""


def duckdb_tables(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in frozen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


# ------------------------------------------------------------------ #
# catalog: the analyst's read-only query mix
# ------------------------------------------------------------------ #

class Catalog:
    """One op is one headline query, built with ``QUERIES[name].spark``
    and written to the noop sink. Ops come in passes over all 23
    queries, each pass in an order the seed shuffles anew, and a run
    stops only at the end of a pass (``batch``): every run then times
    each query equally often, whatever the seed. Timing a cut-off pass
    made the median depend on which queries the cut left in, and it
    moved 27% across seeds."""

    name = "catalog"
    batch = len(frozen.CATALOG)

    def __init__(self, ctx: Context) -> None:
        from hobbes_spark.queries import QUERIES

        missing = [n for n in frozen.CATALOG if n not in QUERIES]
        if missing:
            raise SystemExit(f"catalog queries missing from the repo: {missing}")
        self.ctx = ctx
        self.queries = {n: QUERIES[n] for n in frozen.CATALOG}
        self.rng = random.Random(ctx.seed)
        self.verdict: dict[str, str] = {}
        self.order: list[str] = []

    def setup(self) -> dict:
        """Check, which is also the warm-up. The check pass builds and
        collects every query once, ``2 * cores`` at a time, and compares
        it with its DuckDB oracle. A second, untimed pass to the noop
        sink would cost about a third of a run, which the time budget
        does not have (README.md, "Time budget").

        Each oracle runs on one DuckDB thread, and only after its query
        has been collected: some oracles replay a parquet dump that the
        query itself writes (``minhash_pairs_fast``), and one read while
        the dump was being rewritten returned 28 rows instead of 256."""
        ctx = self.ctx
        con = duckdb_tables(ctx.data_dir)

        def oracle(name):
            try:
                return con.execute(self.queries[name].oracle).df()
            except Exception as e:  # noqa: BLE001 - recorded as a failed check
                return e

        def collect(name):
            try:
                got = self.queries[name].spark(ctx.spark, ctx.data_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - recorded as a failed check
                got = e
            return name, got, duck.submit(oracle, name)

        t0 = time.perf_counter()
        order = random.Random(f"check-{ctx.seed}").sample(frozen.CATALOG, len(frozen.CATALOG))
        with ThreadPoolExecutor(1) as duck:
            with ThreadPoolExecutor(2 * ctx.cores) as pool:
                collected = list(pool.map(collect, order))
            for name, got, want in collected:
                want = want.result()
                if isinstance(got, Exception):
                    self.verdict[name] = f"spark: {type(got).__name__}: {str(got)[:200]}"
                elif isinstance(want, Exception):
                    self.verdict[name] = f"oracle: {type(want).__name__}: {str(want)[:200]}"
                else:
                    self.verdict[name] = compare(got, want)
        con.close()
        return {"check_pass_s": time.perf_counter() - t0,
                "check_failures": {n: v for n, v in self.verdict.items() if v}}

    def ops(self):
        while True:
            yield from self.rng.sample(frozen.CATALOG, len(frozen.CATALOG))

    def execute(self, name: str) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        self.order.append(name)
        with tr.span("queries.build", query=name):
            df = self.queries[name].spark(ctx.spark, ctx.data_dir)
        if tr.enabled:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, name: str, _) -> str:
        return self.verdict[name] and f"{name}: {self.verdict[name]}"

    def detail(self) -> dict:
        return {"queries": self.order}

    def instrument(self, tracer) -> None:
        from hobbes_spark.pipeline import Pipeline

        tracer.wrap(Pipeline, "from_parquet", "pipeline.read")


# ------------------------------------------------------------------ #
# sync: the calculator's write path
# ------------------------------------------------------------------ #

def configurations(data_dir: str, order: list[str]):
    from hobbes_spark.sync import Configuration

    cfgs = {
        n: Configuration(n, program=text.replace("{data}", data_dir),
                         format_json=n in frozen.FORMAT_JSON)
        for n, text in frozen.PROGRAMS.items()
    }
    m_name, m_inputs = frozen.MERGE
    cfgs[m_name] = Configuration(m_name, merge=m_inputs,
                                 format_json=m_name in frozen.FORMAT_JSON)
    j_name, j_spec = frozen.JOIN
    cfgs[j_name] = Configuration(j_name, join=j_spec,
                                 format_json=j_name in frozen.FORMAT_JSON)
    return [cfgs[n] for n in order]


def oracle_rows(data_dir: str) -> dict[str, int]:
    """Row count each DAG node must produce, from DuckDB."""
    from hobbes_spark.queries import QUERIES

    con = duckdb_tables(data_dir)
    out = {}
    for node, (kind, ref) in frozen.ORACLE_ROWS.items():
        sql = QUERIES[ref].oracle if kind == "query" else ref
        out[node] = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
    con.close()
    return out


def check_sync(report, cache_dir: str, want_rows: dict[str, int]) -> str:
    bad = {n: s for n, s in report.statuses.items() if s != "done"}
    if bad or set(report.statuses) != set(frozen.DAG_NODES):
        return f"statuses {bad or sorted(report.statuses)}"
    for node, want in want_rows.items():
        path = os.path.join(cache_dir, report.cache_keys[node])
        got = parquet_rows(path)
        if got != want:
            return f"{node}: {got} rows, oracle {want}"
        if node in frozen.FORMAT_JSON:
            with open(path + ".json") as f:
                exported = json.load(f)
            if exported.get("rowCount") != want:
                return f"{node}: JSON export rowCount {exported.get('rowCount')}, oracle {want}"
    return ""


def sync_dag(ctx: Context, order: list[str], cache: str):
    """One ``sync_configurations`` of the DAG into ``cache``, with the
    configuration list in ``order``. In the traced run the call is a
    ``sync.run`` span with one child per node from
    ``SyncReport.timings``; spans the pool threads record are placed
    under the node whose thread and interval hold them."""
    from hobbes_spark.sync import sync_configurations

    cfgs = configurations(ctx.data_dir, order)
    tr = ctx.tracer
    if not tr.enabled:
        return sync_configurations(ctx.spark, cfgs, cache, max_parallelism=ctx.cores)
    # the pool threads write outside any span, so with no job group
    ungrouped = set(tr.counters.tracker.getJobIdsForGroup(None))
    with tr.span("sync.run") as root:
        since = len(tr.spans)
        t0 = time.perf_counter()
        report = sync_configurations(ctx.spark, cfgs, cache, max_parallelism=ctx.cores)
    root.attrs["ungrouped_jobs"] = sorted(
        set(tr.counters.tracker.getJobIdsForGroup(None)) - ungrouped)
    threads = {s.attrs["node"]: s.thread for s in tr.spans[since:] if "node" in s.attrs}
    homes = [
        tr.add("sync.node", t0 + a, t0 + b, parent=root.id, node=n,
               thread=threads.get(n), status=report.statuses.get(n))
        for n, (a, b) in report.timings.items()
    ]
    tr.adopt(root, homes, since)
    root.attrs["report"] = {
        "elapsed_s": report.elapsed_sec,
        "done": sum(s == "done" for s in report.statuses.values()),
        "cached": sum(s == "cached" for s in report.statuses.values()),
        "retries": len(report.failures),
    }
    return report


def instrument_sync(tracer, data_dir: str) -> None:
    """Spans around the public functions a sync calls into."""
    import hobbes_spark.hb.compiler as compiler
    import hobbes_spark.hb.providers as providers
    import hobbes_spark.operators.combinators as combinators
    import hobbes_spark.sources.sinks as sinks
    from hobbes_spark.pipeline import Pipeline

    by_text = {t.replace("{data}", data_dir): n for n, t in frozen.PROGRAMS.items()}
    tracer.wrap(providers, "run_hb_program", "hb.program",
                label=lambda spark, text, *a, **k: {"node": by_text.get(text)})
    tracer.wrap(compiler, "compile_hb", "hb.compile")
    tracer.wrap(compiler, "parse_program", "hb.parse")
    tracer.wrap(providers, "resolve_source", "providers.resolve")
    tracer.wrap(Pipeline, "from_parquet", "pipeline.read")
    tracer.wrap(combinators, "merge", "sync.combine",
                label=lambda *a, **k: {"node": frozen.MERGE[0]})
    tracer.wrap(combinators, "join", "sync.combine",
                label=lambda *a, **k: {"node": frozen.JOIN[0]})
    tracer.wrap(sinks, "to_data_result_json", "sinks.json",
                result=lambda out: {"bytes": len(out)})


class Sync:
    """One op is a cold sync of the 11-node DAG into a fresh cache
    directory, with the configuration list in a seeded order. Removing
    the directory afterwards is not timed. Warm-up syncs run until a
    sync is no longer faster than the one before."""

    name = "sync"
    batch = 1
    max_warm = 5
    settle = 0.05

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.want_rows: dict[str, int] = {}
        self.n = 0

    def _dir(self) -> str:
        self.n += 1
        return os.path.join(self.ctx.work_dir, "sync", f"op-{self.n}")

    def setup(self) -> dict:
        self.want_rows = oracle_rows(self.ctx.data_dir)
        times = []
        while len(times) < self.max_warm and not stats.warmed_up(times, self.settle):
            cache = self._dir()
            t0 = time.perf_counter()
            report = sync_dag(self.ctx, list(frozen.DAG_NODES), cache)
            times.append(time.perf_counter() - t0)
            why = check_sync(report, cache, self.want_rows)
            shutil.rmtree(cache)
            if why:
                raise RuntimeError(f"warm-up sync failed its check: {why}")
        return {"warm_ops_s": times}

    def ops(self):
        nodes = list(frozen.DAG_NODES)
        while True:
            yield self.rng.sample(nodes, len(nodes))

    def execute(self, order: list[str]):
        cache = self._dir()
        return cache, sync_dag(self.ctx, order, cache)

    def check(self, order, result) -> str:
        cache, report = result
        try:
            return check_sync(report, cache, self.want_rows)
        finally:
            shutil.rmtree(cache, ignore_errors=True)

    def instrument(self, tracer) -> None:
        instrument_sync(tracer, self.ctx.data_dir)


# ------------------------------------------------------------------ #
# serve: the gateway read path
# ------------------------------------------------------------------ #

# Request shape; README.md ("Serve traffic") gives the source of each value
ZIPF_S = 1.0
TOP = 50
PAGES = 3
FILL_OP = -1  # op id of the serve workload's cache fill in the trace


def column_ranges(cache: str, keys: dict[str, str]) -> dict:
    """entry -> column -> (min, max, integer?) over the cached parquet:
    the span that ``$filter`` constants are drawn from."""
    import duckdb

    out = {}
    with duckdb.connect() as con:
        for entry, meta in frozen.SERVE_ENTRIES:
            t = f"read_parquet('{os.path.join(cache, keys[entry])}/*.parquet')"
            cols = meta["num"]
            row = con.execute("SELECT {} FROM {}".format(
                ", ".join(f'min("{c}"), max("{c}")' for c in cols), t)).fetchone()
            out[entry] = {}
            for i, c in enumerate(cols):
                lo, hi = row[2 * i], row[2 * i + 1]
                is_int = isinstance(lo, int)
                out[entry][c] = (lo, hi, True) if is_int else (float(lo), float(hi), False)
    return out


def request_stream(rng: random.Random, ranges: dict):
    """Endless OData requests: the entry is Zipf-chosen (the first
    entries of ``SERVE_ENTRIES`` most often), filter constants are drawn
    fresh for every request from ``ranges`` (see ``column_ranges``).
    Each item is (entry, options, sql) where ``sql`` renders the same
    request for DuckDB over ``{t}``."""
    entries = [e for e, _ in frozen.SERVE_ENTRIES]
    meta = dict(frozen.SERVE_ENTRIES)
    weights = [1.0 / (i + 1) ** ZIPF_S for i in range(len(entries))]
    while True:
        entry = rng.choices(entries, weights)[0]
        m = meta[entry]
        terms_o, terms_s = [], []
        for col in rng.sample(m["num"], min(len(m["num"]), rng.choice((1, 2)))):
            lo, hi, is_int = ranges[entry][col]
            c = rng.randint(lo, hi) if is_int else round(rng.uniform(lo, hi), 2)
            op = rng.choice(("gt", "ge", "lt", "le"))
            terms_o.append(f"{col} {op} {c}")
            sql_op = {"gt": ">", "ge": ">=", "lt": "<", "le": "<="}[op]
            terms_s.append(f'"{col}" {sql_op} {c}')
        cols = list(m["cols"])
        picked = set(rng.sample(cols, rng.randint(1, len(cols))))
        select = [c for c in cols if c in picked]
        sort_col = rng.choice(cols)
        desc = rng.random() < 0.5
        order_o = [f"{sort_col} {'desc' if desc else 'asc'}"]
        order_s = [f'"{sort_col}" {"DESC" if desc else "ASC"}']
        for k in m["key"]:
            if k != sort_col:
                order_o.append(f"{k} asc")
                order_s.append(f'"{k}" ASC')
        skip = TOP * rng.randrange(PAGES)
        options = {
            "$filter": " and ".join(terms_o),
            "$select": ",".join(select),
            "$orderby": ",".join(order_o),
            "$top": str(TOP),
            "$skip": str(skip),
            # always: with $count on half the requests, the extra count
            # job split latencies into two modes and the median of a run
            # jumped between them with the seed
            "$count": "true",
        }
        where = " AND ".join(terms_s)
        sql = {
            "rows": "SELECT {} FROM {{t}} WHERE {} ORDER BY {} LIMIT {} OFFSET {}".format(
                ", ".join(f'"{c}"' for c in select), where, ", ".join(order_s), TOP, skip),
            "count": f"SELECT COUNT(*) FROM {{t}} WHERE {where}",
        }
        yield entry, options, sql


def _json_value(v):
    """A DuckDB value in the form ``odata_response`` puts in JSON."""
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


class Serve:
    """Setup syncs the DAG once. One op reads a cached entry
    (``read_cached``), answers one OData request on it
    (``odata_response``) and renders the response (``json.dumps``)."""

    name = "serve"
    batch = 1
    warm_ops = 100

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)
        self.cache = os.path.join(ctx.work_dir, "serve", "cache")
        self.keys: dict[str, str] = {}
        self.ranges: dict = {}
        self.entries: list[str] = []

    def setup(self) -> dict:
        """Fill the cache with one sync of the DAG (the sync layers'
        spans in the traced run come from this fill, under op id
        ``FILL_OP``) and check it like a ``sync`` op. Then warm up with
        ``warm_ops`` requests, ``cores`` at a time."""
        shutil.rmtree(self.cache, ignore_errors=True)
        want_rows = oracle_rows(self.ctx.data_dir)
        t0 = time.perf_counter()
        self.ctx.tracer.op = FILL_OP
        report = sync_dag(self.ctx, list(frozen.DAG_NODES), self.cache)
        self.ctx.tracer.op = None
        fill_s = time.perf_counter() - t0
        why = check_sync(report, self.cache, want_rows)
        if why:
            raise RuntimeError(f"cache fill failed its check: {why}")
        self.keys = dict(report.cache_keys)
        self.ranges = column_ranges(self.cache, self.keys)
        # warm-up on a stream of its own, so the timed stream is the
        # seed's from its first request
        warm = request_stream(random.Random(f"warm-{self.ctx.seed}"), self.ranges)
        reqs = [next(warm) for _ in range(self.warm_ops)]

        def one(req):
            t = time.perf_counter()
            self.execute(req)
            return time.perf_counter() - t

        t0 = time.perf_counter()
        with ThreadPoolExecutor(self.ctx.cores) as pool:
            times = list(pool.map(one, reqs))
        warm_s = time.perf_counter() - t0
        self.entries.clear()
        return {"cache_fill_s": fill_s, "warm_s": warm_s, "warm_ops_s": times}

    def ops(self):
        return request_stream(self.rng, self.ranges)

    def execute(self, req):
        from hobbes_spark.sources.odata_serve import odata_response
        from hobbes_spark.sync import read_cached

        entry, options, _ = req
        self.entries.append(entry)
        tr = self.ctx.tracer
        with tr.span("serve.read_cached", entry=entry):
            df = read_cached(self.ctx.spark, self.cache, self.keys[entry])
        with tr.span("odata.response") as s:
            resp = odata_response(df, options)
            if s is not None:
                s.attrs["rows"] = len(resp["value"])
        with tr.span("serve.render") as s:
            body = json.dumps(resp)
            if s is not None:
                s.attrs["bytes"] = len(body)
        return resp

    def check(self, req, resp) -> str:
        """Rows and ``@odata.count`` against DuckDB over the same cached
        parquet."""
        import duckdb

        entry, options, sql = req
        t = f"read_parquet('{os.path.join(self.cache, self.keys[entry])}/*.parquet')"
        with duckdb.connect() as con:
            rows = con.execute(sql["rows"].format(t=t)).fetchall()
            n = con.execute(sql["count"].format(t=t)).fetchone()[0]
        want = [{c: _json_value(v) for c, v in zip(options["$select"].split(","), row)}
                for row in rows]
        if resp["value"] != want:
            return f"{entry} {options}: rows differ ({len(resp['value'])} vs {len(want)})"
        if resp.get("@odata.count") != n:
            return f"{entry} {options}: count {resp.get('@odata.count')} vs {n}"
        return ""

    def detail(self) -> dict:
        return {"entries": self.entries}

    def instrument(self, tracer) -> None:
        import hobbes_spark.sources.odata_serve as odata_serve

        instrument_sync(tracer, self.ctx.data_dir)
        tracer.wrap(odata_serve, "parse_filter", "odata.parse_filter")


WORKLOADS = {w.name: w for w in (Catalog, Sync, Serve)}
