"""Synchronization orchestration — the reference's worker topology,
Spark-native.

The reference runs a RabbitMQ mesh: a sync worker fans a ``Sync``
message per configuration out to collector queues
(`workers/syncronization.worker/src/Program.fs:50-63`) and polls for
convergence; calculator workers consume ``Transform`` / ``Merge`` /
``Join`` / ``Format`` messages (`common/hobbes.messaging/src/
Broker.fs:74-107`), read inputs from the uniform cache, compute, and
write a cache record tagged ``dependsOn``
(`workers/calculator.worker/src/Program.fs:25-56`); failed messages are
requeued up to five times and exceptions dead-letter
(`Broker.fs:208-256`).

On Spark that queue choreography is replaced by what it was
approximating: a dependency DAG materialized in topological order.
:func:`sync_configurations` takes the configuration set, orders it,
and for each node either reuses the parquet cache entry (the uniform
cache's skip — re-syncing an unchanged config is free) or computes it
with the reference's retry budget, recording failures and exceptions
in the report the sync worker printed at convergence
(`Program.fs:75-82`). Downstream configs of a failed node are
``blocked`` — the analog of the calculator's "No data for that key"
(`Program.fs:10-13`).

Scale shape: the driver-side loop is O(#configurations) orchestration,
never data; every node's result lands in parquet and is READ BACK for
its dependents, truncating the plan at every node — a 50-node chain
recomputes nothing and no plan grows unboundedly.  Independent DAG nodes are
submitted concurrently from a small thread pool against the shared
SparkSession (``max_parallelism``, each worker tagged with a
``spark.scheduler.pool`` local property so a FAIR-configured cluster
interleaves their stages) — the analog of the reference fanning one
``Sync`` message per configuration to independent worker queues
(`workers/syncronization.worker/src/Program.fs:50-63`); a 100-node
configuration set no longer idles the cluster between single-node jobs.

This parquet cache is the engine's one result cache (``_key_of``,
``read_cached``). Cache keys follow the reference's scheme: a
source/transform chain keys ``md5(source):t1:t2``
(`tools/workbench/src/Types.fs:176-184`); a merge keys over its dataset
keys, a join over (left, right, field) — the ``CacheKey`` fields of
``MergeMessage`` / ``JoinMessage`` (`Broker.fs:81-93`). A program key
is a pure function of the configuration, equal in every process. A
program whose text names all it reads (``localdata`` rows, or a
``parquet`` url ``os.stat`` can see) keys its text plus the url's
listing signature — the schema cache's rule — so a rewritten source
gets a new key. Any other program is external (``tables=``, a
``fetcher``, ``git``, text that does not parse): its key folds in the
configuration name and it is recomputed on every sync — the
reference's ``Sync`` re-triggers collectors rather than trusting a
stale uniform cache — unless the caller stamps a ``version``, which
joins every program key. ``force=True`` bypasses every cache hit.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
import traceback
from collections.abc import Callable, Mapping, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from graphlib import CycleError, TopologicalSorter

from pyspark.sql import DataFrame, SparkSession

__all__ = ["Configuration", "SyncReport", "sync_configurations", "read_cached"]


@dataclass(frozen=True)
class Configuration:
    """One configuration: a ``.hb`` program (source provider +
    transformation statements — the ``Sync``+``Transform`` pair), or a
    ``merge`` of other configurations' results, or a ``join`` of two on
    a field (`Broker.fs:74-93`). ``format_json`` additionally writes the
    DataResult JSON export next to the cache entry (the ``Format``
    message, `Broker.fs:97-101`)."""

    name: str
    program: str | None = None
    merge: Sequence[str] = ()
    join: tuple[str, str, str] | None = None  # (left, right, field)
    format_json: bool = False
    # inline tables / fetcher for the program's provider header
    tables: Mapping[str, DataFrame] | None = None
    fetcher: Callable[[str], str] | None = None
    # caller-supplied data epoch (e.g. a collector watermark). It joins
    # the cache key; an external program (see _described_input) without
    # one is recomputed on every sync, matching the reference's Sync
    # message re-triggering collectors (Program.fs:50-63).
    version: str | None = None

    def depends_on(self) -> tuple[str, ...]:
        if self.join is not None:
            return (self.join[0], self.join[1])
        return tuple(self.merge)

    def __post_init__(self):
        kinds = [self.program is not None, bool(self.merge), self.join is not None]
        if sum(kinds) != 1:
            raise ValueError(
                f"configuration {self.name!r} must be exactly one of "
                "program / merge / join"
            )


@dataclass
class SyncReport:
    """What the sync worker printed at convergence
    (`Program.fs:75-82`): per-config status plus the failure and
    dead-letter ledgers."""

    statuses: dict[str, str] = field(default_factory=dict)  # done|cached|failed|blocked
    cache_keys: dict[str, str] = field(default_factory=dict)
    depends_on: dict[str, tuple[str, ...]] = field(default_factory=dict)
    attempts: dict[str, int] = field(default_factory=dict)
    failures: list[tuple[str, str]] = field(default_factory=list)
    dead_letters: list[dict] = field(default_factory=list)
    # per-node (start, end) offsets from sync start — lets callers (and
    # tests) see that independent nodes overlapped
    timings: dict[str, tuple[float, float]] = field(default_factory=dict)
    elapsed_sec: float = 0.0

    @property
    def converged(self) -> bool:
        return all(s in ("done", "cached") for s in self.statuses.values())


def _described_input(cfg: Configuration) -> str | None:
    """Identity of what a program reads when its text names all of it:
    ``""`` for inline ``localdata`` rows, the url's listing signature
    for ``provider: parquet``. ``None`` marks an external program, also
    one that does not parse (it then fails in ``_compute``, not here)."""
    if cfg.tables or cfg.fetcher is not None:
        return None
    from hobbes_spark.hb.parser import parse_program
    from hobbes_spark.pipeline import _listing_signature

    try:
        props = parse_program(cfg.program).properties
    except Exception:  # noqa: BLE001 — any parse error makes it external
        return None
    provider, url = str(props.get("provider") or "").strip().lower(), props.get("url")
    if provider == "localdata" and props.get("columns") and props.get("rows") is not None:
        return ""
    if provider == "parquet" and isinstance(url, str):
        sig = _listing_signature(url.strip())
        if sig is not None:
            return "parquet=" + repr(sig)
    return None


def _key_of(cfg: Configuration, child_keys: Mapping[str, str]) -> tuple[str, bool]:
    """``(cache key, live)``; a live node is recomputed on a key hit
    too. A pure function of the configuration: it never raises and
    reads no Spark state."""
    if cfg.program is not None:
        # the chain md5(source):t1:t2 keyed by the program TEXT plus the
        # identity of its input; an external input has none, so the
        # name keeps same-text configurations apart
        extra = _described_input(cfg)
        live = extra is None and cfg.version is None
        if extra is None:
            extra = "name=" + cfg.name
        if cfg.version is not None:
            extra += "\x1fversion=" + cfg.version
        blob = cfg.program + ("\x1f" + extra if extra else "")
        return hashlib.md5(blob.encode()).hexdigest(), live
    if cfg.join is not None:
        left, right, fld = cfg.join
        blob = "join\x1f" + child_keys[left] + "\x1f" + child_keys[right] + "\x1f" + fld
    else:
        blob = "merge\x1f" + "\x1f".join(child_keys[d] for d in cfg.merge)
    return hashlib.md5(blob.encode()).hexdigest(), False


def read_cached(spark: SparkSession, cache_dir: str, key: str) -> DataFrame:
    """Read a materialized cache entry (the ``fromCache`` analog,
    `workers/calculator.worker/src/Program.fs:7-15`). A warm read of
    an unchanged entry launches no Spark job (``read_parquet_any_ts``)."""
    from hobbes_spark.pipeline import read_parquet_any_ts

    path = os.path.join(cache_dir, key)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise FileNotFoundError(f"No data for that key ({key})")
    return read_parquet_any_ts(spark, path)


def _compute(
    spark: SparkSession,
    cfg: Configuration,
    child_keys: Mapping[str, str],
    cache_dir: str,
) -> DataFrame:
    if cfg.program is not None:
        from hobbes_spark.hb.providers import run_hb_program

        return run_hb_program(
            spark, cfg.program, tables=cfg.tables, fetcher=cfg.fetcher
        ).df
    from hobbes_spark.pipeline import Pipeline

    if cfg.join is not None:
        from hobbes_spark.operators.combinators import join

        left, right, fld = cfg.join
        return join(
            Pipeline(read_cached(spark, cache_dir, child_keys[left])),
            Pipeline(read_cached(spark, cache_dir, child_keys[right])),
            fld,
        ).df
    from hobbes_spark.operators.combinators import merge

    return merge(
        *[Pipeline(read_cached(spark, cache_dir, child_keys[d])) for d in cfg.merge]
    ).df


def sync_configurations(
    spark: SparkSession,
    configurations: Sequence[Configuration],
    cache_dir: str,
    max_retries: int = 5,
    max_parallelism: int = 8,
    force: bool = False,
) -> SyncReport:
    """Materialize every configuration in dependency order, running
    independent DAG nodes concurrently (``max_parallelism`` threads
    against the shared session — the reference's per-queue worker
    fan-out, `Program.fs:50-63`).

    Per node: cache hit → ``cached`` (nothing recomputed; bypassed by
    ``force=True``, an external program without ``version``, or any
    dependency recomputed THIS sync — refreshed inputs invalidate the
    chain even though live nodes keep their key); else compute
    + write parquet with up to ``max_retries`` attempts (the broker's
    requeue budget, `Broker.fs:243-246`); an exhausted or erroring node
    → ``failed`` with a dead-letter record (`Broker.fs:214-221`), and
    every transitive dependent → ``blocked`` without running. The
    report is returned, never raised — convergence with failures is a
    valid outcome the caller inspects, exactly like the worker's
    printed ledgers.
    """
    t0 = time.perf_counter()
    os.makedirs(cache_dir, exist_ok=True)
    configs = {c.name: c for c in configurations}
    if len(configs) != len(configurations):
        names = [c.name for c in configurations]
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(f"duplicate configuration names: {dupes}")
    for cfg in configurations:
        for dep in cfg.depends_on():
            if dep not in configs:
                raise ValueError(
                    f"configuration {cfg.name!r} depends on unknown {dep!r}"
                )

    sorter = TopologicalSorter({c.name: set(c.depends_on()) for c in configurations})
    try:
        sorter.prepare()
    except CycleError as e:
        raise ValueError(f"configuration cycle: {e.args[1]}") from e

    report = SyncReport()
    lock = threading.Lock()
    # Two same-keyed nodes (identical programs under different names)
    # must not race the same parquet path: serialize per key.
    key_locks: dict[str, threading.Lock] = {}

    def _run_node(name: str) -> None:
        cfg = configs[name]
        deps = cfg.depends_on()
        with lock:
            report.depends_on[name] = deps
            if any(report.statuses.get(d) in ("failed", "blocked") for d in deps):
                report.statuses[name] = "blocked"
                return
            child_keys = dict(report.cache_keys)
        key, live = _key_of(cfg, child_keys)
        with lock:
            report.cache_keys[name] = key
            key_lock = key_locks.setdefault(key, threading.Lock())
        # one pool per worker thread: under FAIR mode (session factory)
        # pools share the cluster evenly, so concurrent nodes interleave
        # instead of convoying in one pool's internal FIFO
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"sync-{threading.get_ident()}"
        )
        path = os.path.join(cache_dir, key)
        started = time.perf_counter() - t0
        with key_lock:
            # recompute when forced, live, or any dependency was itself
            # recomputed this sync ('done'): a live node refreshes its
            # parquet UNDER THE SAME KEY, so a dependent's key hit would
            # otherwise serve results over the stale inputs — the
            # reference's Sync recomputes the whole chain after the
            # collectors refresh (Program.fs:50-63)
            with lock:
                dep_refreshed = any(
                    report.statuses.get(d) == "done" for d in deps
                )
            fresh = force or live or dep_refreshed
            if not fresh and os.path.exists(os.path.join(path, "_SUCCESS")):
                with lock:
                    report.statuses[name] = "cached"
                    report.attempts[name] = 0
                    report.timings[name] = (started, time.perf_counter() - t0)
                return
            attempt = 0
            while True:
                attempt += 1
                try:
                    df = _compute(spark, cfg, child_keys, cache_dir)
                    df.write.mode("overwrite").parquet(path)
                    if cfg.format_json:
                        from hobbes_spark.sources.sinks import to_data_result_json

                        written = read_cached(spark, cache_dir, key)
                        with open(path + ".json", "w") as f:
                            f.write(to_data_result_json(written))
                    with lock:
                        report.statuses[name] = "done"
                        report.attempts[name] = attempt
                    break
                except Exception as e:  # noqa: BLE001 — the broker catches all
                    if attempt < max_retries:
                        with lock:
                            report.failures.append((name, str(e)))
                        continue
                    with lock:
                        report.statuses[name] = "failed"
                        report.attempts[name] = attempt
                        report.dead_letters.append(
                            {
                                # DeadLetterMessage shape, Broker.fs:55-62
                                "OriginalQueue": name,
                                "OriginalMessage": cfg.program or json.dumps(
                                    {"merge": list(cfg.merge), "join": cfg.join}
                                ),
                                "ExceptionMessage": str(e),
                                "ExceptionStackTrace": traceback.format_exc(),
                            }
                        )
                    break
        with lock:
            report.timings[name] = (started, time.perf_counter() - t0)

    with ThreadPoolExecutor(max_workers=max(1, max_parallelism)) as pool:
        pending: dict = {}
        for name in sorter.get_ready():
            pending[pool.submit(_run_node, name)] = name
        while pending:
            finished, _ = wait(pending, return_when=FIRST_COMPLETED)
            for fut in finished:
                node = pending.pop(fut)
                fut.result()  # orchestration bugs propagate; compute errors don't reach here
                sorter.done(node)
            for name in sorter.get_ready():
                pending[pool.submit(_run_node, name)] = name

    report.elapsed_sec = round(time.perf_counter() - t0, 3)
    return report
