"""Sync orchestration vs the reference's worker topology semantics
(`workers/syncronization.worker/src/Program.fs:50-82`,
`common/hobbes.messaging/src/Broker.fs:74-107,208-256`,
`workers/calculator.worker/src/Program.fs:7-56`)."""

from __future__ import annotations

import os

import pytest

from hobbes_spark.sync import (
    Configuration,
    read_cached,
    sync_configurations,
)

BASE = """provider: localdata
columns: k v
rows:
  - ["a", 1]
  - ["a", 2]
  - ["b", 5]


"""

DOUBLED = BASE + 'create column v2 (v * 2)\n'
OTHER = """provider: localdata
columns: k w
rows:
  - ["a", 10]
  - ["b", 20]


only true
"""


def _dag():
    return [
        Configuration("base", program=DOUBLED),
        Configuration("other", program=OTHER),
        Configuration("both", merge=["base", "other"]),
        Configuration("joined", join=("base", "other", "k"), format_json=True),
    ]


def test_sync_and_odata_page_write_no_session_conf(spark, tmp_path, conf_writes):
    """No sync or serve path reaches a session-global conf flip (such as
    the streaming replay's ``pinned_shuffle_partitions``): sync runs its
    nodes on a thread pool over one SparkSession, where a flip would leak
    into concurrent jobs. The one write allowed is the idempotent
    nanosAsLong switch that reading nanosecond parquet needs."""
    from hobbes_spark.sources.odata_serve import odata_response

    cache = str(tmp_path / "cache")
    rep = sync_configurations(spark, _dag(), cache)
    assert rep.converged
    page = odata_response(
        read_cached(spark, cache, rep.cache_keys["joined"]),
        {"$orderby": "k", "$top": "2", "$count": "true"},
    )
    assert len(page["value"]) == 2 and page["@odata.count"] == 3
    assert {key for _, key in conf_writes} <= {"spark.sql.legacy.parquet.nanosAsLong"}


def test_dag_materializes_in_dependency_order(spark, tmp_path):
    cache = str(tmp_path / "cache")
    rep = sync_configurations(spark, _dag(), cache)
    assert rep.converged
    assert set(rep.statuses) == {"base", "other", "both", "joined"}
    assert all(s == "done" for s in rep.statuses.values())
    assert rep.depends_on["joined"] == ("base", "other")

    base = read_cached(spark, cache, rep.cache_keys["base"])
    assert {r["v2"] for r in base.collect()} == {2, 4, 10}
    both = read_cached(spark, cache, rep.cache_keys["both"])
    # Merge row count = sum of inputs (calculator tests Processer.fs:62-72)
    assert both.count() == 3 + 2
    assert set(both.columns) == {"k", "v", "v2", "w"}
    joined = read_cached(spark, cache, rep.cache_keys["joined"])
    assert {(r["k"], r["v"], r["w"]) for r in joined.collect()} == {
        ("a", 1, 10), ("a", 2, 10), ("b", 5, 20)
    }
    # Format message wrote the DataResult JSON export next to the entry
    import json

    with open(os.path.join(cache, rep.cache_keys["joined"]) + ".json") as f:
        dr = json.load(f)
    assert dr["rowCount"] == 3 and "columnNames" in dr


def test_resync_is_all_cache_hits(spark, tmp_path):
    cache = str(tmp_path / "cache")
    first = sync_configurations(spark, _dag(), cache)
    # poison every cache entry's parquet mtime marker via a sentinel
    # file: a re-sync must NOT rewrite anything
    marks = {
        n: os.path.getmtime(os.path.join(cache, k))
        for n, k in first.cache_keys.items()
    }
    second = sync_configurations(spark, _dag(), cache)
    assert second.converged
    assert all(s == "cached" for s in second.statuses.values())
    assert second.cache_keys == first.cache_keys
    for n, k in second.cache_keys.items():
        assert os.path.getmtime(os.path.join(cache, k)) == marks[n]
    # a changed program changes the key (the uniform-cache identity) and
    # recomputes ONLY itself and its dependents
    changed = [
        Configuration("base", program=BASE + 'create column v2 (v * 3)\n'),
        Configuration("other", program=OTHER),
        Configuration("both", merge=["base", "other"]),
    ]
    third = sync_configurations(spark, changed, cache)
    assert third.statuses == {"base": "done", "other": "cached", "both": "done"}
    assert third.cache_keys["base"] != first.cache_keys["base"]


def test_warm_read_cached_launches_no_job(spark, tmp_path, spark_jobs):
    """A served entry's schema is resolved once; every later read of the
    unchanged entry is pure plan building."""
    cache = str(tmp_path / "cache")
    rep = sync_configurations(spark, _dag(), cache)
    key = rep.cache_keys["joined"]  # format_json already read it once
    warm, jobs, _ = spark_jobs(lambda: read_cached(spark, cache, key))
    assert jobs == 0
    assert warm.schema == spark.read.parquet(os.path.join(cache, key)).schema
    assert warm.count() == 3


def test_failure_dead_letters_and_blocks_dependents(spark, tmp_path):
    cache = str(tmp_path / "cache")
    bad = BASE + "create column boom (nope_column * 2)\n"
    rep = sync_configurations(
        spark,
        [
            Configuration("bad", program=bad),
            Configuration("okay", program=OTHER),
            Configuration("downstream", merge=["bad", "okay"]),
        ],
        cache,
        max_retries=2,
    )
    assert not rep.converged
    assert rep.statuses == {"bad": "failed", "okay": "done", "downstream": "blocked"}
    assert rep.attempts["bad"] == 2  # the requeue budget (Broker.fs:243-246)
    assert len(rep.failures) == 1  # attempts before the dead-letter
    [dl] = rep.dead_letters
    # DeadLetterMessage shape (Broker.fs:55-62)
    assert dl["OriginalQueue"] == "bad"
    assert "nope_column" in dl["OriginalMessage"]
    assert dl["ExceptionMessage"]
    assert "downstream" not in rep.cache_keys  # blocked nodes never ran


def test_transient_failure_retries_then_succeeds(spark, tmp_path, monkeypatch):
    cache = str(tmp_path / "cache")
    calls = {"n": 0}
    import hobbes_spark.sync as S

    real = S._compute

    def flaky(spark_, cfg, child_keys, cache_dir):
        if cfg.name == "flaky":
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("transient collector hiccup")
        return real(spark_, cfg, child_keys, cache_dir)

    monkeypatch.setattr(S, "_compute", flaky)
    rep = sync_configurations(
        spark, [Configuration("flaky", program=OTHER)], cache, max_retries=5
    )
    assert rep.converged
    assert rep.attempts["flaky"] == 3
    assert len(rep.failures) == 2


def test_independent_nodes_overlap(spark, tmp_path, monkeypatch):
    """Independent DAG nodes run concurrently — the reference fans one
    Sync message per configuration to independent worker queues
    (Program.fs:50-63). A 2-party barrier inside _compute can only be
    satisfied if both nodes are in flight at once."""
    import threading

    import hobbes_spark.sync as S

    cache = str(tmp_path / "cache")
    barrier = threading.Barrier(2, timeout=60)
    real = S._compute

    def rendezvous(spark_, cfg, child_keys, cache_dir):
        barrier.wait()  # deadlocks (-> BrokenBarrierError) if serial
        return real(spark_, cfg, child_keys, cache_dir)

    monkeypatch.setattr(S, "_compute", rendezvous)
    rep = sync_configurations(
        spark,
        [Configuration("left", program=DOUBLED), Configuration("right", program=OTHER)],
        cache,
        max_retries=1,
        max_parallelism=4,
    )
    assert rep.converged and rep.statuses == {"left": "done", "right": "done"}
    (ls, le), (rs, re) = rep.timings["left"], rep.timings["right"]
    assert ls < re and rs < le  # the intervals overlap


def test_cache_key_folds_in_inline_tables(spark, tmp_path):
    """ADVICE r5 (medium): identical program text over DIFFERENT inline
    tables must not collide on one cache entry."""
    cache = str(tmp_path / "cache")
    prog = "provider: localdata\nname: ext\n\n\nonly true\n"
    t1 = spark.createDataFrame([("a", 1)], "k string, v int")
    t2 = spark.createDataFrame([("b", 99)], "k string, v int")
    sync_configurations(
        spark, [Configuration("cfg", program=prog, tables={"ext": t1})], cache
    )
    second = sync_configurations(
        spark, [Configuration("cfg", program=prog, tables={"ext": t2})], cache
    )
    assert second.statuses["cfg"] == "done"  # recomputed, not a stale hit
    assert {r["k"] for r in read_cached(spark, cache, second.cache_keys["cfg"]).collect()} == {"b"}
    # two same-text configurations in ONE sync: the name keeps them apart
    both = sync_configurations(
        spark,
        [
            Configuration("one", program=prog, tables={"ext": t1}),
            Configuration("two", program=prog, tables={"ext": t2}),
        ],
        cache,
    )
    assert both.statuses == {"one": "done", "two": "done"}
    assert both.cache_keys["one"] != both.cache_keys["two"]
    got = {
        n: {r["k"] for r in read_cached(spark, cache, k).collect()}
        for n, k in both.cache_keys.items()
    }
    assert got == {"one": {"a"}, "two": {"b"}}


def _write_rows(path, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"k": [f"k{i}" for i in range(n)], "v": list(range(n))}), path)


def _rows(spark, cache, key):
    return read_cached(spark, cache, key).count()


def test_rewritten_parquet_source_recomputes_its_chain(spark, tmp_path):
    """A ``provider: parquet`` key carries the url's ``os.stat`` listing
    signature: rewriting the file recomputes the node and its merge."""
    cache = str(tmp_path / "cache")
    src = str(tmp_path / "src.parquet")
    _write_rows(src, 5)
    dag = [
        Configuration("src", program=f"provider: parquet\nurl: {src}\n\nonly true\n"),
        Configuration("other", program=OTHER),
        Configuration("both", merge=["src", "other"]),
    ]
    first = sync_configurations(spark, dag, cache)
    assert first.converged and _rows(spark, cache, first.cache_keys["src"]) == 5
    again = sync_configurations(spark, dag, cache)
    assert set(again.statuses.values()) == {"cached"}
    assert again.cache_keys == first.cache_keys
    _write_rows(src, 50)
    fresh = sync_configurations(spark, dag, cache)
    assert fresh.statuses == {"src": "done", "other": "cached", "both": "done"}
    assert _rows(spark, cache, fresh.cache_keys["src"]) == 50
    assert _rows(spark, cache, fresh.cache_keys["both"]) == 50 + 2


def test_tables_frame_is_recomputed_unless_versioned(spark, tmp_path):
    """A ``tables=`` frame is an external input: the sync cannot see its
    file, so the node is recomputed on every sync unless ``version``
    pins it."""
    cache = str(tmp_path / "cache")
    src = str(tmp_path / "ext.parquet")
    prog = "provider: localdata\nname: ext\n\n\nonly true\n"
    _write_rows(src, 5)
    cfg = [Configuration("cfg", program=prog, tables={"ext": spark.read.parquet(src)})]
    first = sync_configurations(spark, cfg, cache)
    assert _rows(spark, cache, first.cache_keys["cfg"]) == 5
    _write_rows(src, 50)
    cfg = [Configuration("cfg", program=prog, tables={"ext": spark.read.parquet(src)})]
    second = sync_configurations(spark, cfg, cache)
    assert second.statuses["cfg"] == "done"
    assert _rows(spark, cache, second.cache_keys["cfg"]) == 50

    pinned = [
        Configuration("cfg", program=prog, tables={"ext": spark.read.parquet(src)}, version="v1")
    ]
    sync_configurations(spark, pinned, cache)
    assert sync_configurations(spark, pinned, cache).statuses["cfg"] == "cached"


def test_git_source_recomputes_on_a_new_commit(spark, tmp_path):
    import subprocess

    from test_collectors import _ENV, _run

    repo = tmp_path / "repo"

    def commit(msg):
        (repo / "a.txt").write_text(msg)
        _run(repo, "add", "a.txt")
        _run(repo, "commit", "-q", "-m", msg)

    subprocess.run(["git", "init", "-q", "-b", "main", str(repo)], env=_ENV, check=True, capture_output=True)
    commit("first")
    cache = str(tmp_path / "cache")
    dag = [Configuration("commits", program=f"provider: git\nurl: {repo}\n\nonly true\n")]
    first = sync_configurations(spark, dag, cache)
    assert _rows(spark, cache, first.cache_keys["commits"]) == 1
    commit("second")
    second = sync_configurations(spark, dag, cache)
    assert second.statuses["commits"] == "done"
    got = read_cached(spark, cache, second.cache_keys["commits"])
    assert sorted(r["message"].strip() for r in got.collect()) == ["first", "second"]


def test_unparseable_program_dead_letters(spark, tmp_path):
    """``_key_of`` runs outside the retry loop and never raises: a
    program that does not parse is keyed as external and fails in
    ``_compute`` like any other error."""
    bad = BASE + "# not a statement\n"
    rep = sync_configurations(
        spark,
        [Configuration("bad", program=bad), Configuration("okay", program=OTHER)],
        str(tmp_path / "cache"),
        max_retries=1,
    )
    assert rep.statuses == {"bad": "failed", "okay": "done"}
    [dl] = rep.dead_letters
    assert dl["OriginalQueue"] == "bad" and "bad" in rep.cache_keys


def test_parquet_key_is_the_same_in_a_process_without_spark(spark, tmp_path):
    import subprocess
    import sys

    cache = str(tmp_path / "cache")
    src = str(tmp_path / "src.parquet")
    _write_rows(src, 5)
    prog = f"provider: parquet\nurl: {src}\n\nonly true\n"
    rep = sync_configurations(spark, [Configuration("src", program=prog)], cache)
    code = (
        "import sys\n"
        "from pyspark import SparkContext\n"
        "from hobbes_spark.sync import Configuration, _key_of\n"
        "key, live = _key_of(Configuration('src', program=sys.argv[1]), {})\n"
        "assert SparkContext._active_spark_context is None\n"
        "print(key, live)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code, prog],
        env={**os.environ, "PYTHONPATH": repo},
        check=True, capture_output=True, text=True,
    ).stdout.split()
    assert out == [rep.cache_keys["src"], "False"]


def test_localdata_keys_are_md5_of_text():
    import hashlib

    from hobbes_spark.sync import _key_of

    for cfg in _dag():
        if cfg.program is not None:
            assert _key_of(cfg, {}) == (hashlib.md5(cfg.program.encode()).hexdigest(), False)


def test_live_fetcher_refreshes_and_version_pins(spark, tmp_path):
    """A program with a live fetcher and no version refreshes on every
    sync (the Sync message re-triggers collectors); an explicit version
    makes it cacheable until the version changes."""
    cache = str(tmp_path / "cache")
    prog = (
        "provider: rest\nurl:\n    - https://fake/feed\nvalues: value\n\nonly true\n"
    )
    feed = {"body": '{"value": [{"k": "x", "n": 1}]}'}

    def fetch(url):
        return feed["body"]

    live = [Configuration("feed", program=prog, fetcher=fetch)]
    first = sync_configurations(spark, live, cache)
    assert first.statuses["feed"] == "done"
    feed["body"] = '{"value": [{"k": "y", "n": 2}, {"k": "z", "n": 3}]}'
    second = sync_configurations(spark, live, cache)
    assert second.statuses["feed"] == "done"  # NOT 'cached': data refreshed
    got = read_cached(spark, cache, second.cache_keys["feed"])
    assert {r["k"] for r in got.collect()} == {"y", "z"}

    # the refresh CASCADES: a dependent of the live node keeps its own
    # cache key, so a key hit would serve a join over STALE inputs —
    # it must recompute whenever its dependency recomputed this sync
    dims = "provider: localdata\ncolumns: k label\nrows:\n  - [\"y\", \"why\"]\n  - [\"z\", \"zed\"]\n\n\nonly true\n"
    chain = [
        Configuration("feed", program=prog, fetcher=fetch),
        Configuration("dims", program=dims),
        Configuration("joined", join=("feed", "dims", "k")),
    ]
    sync_configurations(spark, chain, cache)
    feed["body"] = '{"value": [{"k": "z", "n": 9}]}'
    again2 = sync_configurations(spark, chain, cache)
    assert again2.statuses == {"feed": "done", "dims": "cached", "joined": "done"}
    joined = read_cached(spark, cache, again2.cache_keys["joined"])
    # outer join (§2.5): unmatched dim row 'y' survives with NULL n;
    # the stale first-sync feed rows (y:2, z:3) must be gone
    assert {(r["k"], r["n"], r["label"]) for r in joined.collect()} == {
        ("z", 9, "zed"), ("y", None, "why")
    }

    pinned = [Configuration("feed2", program=prog, fetcher=fetch, version="v1")]
    sync_configurations(spark, pinned, cache)
    again = sync_configurations(spark, pinned, cache)
    assert again.statuses["feed2"] == "cached"
    bumped = sync_configurations(
        spark,
        [Configuration("feed2", program=prog, fetcher=fetch, version="v2")],
        cache,
    )
    assert bumped.statuses["feed2"] == "done"
    assert bumped.cache_keys["feed2"] != again.cache_keys["feed2"]


def test_force_bypasses_cache_hits(spark, tmp_path):
    cache = str(tmp_path / "cache")
    sync_configurations(spark, _dag(), cache)
    forced = sync_configurations(spark, _dag(), cache, force=True)
    assert forced.converged
    assert all(s == "done" for s in forced.statuses.values())


def test_parallel_equals_serial_on_random_dags(spark, tmp_path, monkeypatch):
    """Property: for random DAGs with planted failures, thread-pooled
    execution produces exactly the serial ledger — statuses, blocked
    propagation, attempts, dead-letter set, cache keys. _compute is
    stubbed (tiny frame or planted raise) so the property run times
    orchestration, not Spark writes."""
    import random

    import hobbes_spark.sync as S

    def stub(spark_, cfg, child_keys, cache_dir):
        if cfg.program is not None and "BOOM" in cfg.program:
            raise RuntimeError("planted failure")
        return spark_.range(1)

    monkeypatch.setattr(S, "_compute", stub)
    rng = random.Random(606)
    for case in range(8):
        names = [f"n{case}_{i}" for i in range(rng.randrange(3, 8))]
        cfgs = []
        for i, name in enumerate(names):
            deps = [d for d in names[:i] if rng.random() < 0.4]
            fail = rng.random() < 0.25
            if deps and rng.random() < 0.5:
                cfgs.append(Configuration(name, merge=deps))
            else:
                body = f"provider: localdata\ncolumns: k\nrows:\n  - [1]\n\n\n{'# BOOM' if fail else '# ok'} {name}\nonly true\n"
                cfgs.append(Configuration(name, program=body))
        serial = sync_configurations(
            spark, cfgs, str(tmp_path / f"s{case}"), max_retries=2, max_parallelism=1
        )
        para = sync_configurations(
            spark, cfgs, str(tmp_path / f"p{case}"), max_retries=2, max_parallelism=8
        )
        assert para.statuses == serial.statuses, f"case {case}"
        assert para.attempts == serial.attempts
        assert para.cache_keys == serial.cache_keys
        assert para.depends_on == serial.depends_on
        # ledgers are sets under concurrency (completion order varies)
        assert sorted(para.failures) == sorted(serial.failures)
        assert sorted(d["OriginalQueue"] for d in para.dead_letters) == sorted(
            d["OriginalQueue"] for d in serial.dead_letters
        )
        assert set(para.timings) == {
            n for n, s in para.statuses.items() if s != "blocked"
        }


def test_validation_errors(spark, tmp_path):
    cache = str(tmp_path / "cache")
    with pytest.raises(ValueError, match="unknown"):
        sync_configurations(
            spark, [Configuration("a", merge=["ghost"])], cache
        )
    with pytest.raises(ValueError, match="cycle"):
        sync_configurations(
            spark,
            [Configuration("a", merge=["b"]), Configuration("b", merge=["a"])],
            cache,
        )
    with pytest.raises(ValueError, match="duplicate"):
        sync_configurations(
            spark,
            [Configuration("a", program=BASE), Configuration("a", program=OTHER)],
            cache,
        )
    with pytest.raises(ValueError, match="exactly one"):
        Configuration("x", program=BASE, merge=["a"])
    with pytest.raises(FileNotFoundError, match="No data for that key"):
        read_cached(spark, cache, "deadbeef")
