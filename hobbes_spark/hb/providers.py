"""Resolve a ``.hb`` program's provider header into a source Pipeline.

The reference routes each provider name to a collector worker
(`workers/syncronization.worker/src/Program.fs:55-63`); here the header
maps to a reader:

* ``provider: odata``     — ``url`` + ``select``/``filter``/``expand``
  via :func:`hobbes_spark.sources.odata.read_odata` (fetcher injected —
  the ``user``/``pwd`` header values are credentials for *your* fetcher)
* ``provider: rest``      — one or many ``url`` entries, optional
  ``values:`` array field (`Logic Commit Frequency.hb:1-21`)
* ``provider: localdata`` — inline ``columns`` + ``rows`` or a named
  table from the caller (`workers/localdata.worker/src/Data.fs:12-49`)
* ``provider: git``       — commit history of a local clone via
  :func:`hobbes_spark.sources.collectors.read_git_commits` (the
  git.worker's collection step, `.gitmodules:16-18`)
* ``provider: merge``     — ``datasets:`` list of named datasets from
  the caller's ``tables=`` registry, row-concatenated
  (`tools/workbench/src/Types.fs:90-95`: ``Merge of string list``)
* ``provider: join``      — ``left``/``right``/``field`` over the same
  registry (`tools/workbench/src/Types.fs:58-63,96-104``)
* ``provider: parquet``   — engine-native path (beyond-reference)
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from hobbes_spark.pipeline import Pipeline

__all__ = ["resolve_source", "run_hb_program"]


def _get(props: Mapping, key: str):
    v = props.get(key)
    return v.strip() if isinstance(v, str) else v


def resolve_source(
    spark: SparkSession,
    properties: Mapping,
    tables: Mapping[str, DataFrame] | None = None,
    fetcher: Callable[[str], str] | None = None,
) -> Pipeline:
    provider = (_get(properties, "provider") or "").lower()
    meta = properties.get("meta") or {}
    name = (meta.get("name") if isinstance(meta, Mapping) else None) or _get(
        properties, "name"
    )

    if provider == "parquet":
        url = _get(properties, "url")
        if not url:
            raise ValueError("provider: parquet needs a url")
        return Pipeline.from_parquet(spark, url)

    if provider == "localdata":
        if tables and name in (tables or {}):
            return Pipeline(tables[name])
        cols = properties.get("columns")
        rows = properties.get("rows")
        if cols and rows is not None:
            import json

            from hobbes_spark.sources.ingest import local_data

            # header values are strings: columns as '- a' list items, rows
            # as '- [1, "x"]' JSON arrays
            if isinstance(cols, str):
                cols = cols.split()
            rows = [json.loads(r) if isinstance(r, str) else r for r in rows]
            return Pipeline(local_data(spark, cols, rows))
        raise ValueError(
            f"localdata needs an inline columns/rows pair or a table named "
            f"{name!r} passed via tables="
        )

    if provider == "odata":
        if fetcher is None:
            raise ValueError(
                "provider: odata needs a fetcher (the reference's collector "
                "workers own the network; pass fetcher=lambda url: <body>)"
            )
        from hobbes_spark.sources.odata import odata_url, read_odata

        url = odata_url(
            _get(properties, "url"),
            select=_get(properties, "select"),
            filter=_get(properties, "filter"),
            expand=_get(properties, "expand"),
        )
        return Pipeline(read_odata(spark, url, fetcher))

    if provider == "git":
        # the git.worker's job on a local clone (`.gitmodules:16-18`;
        # the submodule is private — contract reconstructed from the
        # public AzDO commit shape its feeds surface)
        from hobbes_spark.sources.collectors import read_git_commits

        path = _get(properties, "url") or _get(properties, "path")
        if not path:
            raise ValueError("provider: git needs a url/path to a local clone")
        return Pipeline(read_git_commits(spark, path))

    if provider == "rest":
        if fetcher is None:
            raise ValueError("provider: rest needs a fetcher")
        from hobbes_spark.sources.ingest import rest_pages

        urls = properties.get("url")
        if not urls:
            raise ValueError(
                "provider: rest needs at least one url header entry"
            )
        if isinstance(urls, str):
            urls = [urls]
        pages = [fetcher(u) for u in urls]
        return Pipeline(
            rest_pages(spark, pages, values_field=_get(properties, "values"))
        )

    if provider == "merge":
        # workbench Source.Merge (Types.fs:90-95): a list of dataset ids
        # resolved from the caller's registry — the cache lookup the
        # calculator worker does, with ``tables=`` standing in for the
        # uniform cache
        ids = properties.get("datasets")
        if isinstance(ids, str):
            ids = ids.split()
        if not ids:
            raise ValueError("provider: merge needs a datasets list")
        missing = [d for d in ids if d not in (tables or {})]
        if missing:
            raise ValueError(
                f"provider: merge references unknown datasets {missing}; "
                "pass them via tables="
            )
        from hobbes_spark.operators.combinators import merge as _merge

        return _merge(*[Pipeline(tables[d]) for d in ids])

    if provider == "join":
        # workbench Source.Join (Types.fs:58-63): single-field equi-join
        # of two named datasets
        left = _get(properties, "left")
        right = _get(properties, "right")
        field_name = _get(properties, "field")
        if not (left and right and field_name):
            raise ValueError("provider: join needs left, right and field")
        missing = [d for d in (left, right) if d not in (tables or {})]
        if missing:
            raise ValueError(
                f"provider: join references unknown datasets {missing}; "
                "pass them via tables="
            )
        from hobbes_spark.operators.combinators import join as _join

        return _join(Pipeline(tables[left]), Pipeline(tables[right]), field_name)

    raise ValueError(f"unknown provider {provider!r}")


def run_hb_program(
    spark: SparkSession,
    text: str,
    tables: Mapping[str, DataFrame] | None = None,
    fetcher: Callable[[str], str] | None = None,
) -> Pipeline:
    """Parse + resolve the provider header + execute: the whole §3.1
    lifecycle (`.hb` text → provider fetch → flatten → transform fold)."""
    from hobbes_spark.hb.compiler import compile_hb

    prog, run = compile_hb(text)
    source = resolve_source(spark, prog.properties, tables=tables, fetcher=fetcher)
    return run(source)
