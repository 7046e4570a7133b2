"""Provider-header resolution: the whole §3.1 lifecycle — ``.hb`` text →
provider fetch (fake transport) → JSON flatten/sniff → transform fold —
using the reference's own programs where possible.
"""

from __future__ import annotations

import json
import os

import pytest

from hobbes_spark.hb import parse_program, run_hb_program
from hobbes_spark.sources.odata import odata_url, read_odata
from test_hb import HB_DIR  # where the reference's .hb programs live

FLOWERPOT = f"{HB_DIR}/flowerpot.hb"
COMMIT_FREQUENCY = f"{HB_DIR}/Logic Commit Frequency.hb"


def _revision(wid, rev, sprint, wtype="User Story", cat="Completed", state="Closed"):
    return {
        "WorkItemId": wid,
        "WorkItemType": wtype,
        "State": state,
        "StateCategory": cat,
        "ChangedDate": f"2020-01-{min(rev + 1, 28):02d}T12:00:00Z",
        "Iteration": {
            "IterationName": f"Sprint {sprint}",
            "IterationLevel2": f"Iteration {sprint}",
            "IterationLevel3": f"Sprint {sprint}",
        },
        "LeadTimeDays": float(wid % 7) if wid % 3 else "",
        "CycleTimeDays": float(wid % 5),
        "Title": f"Item {wid}",
    }


def _odata_pages(n_pages=3, per_page=10):
    """Fake OData service: pages linked by @odata.nextLink."""
    pages = {}
    for p in range(n_pages):
        rows = [
            _revision(wid=p * per_page + i, rev=r, sprint=(p * per_page + i) % 4 + 1)
            for i in range(per_page)
            for r in range(2)
        ]
        body = {"value": rows}
        if p + 1 < n_pages:
            body["@odata.nextLink"] = f"https://fake/feed?page={p + 1}"
        pages[p] = json.dumps(body)
    return pages


def _fetcher(pages):
    calls = []

    def fetch(url: str) -> str:
        calls.append(url)
        page = int(url.split("page=")[1]) if "page=" in url else 0
        return pages[page]

    fetch.calls = calls
    return fetch


def test_odata_url_assembly():
    u = odata_url(
        "https://analytics.dev.azure.com/x/_odata/v2.0/WorkItemRevisions?",
        select="WorkItemId,State",
        filter="Iteration/StartDate gt 2019-01-01Z",
        expand="Iteration",
    )
    assert u.startswith("https://analytics.dev.azure.com/x/_odata/v2.0/WorkItemRevisions?")
    assert "$expand=Iteration" in u and "$select=WorkItemId,State" in u
    assert "$filter=Iteration/StartDate" in u


def test_odata_pagination_and_flattening(spark):
    pages = _odata_pages()
    fetch = _fetcher(pages)
    df = read_odata(spark, "https://fake/feed", fetch)
    # followed every nextLink exactly once
    assert len(fetch.calls) == 3
    # nested Iteration flattened to dot-path columns (SURVEY §1.4)
    assert "Iteration.IterationLevel2" in df.columns
    assert df.count() == 3 * 10 * 2
    # sniffing: LeadTimeDays carried '' for missing -> typed double + NULL
    lead = dict(df.dtypes)["LeadTimeDays"]
    assert lead == "double"
    assert df.filter(df["LeadTimeDays"].isNull()).count() > 0


@pytest.mark.skipif(not os.path.exists(FLOWERPOT), reason="reference fixture absent")
def test_flowerpot_hb_via_odata_provider(spark):
    """The reference's flowerpot.hb, header included, end-to-end against
    the fake feed: provider resolution reads url/select/filter/expand
    from the program itself."""
    pages = _odata_pages()
    with open(FLOWERPOT) as f:
        out = run_hb_program(spark, f.read(), fetcher=_fetcher(pages))
    rows = out.collect()
    assert rows
    assert {"Sprint Name", "Sprint Number", "State", "WorkItemId"} <= set(out.columns)
    assert set(r["State"] for r in rows) <= {"Done", "Doing", "Todo"}
    assert all(1 <= r["Sprint Number"] <= 4 for r in rows)


@pytest.mark.skipif(not os.path.exists(COMMIT_FREQUENCY), reason="reference fixture absent")
def test_reference_commit_frequency_header():
    """The reference program the multi-URL shape below is taken from."""
    with open(COMMIT_FREQUENCY) as f:
        prog = parse_program(f.read())
    assert isinstance(prog.properties["url"], list) and len(prog.properties["url"]) == 15
    assert prog.properties["values"] == "value"


def test_rest_multi_url(spark):
    """Many-URL rest source with a values: field (Commit Frequency shape)."""
    body = json.dumps(
        {"value": [{"commitId": "a", "committer": {"date": "2020-01-01T10:00:00Z"}},
                   {"commitId": "b", "committer": {"date": "2020-01-02T10:00:00Z"}}]}
    )
    text = "provider: rest\nurl:\n    - https://fake/r1\n    - https://fake/r2\nvalues: value\n\nonly true\n"
    out = run_hb_program(spark, text, fetcher=lambda u: body)
    assert out.df.count() == 4  # 2 urls x 2 commits
    assert "committer.date" in out.columns
    assert dict(out.df.dtypes)["committer.date"] == "timestamp"


def test_localdata_named_table(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    text = "provider: localdata\nname: regions\n\nslice columns r_name\n"
    out = run_hb_program(spark, text, tables={"regions": df})
    assert out.columns == ["r_name"]


def test_provider_errors():
    import pyspark

    with pytest.raises(ValueError, match="fetcher"):
        run_hb_program(
            pyspark.sql.SparkSession.getActiveSession()
            or pytest.skip("no session"),
            "provider: odata\nurl: https://x\n\nonly true\n",
        )


def test_parquet_provider_needs_url(spark):
    with pytest.raises(ValueError, match="provider: parquet needs a url"):
        run_hb_program(spark, "provider: parquet\n\nonly true\n")


def test_localdata_inline_rows(spark):
    text = (
        "provider: localdata\n"
        "columns: a b\n"
        "rows:\n"
        '    - [1, "x"]\n'
        '    - [2, "y"]\n'
        "\n"
        "only (a > 1)\n"
    )
    out = run_hb_program(spark, text)
    rows = out.collect()
    assert [(r["a"], r["b"]) for r in rows] == [(2, "y")]


def test_odata_url_preencoded_not_double_encoded():
    u = odata_url("https://x/feed?", filter="Iteration%2FStartDate%20gt%202019-01-01Z")
    assert "%25" not in u  # no double encoding
    u2 = odata_url("https://x/feed?", filter="Iteration/StartDate gt 2019-01-01Z")
    assert " " not in u2 and "%20gt%20" in u2


def test_read_csv_uniform_sniffs_reference_cascade(spark, tmp_path):
    """CSV comes in all-string and leaves with the reference's
    float->timestamp->int->string cascade applied per column; empty
    cells are missing, a single non-numeric value keeps a column
    string."""
    from hobbes_spark.sources.ingest import read_csv_uniform

    p = tmp_path / "t.csv"
    p.write_text(
        "num,mixed,when,txt\n"
        "1.5,2,2020-01-01 00:00:00,a\n"
        ",x,2021-06-30 12:00:00,b\n"
        "3,4,,c\n"
    )
    df = read_csv_uniform(spark, str(p))
    dt = dict(df.dtypes)
    assert dt["num"] == "double"       # all-numeric -> float-first cascade
    assert dt["mixed"] == "string"     # 'x' blocks numeric typing
    assert dt["when"].startswith("timestamp")
    assert dt["txt"] == "string"
    rows = {r.txt: r for r in df.collect()}
    assert rows["b"].num is None       # empty cell = missing
    assert rows["c"].when is None
    assert rows["c"].num == 3.0


def test_read_csv_decimal_comma_locale(spark, tmp_path):
    """Comma-decimal feeds (the reference's own locale ambiguity,
    SURVEY §1.3) sniff as numerics behind the explicit flag: '.' is a
    thousands separator and strips, ',' is the decimal point."""
    from hobbes_spark.sources.ingest import read_csv_uniform

    p = tmp_path / "dk.csv"
    p.write_text(
        "price;qty;label;when\n"
        "1.234,56;7,5;abc;2020-01-02 03:04:05\n"
        "1.000;;def;2021-12-31 23:59:59\n"
    )
    df = read_csv_uniform(spark, str(p), delimiter=";", decimal_comma=True)
    types = dict(df.dtypes)
    assert types["price"] == "double" and types["qty"] == "double"
    assert types["label"] == "string" and types["when"].startswith("timestamp")
    rows = {r["label"]: r for r in df.collect()}
    assert rows["abc"]["price"] == 1234.56 and rows["abc"]["qty"] == 7.5
    assert rows["def"]["price"] == 1000.0 and rows["def"]["qty"] is None  # '' = missing


def test_read_csv_invariant_unchanged_by_default(spark, tmp_path):
    """Default stays invariant-culture: '1.234,56' is NOT a number."""
    from hobbes_spark.sources.ingest import read_csv_uniform

    p = tmp_path / "inv.csv"
    p.write_text("a,b\n1.5,\"1.234,56\"\n2.25,\"7,5\"\n")
    df = read_csv_uniform(spark, str(p))
    types = dict(df.dtypes)
    assert types["a"] == "double" and types["b"] == "string"
    assert sorted(r["a"] for r in df.collect()) == [1.5, 2.25]


# --------------------------------------------------------------------- #
# Review-hardening regressions (round 4, ingest batch)
# --------------------------------------------------------------------- #


def test_flatten_deep_nested_arrays_and_dotted_keys(spark):
    """Arrays two struct levels deep must flatten (they used to vanish),
    and a source field whose NAME contains a dot must quote as one
    segment instead of being misread as struct access."""
    import json as _json

    from hobbes_spark.sources.ingest import read_json_uniform

    rows = [
        {"a": {"b": {"c": [1, 2]}}, "@odata.context": "ctx1"},
        {"a": {"b": {"c": [3]}}, "@odata.context": "ctx2"},
    ]
    rdd = spark.sparkContext.parallelize([_json.dumps(r) for r in rows])
    out = read_json_uniform(spark, rdd)
    assert "a.b.c.0" in out.columns and "a.b.c.1" in out.columns
    assert "@odata.context" in out.columns
    got = out.orderBy(out["`@odata.context`"]).collect()
    assert [r["a.b.c.0"] for r in got] == [1.0, 3.0]  # float-first cascade
    assert got[0]["@odata.context"] == "ctx1"


def test_decimal_comma_does_not_eat_dotted_dates(spark, tmp_path):
    """Blind dot-stripping turned dd.MM.yyyy dates, versions, and IPs
    into garbage doubles; only proper 3-digit-grouped numerics may take
    the locale-numeric branch."""
    from hobbes_spark.sources.ingest import read_csv_uniform

    p = tmp_path / "locale.csv"
    p.write_text(
        "datum;betrag;version\n"
        "02.01.2024;1.234,56;1.2.3\n"
        "15.11.2023;789,5;2.0.1\n"
    )
    df = read_csv_uniform(spark, str(p), delimiter=";", decimal_comma=True)
    dt = dict(df.dtypes)
    assert dt["betrag"] == "double"
    assert dt["version"] == "string"  # not 123.0
    # the date column must NOT be a double like 2012024.0
    assert dt["datum"] != "double"
    vals = sorted(r["betrag"] for r in df.collect())
    assert vals == [789.5, 1234.56]


def test_odata_url_encodes_raw_percent_value():
    from hobbes_spark.sources.odata import odata_url

    url = odata_url("https://svc/feed?", filter="Name eq '100%'")
    assert "100%25" in url and " " not in url
    # genuinely pre-encoded values still pass through untouched
    url2 = odata_url("https://svc/feed?", filter="Iteration%2FStartDate%20gt%202019-01-01Z")
    assert "%2F" in url2 and "%252F" not in url2


def test_merge_provider_resolves_registry(spark):
    """`provider: merge` (workbench Types.fs:90-95): datasets resolve
    from the caller's registry, rows concatenate tolerating differing
    column sets; unknown names and a missing list fail with the offender
    named."""
    from hobbes_spark.hb.providers import run_hb_program

    reg = {
        "a1": spark.createDataFrame([(1, "x")], "k bigint, s string"),
        "b1": spark.createDataFrame([(2, 20)], "k bigint, v bigint"),
    }
    text = "provider: merge\ndatasets:\n    - a1\n    - b1\n\nonly true\n"
    out = run_hb_program(spark, text, tables=reg).df
    rows = {(r["k"], r["s"], r["v"]) for r in out.collect()}
    assert rows == {(1, "x", None), (2, None, 20)}

    with pytest.raises(ValueError, match="unknown datasets \\['nope'\\]"):
        run_hb_program(
            spark, "provider: merge\ndatasets:\n    - nope\n\nonly true\n",
            tables=reg,
        )
    with pytest.raises(ValueError, match="needs a datasets list"):
        run_hb_program(spark, "provider: merge\n\nonly true\n", tables=reg)


def test_join_provider_resolves_registry(spark):
    """`provider: join` (workbench Types.fs:58-63): single-field outer
    equi-join of two named datasets, keyed on the field."""
    from hobbes_spark.hb.providers import run_hb_program

    reg = {
        "l": spark.createDataFrame([(1, "x"), (2, "y")], "k bigint, s string"),
        "r": spark.createDataFrame([(2, 20), (3, 30)], "k bigint, v bigint"),
    }
    text = "provider: join\nleft: l\nright: r\nfield: k\n\nsort by column k\n"
    out = run_hb_program(spark, text, tables=reg).df
    rows = [(r["k"], r["s"], r["v"]) for r in out.collect()]
    assert rows == [(1, "x", None), (2, "y", 20), (3, None, 30)]

    with pytest.raises(ValueError, match="needs left, right and field"):
        run_hb_program(spark, "provider: join\nleft: l\n\nonly true\n", tables=reg)
    with pytest.raises(ValueError, match="unknown datasets \\['zz'\\]"):
        run_hb_program(
            spark,
            "provider: join\nleft: l\nright: zz\nfield: k\n\nonly true\n",
            tables=reg,
        )
