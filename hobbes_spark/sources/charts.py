"""Chart payload generation — the data side of the reference's chart
layer (`tools/visualizer/cli/src/Chart.fs:6-120`, `render`:
`Chart.fs:183-229`).

The reference wraps XPlot: a transformed DataMatrix becomes a
``seq<(columnName, seq<(key, value)>)>`` series table, which the chart
constructors turn into Plotly / Google Charts payloads and
``GetInlineHtml`` embeds in a page.  Pixels are drawn by the BROWSER in
both systems — the engine's job ends at the render-ready payload.  This
module reproduces exactly that boundary, dependency-free:

* :func:`series_table` — DataFrame → the (name, [(key, value)...])
  series table (``DataMatrix.AsTable`` analog, `Chart.fs:184-199`;
  compound keys dot-join like the reference's ``KeyType.List`` branch).
  A driver-side EXPORT boundary like ``to_data_result`` — charts render
  final small analytics results, never mid-pipeline data.
* :func:`chart_spec` — series table (or DataFrame) + chart type →
  a render-ready payload dict: Plotly figure JSON
  (``{"data": [...], "layout": {...}}``) for the Plotly-backed types,
  Google Charts ``{"chartType", "dataTable", "options"}`` for the
  Google-backed ones (gauge / calendar / geo / table), mirroring which
  backend `Chart.fs` picks per type.
* :func:`render_inline_html` — payload → self-contained ``<div>`` +
  script HTML fragment (the ``GetInlineHtml`` analog).
* :func:`gauge_series` — the one chart whose payload AGGREGATES
  (per-column average, int-truncated, `Chart.fs:85-105`) runs that
  aggregation in Spark before collecting, so gauging a 100 TB table
  ships one row to the driver, not the table.

Semantics per type (faithful to `Chart.fs`):

* scatter / line / area / bar / column — one trace per series, x=keys,
  y=values (`Chart.fs:43-68`).
* candlestick — the first FIVE series provide, positionally, x / open /
  high / low / close (`Chart.fs:69-79`).
* gauge — one (label, int(avg(values))) dial per non-empty series, with
  the reference's fixed options block (width 400, height 120, red 90-100,
  yellow 75-90, minorTicks 5; `Chart.fs:80-105`).
* pie — the FIRST series only: labels=keys, values=values
  (`Chart.fs:106-109`).
* bubble — x=key, y=first series value, size=second series value.
  (Deviation, documented: the reference's ``Seq.zip`` argument order at
  `Chart.fs:110-118` makes the bubble SIZE the row key and drops the
  second series — a slip, like the linear-extrapolation crash the
  engine also fixes rather than reproduces.)
* calendar — first series VALUES are the dates, second series values
  the intensities (`Chart.fs:119-139`).
* geo — first series values are country names, second the magnitudes
  (`Chart.fs:140-161`).
* table — all series, column-major (`Chart.fs:162-166`).
"""

from __future__ import annotations

import datetime as dt
import json
import re
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, functions as F

from hobbes_spark.expressions import qname
from hobbes_spark.sources.sinks import json_cell

__all__ = [
    "CHART_TYPES",
    "series_table",
    "gauge_series",
    "chart_spec",
    "render_inline_html",
]

# ChartType in Chart.fs:6-17 (Bar is a constructor on the Chart class
# but absent from the ChartType enum; exposed here for completeness)
CHART_TYPES = (
    "scatter", "line", "column", "area", "candlestick", "pie",
    "bubble", "gauge", "calendar", "geo", "table", "bar",
)

_PLOTLY_TYPES = {"scatter", "line", "column", "area", "candlestick",
                 "pie", "bubble", "bar"}

# Chart.fs:85-93 — the gauge's fixed Options block
_GAUGE_OPTIONS = {
    "width": 400, "height": 120, "redFrom": 90, "redTo": 100,
    "yellowFrom": 75, "yellowTo": 90, "minorTicks": 5,
}


def series_table(
    df: DataFrame, key_cols: Sequence[str] | str | None = None
) -> list[tuple[str, list[tuple]]]:
    """DataFrame → ``[(series_name, [(key, value), ...]), ...]``.

    ``key_cols`` names the key axis (compound keys dot-join, the
    ``KeyType.List`` branch of `Chart.fs:186-195`); ``None`` keys rows
    by ordinal, matching an un-indexed DataMatrix. Driver-side export
    boundary — collect happens HERE, on the final small series.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    key_cols = list(key_cols or [])
    for k in key_cols:
        if k not in df.columns:
            raise ValueError(f"series_table: key column {k!r} not in {df.columns}")
    value_cols = [c for c in df.columns if c not in key_cols]
    rows = df.collect()
    if key_cols:
        keys = [
            ".".join(str(json_cell(r[k])) for k in key_cols) if len(key_cols) > 1
            else json_cell(r[key_cols[0]])
            for r in rows
        ]
    else:
        keys = list(range(len(rows)))
    return [
        (c, [(k, json_cell(r[c])) for k, r in zip(keys, rows)]) for c in value_cols
    ]


def gauge_series(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Per-column average → one ``(label, value)`` gauge dial per column,
    int-TRUNCATED like the reference's ``|> int`` (`Chart.fs:96-105`).

    The aggregation runs in Spark (partial + final avg), so the driver
    receives one row per dial — the scale-correct shape for gauging a
    100 TB table's vitals. NULL averages (all-NULL / empty column)
    yield no dial, matching the reference's empty-series filter
    (`Chart.fs:94-95`).
    """
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}
    cols = list(columns) if columns is not None else [
        c for c, t in df.dtypes if t.split("(")[0] in numeric
    ]
    if not cols:
        raise ValueError("gauge_series: no numeric columns to gauge")
    agg = df.agg(*[F.avg(qname(c)).alias(c) for c in cols])
    stacked = agg.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(c).alias("label"),
                         F.col(qname(c)).cast("double").alias("avg"))
                for c in cols
            ])
        ).alias("s")
    ).select("s.label", "s.avg")
    return (
        stacked.filter(F.col("avg").isNotNull())
        .select("label", F.col("avg").cast("int").alias("value"))
    )


def _series_values(series):
    return [v for _, v in series[1]]


def _series_keys(series):
    return [k for k, _ in series[1]]


def _plotly_figure(data: list[dict], title: str | None, legend: bool) -> dict:
    layout: dict = {"showlegend": bool(legend)}
    if title is not None:
        layout["title"] = title
    return {"data": data, "layout": layout}


def _google_payload(chart_type, columns, rows, options, title, legend):
    opts = dict(options or {})
    if title is not None:
        opts["title"] = title
    opts.setdefault("legend", {"position": "right" if legend else "none"})
    return {
        "chartType": chart_type,
        "dataTable": {"cols": columns, "rows": rows},
        "options": opts,
    }


def _to_float(v) -> float:
    # Chart.fs:96-103 / 150-158 — the IConvertible→float ladder; a
    # non-convertible value fails loudly there and here
    if isinstance(v, bool):
        raise TypeError(f"can't convert {v!r} to float")
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        return float(v)
    raise TypeError(f"can't convert {v!r} to float")


def _to_date_string(v) -> str:
    # Chart.fs:125-133 — the date-coercion ladder (DateTime / ticks /
    # parseable string); here keys already pass through json_cell isoformat
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, str):
        return v
    raise TypeError(f"can't convert {v!r} to a calendar date")


def chart_spec(
    table: DataFrame | Sequence[tuple[str, Sequence[tuple]]],
    chart_type: str,
    title: str | None = None,
    legend: bool = True,
    key_cols: Sequence[str] | str | None = None,
) -> dict:
    """Series table (or DataFrame) → render-ready chart payload dict."""
    ct = chart_type.lower()
    if ct not in CHART_TYPES:
        raise ValueError(f"chart type {chart_type!r} not one of {CHART_TYPES}")
    if isinstance(table, DataFrame):
        if ct == "gauge":
            # aggregate in Spark, THEN cross the export boundary
            dials = gauge_series(table if key_cols is None else
                                 table.drop(*([key_cols] if isinstance(key_cols, str)
                                              else list(key_cols))))
            rows = [[{"v": r["label"]}, {"v": int(r["value"])}] for r in dials.collect()]
            if not rows:
                raise ValueError("gauge: every series was empty")  # Chart.fs:104 assert
            return _google_payload(
                "Gauge",
                [{"label": "Label", "type": "string"},
                 {"label": "Value", "type": "number"}],
                rows, _GAUGE_OPTIONS, title, legend,
            )
        table = series_table(table, key_cols)
    table = [(n, list(s)) for n, s in table]
    if not table:
        raise ValueError("chart_spec: empty series table")
    names = [n for n, _ in table]

    if ct in ("scatter", "line", "area", "bar", "column"):
        mode = "markers" if ct == "scatter" else "lines"
        traces = []
        for name, series in table:
            t: dict = {"name": name,
                       "x": [k for k, _ in series], "y": [v for _, v in series]}
            if ct in ("bar", "column"):
                t["type"] = "bar"
                if ct == "bar":
                    t["orientation"] = "h"
            else:
                t["type"] = "scatter"
                t["mode"] = mode
                if ct == "area":
                    t["fill"] = "tozeroy"
            traces.append(t)
        return _plotly_figure(traces, title, legend)

    if ct == "candlestick":
        if len(table) < 5:
            raise ValueError(
                f"candlestick needs 5 series (x, open, high, low, close); got {len(table)}"
            )
        x, o, h, l, c = (_series_values(s) for s in table[:5])
        return _plotly_figure(
            [{"type": "candlestick", "x": x, "open": o, "high": h,
              "low": l, "close": c}],
            title, legend,
        )

    if ct == "pie":
        name, series = table[0]  # Chart.fs:106-109 — head series only
        return _plotly_figure(
            [{"type": "pie", "name": name,
              "labels": [k for k, _ in series], "values": [v for _, v in series]}],
            title, legend,
        )

    if ct == "bubble":
        if len(table) < 2:
            raise ValueError("bubble needs 2 series (y, size)")
        keys = _series_keys(table[0])
        ys = _series_values(table[0])
        sizes = [_to_float(v) for v in _series_values(table[1])]
        return _plotly_figure(
            [{"type": "scatter", "mode": "markers", "x": keys, "y": ys,
              "marker": {"size": sizes}}],
            title, legend,
        )

    if ct == "gauge":
        rows = []
        for name, series in table:
            if not series:  # Chart.fs:94-95 empty-series filter
                continue
            avg = sum(_to_float(v) for _, v in series) / len(series)
            rows.append([{"v": name}, {"v": int(avg)}])  # |> int truncates
        if not rows:
            raise ValueError("gauge: every series was empty")
        return _google_payload(
            "Gauge",
            [{"label": "Label", "type": "string"},
             {"label": "Value", "type": "number"}],
            rows, _GAUGE_OPTIONS, title, legend,
        )

    if ct == "calendar":
        if len(table) < 2:
            raise ValueError("calendar needs 2 series (dates, values)")
        dates = [_to_date_string(v) for v in _series_values(table[0])]
        vals = _series_values(table[1])
        return _google_payload(
            "Calendar",
            [{"label": "Date", "type": "date"},
             {"label": names[1], "type": "number"}],
            [[{"v": d}, {"v": v}] for d, v in zip(dates, vals)],
            None, title, legend,
        )

    if ct == "geo":
        if len(table) < 2:
            raise ValueError("geo needs 2 series (countries, values)")
        countries = [str(v) for v in _series_values(table[0])]
        vals = [_to_float(v) for v in _series_values(table[1])]
        return _google_payload(
            "GeoChart",
            [{"label": "Country", "type": "string"},
             {"label": names[1], "type": "number"}],
            [[{"v": c}, {"v": v}] for c, v in zip(countries, vals)],
            None, title, legend,
        )

    # table (Chart.fs:162-166): all series, column-major
    n_rows = max((len(s) for _, s in table), default=0)
    cols = [{"label": n, "type": "string"} for n in names]
    rows = [
        [{"v": (s[i][1] if i < len(s) else None)} for _, s in table]
        for i in range(n_rows)
    ]
    return _google_payload("Table", cols, rows, None, title, legend)


def render_inline_html(spec: Mapping, div_id: str = "chart") -> str:
    """Payload → self-contained inline HTML fragment (the
    ``GetInlineHtml`` analog, `Chart.fs:22-25`): a div plus the script
    that hands the payload to the matching browser-side renderer."""
    # div_id lands in an HTML attribute AND a JS string literal — only a
    # conservative identifier charset is correct in both contexts
    if not re.fullmatch(r"[A-Za-z0-9_-]+", div_id):
        raise ValueError(
            f"div_id must match [A-Za-z0-9_-]+, got {div_id!r}"
        )
    esc_id = div_id
    # escape for <script> context: a payload value containing '</script>'
    # (chart text can carry attacker-influenced strings, e.g. commit
    # messages) must not terminate the script element
    blob = json.dumps(dict(spec)).replace("</", "<\\/")
    if "chartType" in spec:  # Google Charts backend
        return (
            f'<div id="{esc_id}"></div>\n'
            "<script>\n"
            "google.charts.load('current', {packages:['corechart','gauge','calendar','geochart','table']});\n"
            "google.charts.setOnLoadCallback(function() {\n"
            f"  var payload = {blob};\n"
            f"  var chart = new google.visualization[payload.chartType](document.getElementById('{esc_id}'));\n"
            "  chart.draw(new google.visualization.DataTable(payload.dataTable), payload.options);\n"
            "});\n"
            "</script>"
        )
    return (
        f'<div id="{esc_id}"></div>\n'
        "<script>\n"
        f"  var fig = {blob};\n"
        f"  Plotly.newPlot('{esc_id}', fig.data, fig.layout);\n"
        "</script>"
    )
