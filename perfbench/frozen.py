"""Inputs the benchmark freezes by value, so that later changes to the
catalog or to the repo's own ``.hb`` texts cannot silently change what
is measured.

* ``CATALOG`` — the 23 headline catalog queries (the ``bench=True`` set
  when the benchmark was defined). A name missing from
  ``hobbes_spark.queries.QUERIES`` fails the run.
* ``PROGRAMS``, ``MERGE``, ``JOIN`` and ``FORMAT_JSON`` — the 11-node
  configuration set (``DAG_NODES``) the ``sync`` and ``serve`` workloads
  materialize: nine ``.hb`` programs over the ``orders`` and ``events``
  parquet tables, one merge and one join, four of them with a JSON
  export. ``{data}`` in a program text is replaced by the data
  directory when the configurations are built.
* ``ORACLE_ROWS`` — DuckDB SQL whose row count each synced node must
  reproduce: a catalog twin's oracle (``("query", name)``) or SQL of the
  benchmark's own (``("sql", text)``) where the node has no twin.
* ``SERVE_ENTRIES`` — the cached results the ``serve`` workload reads,
  with the columns its generated OData requests may use.
"""

from __future__ import annotations

CATALOG = (
    "bm25_topk", "cosine_topk", "curate_corpus", "decontaminate_docs",
    "dedup_exact", "flowerpot", "group_all_sum", "group_maxby",
    "html_meta_docs", "join_broadcast_dims", "join_on_field",
    "minhash_pairs_fast", "moving_mean", "moving_partitioned",
    "outlink_domains", "pivot_count", "prepare_corpus", "salted_group_sum",
    "text_stats", "tpch_q3_topk", "tpch_q5_region", "tpch_q6_forecast",
    "tpch_q9_profit",
)

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_ORDERS = "provider: parquet\nurl: {data}/orders.parquet\n\n"
_EVENTS = "provider: parquet\nurl: {data}/events.parquet\n\n"

# name -> program text (flowerpot.hb, Logic Commit Frequency.hb, MTTR.hb,
# LogicCycleTime.hb, gandalf.hb, Velocity.hb shapes and the bucket trend)
PROGRAMS = {
    "flowerpot": _ORDERS + r"""only (o_orderstatus != 'P')
group by o_custkey -> maxby o_orderdate
rename column o_orderpriority priority_raw
create column priority_num (int (regex [priority_raw] /([0-9]+)-.*/ [$1]))
rename column o_orderstatus detailed_state
create column state (if [detailed_state = 'F'] {'Done'} else { if [detailed_state = 'O'] {'Todo'} else {'Doing'} })
slice columns o_custkey o_orderkey o_orderdate o_totalprice priority_num state
""",
    "order_frequency": _ORDERS + """create column "date" (format date "o_orderdate" date)
only ((format date "date" year) >= 1995)
create column tick 1
slice columns "date" tick
group by date -> sum
rename column tick "count"
sort by column date
create column Frequency (moving mean 30 ["count"])
only !(Frequency = missing)
""",
    "mttr": _ORDERS + """only ((o_orderstatus = 'F') && !(o_totalprice = missing))
group by o_orderpriority o_custkey -> maxby o_orderkey
create column SprintNumber (format date "o_orderdate" year)
slice columns SprintNumber o_totalprice
create column tick 1
group by SprintNumber -> sum
rename column o_totalprice temp
create column o_totalprice (temp / tick)
rename column tick Count
create column SprintNumber keys
sort by column SprintNumber
index rows by SprintNumber
create column "Mean price 3" (moving mean 3 [o_totalprice])
create column "Mean price 5" (moving mean 5 [o_totalprice])
create column "Mean orders 3" (moving mean 3 [Count])
slice columns "Mean price 3" "Mean price 5" "Mean orders 3"
only !("Mean price 5" = missing)
""",
    "cycle_time_open": _ORDERS + """only ((o_orderstatus = 'O') && !(o_totalprice = missing))
group by o_orderpriority o_custkey -> maxby o_orderkey
create column SprintNumber (format date "o_orderdate" year)
slice columns o_orderpriority SprintNumber o_totalprice
create column tick 1
rename column o_totalprice temp
group by SprintNumber -> sum
""",
    # the join's right side: it shares only the key with cycle_time_open
    "cycle_time_done": _ORDERS + """only ((o_orderstatus = 'F') && !(o_totalprice = missing))
group by o_orderpriority o_custkey -> maxby o_orderkey
create column SprintNumber (format date "o_orderdate" year)
slice columns o_orderpriority SprintNumber o_totalprice
create column tick_done 1
rename column o_totalprice temp_done
group by SprintNumber -> sum
""",
    "commit_frequency": _EVENTS + """create column "date" (format date "ts" date)
only (((format date "date" month) = 1 && (format date "date" day) > 5) || ((format date "date" month) >= 2))
create column tick 1
slice columns date tick
group by date -> sum
rename column tick "count"
sort by column date
create column Frequency (moving mean 7 ["count"])
create column "Frequency long" (moving mean 14 ["count"])
slice columns Frequency "Frequency long"
only !(Frequency = missing)
""",
    "gandalf": _EVENTS + r"""only (event_type = 'click' || event_type = 'view' || event_type = 'purchase')
group by user_id event_type -> maxby event_id
rename column props "Raw Props"
create column "Prop Number" (int (regex ["Raw Props"] /[^\\d]*([\\d]+).*/ [$1]))
rename column event_type DetailedType
create column Type (if [DetailedType = 'purchase'] {'Conversion'} else { if ["DetailedType" = 'click'] {'Engagement'} else {'Passive'} })
slice columns user_id event_id "Prop Number" Type "StoryPoints" "Priority"
""",
    "velocity_pivot": _ORDERS + """only (o_totalprice > 1000)
create column yr (format date "o_orderdate" year)
pivot [yr] [o_orderstatus] -> count [o_orderkey]
sort by column yr
create column fdone (moving mean 3 [F])
only !(fdone = missing)
slice columns yr F O P fdone
""",
    "bucket_trend": _ORDERS + """only (o_totalprice > 1000)
slice columns o_orderkey o_totalprice
sort by column o_orderkey
buckets 10 -> mean
linear regression [bucket] [o_totalprice]
""",
}

MERGE = ("cycle_time_merged", ("cycle_time_open", "cycle_time_done"))
JOIN = ("cycle_time_joined", ("cycle_time_open", "cycle_time_done", "SprintNumber"))
FORMAT_JSON = frozenset({"flowerpot", "gandalf", "cycle_time_merged", "cycle_time_joined"})

DAG_NODES = (*PROGRAMS, MERGE[0], JOIN[0])

_CYCLE_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS sprint, COUNT(*) AS n FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority, o_custkey
                               ORDER BY o_orderkey DESC) AS rn
  FROM orders WHERE o_orderstatus = '{status}' AND o_totalprice IS NOT NULL
) WHERE rn = 1 GROUP BY 1
"""

ORACLE_ROWS = {
    "flowerpot": ("query", "flowerpot"),
    "order_frequency": ("query", "hb_order_frequency"),
    "mttr": ("query", "hb_mttr"),
    "cycle_time_open": ("sql", _CYCLE_SQL.format(status="O")),
    "cycle_time_done": ("sql", _CYCLE_SQL.format(status="F")),
    "commit_frequency": ("query", "hb_commit_frequency"),
    "gandalf": ("query", "hb_gandalf_state"),
    "velocity_pivot": ("query", "hb_velocity_pivot"),
    "bucket_trend": ("query", "hb_bucket_trend"),
    "cycle_time_merged": (
        "sql",
        "SELECT * FROM ({o}) UNION ALL SELECT * FROM ({d})".format(
            o=_CYCLE_SQL.format(status="O"), d=_CYCLE_SQL.format(status="F")
        ),
    ),
    "cycle_time_joined": (
        "sql",
        "SELECT sprint FROM ({o}) UNION SELECT sprint FROM ({d})".format(
            o=_CYCLE_SQL.format(status="O"), d=_CYCLE_SQL.format(status="F")
        ),
    ),
}

# The cached results the serve workload requests, most requested first
# (Zipf over this order). key: columns that make an $orderby total, so a
# $top/$skip page is the same rows on Spark and DuckDB; num: columns a
# $filter may compare (its constants are drawn between the column's
# minimum and maximum in the cache); cols: columns a $select may pick.
SERVE_ENTRIES = (
    ("flowerpot", {
        "key": ("o_custkey",),
        "num": ("o_totalprice", "priority_num", "o_orderkey"),
        "cols": ("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
                 "priority_num", "state"),
    }),
    ("gandalf", {
        "key": ("user_id", "event_id"),
        "num": ("user_id", "event_id"),
        "cols": ("user_id", "event_id", "Type"),
    }),
    ("order_frequency", {
        "key": ("date",),
        "num": ("Frequency",),
        "cols": ("date", "Frequency"),
    }),
    ("cycle_time_joined", {
        "key": ("SprintNumber",),
        "num": ("SprintNumber", "tick", "tick_done"),
        "cols": ("SprintNumber", "temp", "tick", "temp_done", "tick_done"),
    }),
    ("velocity_pivot", {
        "key": ("yr",),
        "num": ("yr", "F", "O"),
        "cols": ("yr", "F", "O", "fdone"),
    }),
)
