"""WheelSqlRouter — materialized-view-style SQL rewrite onto the index.

The reference issues exactly one SQL shape per query
(``SELECT SUM(fare_amount) FROM yellow_tripdata WHERE
tpep_dropoff_datetime >= '?' AND tpep_dropoff_datetime < '?'``,
/root/reference/src/main.rs:252-257) and the later ``datafusion-uwheel``
crate's whole design is an optimizer rule that recognizes that
``Aggregate(Filter(range))`` plan and answers it from the wheel instead
of the scan [uwheel-pub]. This module is the Spark-side equivalent at
the library level (SURVEY §4.1 last row, §7.6): a router that

- pattern-matches the query string against the reference shape for any
  registered (table, ts_col, value_col) index, for SUM / COUNT / MIN /
  MAX / AVG;
- answers matched, minute-aligned queries from the O(1) driver index —
  no Spark job at all, the µWheel latency class;
- falls back to ``spark.sql`` verbatim for everything else (unmatched
  shape, unknown table/columns, unaligned or out-of-horizon ranges
  route to the full Catalyst pipeline, E3).

``explain(query)`` reports which path a query would take and why —
the analogue of ``explain_combine_range`` one level up.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from uwheel_datafusion_spark.functions.time import HOUR_MS, MINUTE_MS
from uwheel_datafusion_spark.operators import stitch
from uwheel_datafusion_spark.operators.counter import COUNTER
from uwheel_datafusion_spark.operators.ohlc import OHLC
from uwheel_datafusion_spark.operators.twa import TWA
from uwheel_datafusion_spark.operators.wheel import WheelIndex

_AGGS = ("SUM", "COUNT", "MIN", "MAX", "AVG")

_AGG_ITEM = (
    r"(?:SUM|COUNT|MIN|MAX|AVG)\s*\(\s*(?:\w+|\*)\s*\)(?:\s+AS\s+\w+)?"
)

#: SELECT <agg>(<col>) [AS a] [, <agg>(<col>) [AS a]]*
#: FROM <table> WHERE <ts> >= '<lit>' AND <ts> < '<lit>'
#: — one index hit answers ANY mix of the five lowerings because every
#: slot stores the "all" partial (sum, cnt, min, max), uwheel's all
#: aggregator (SURVEY §2.4 A8).
_PATTERN = re.compile(
    r"^\s*SELECT\s+(?P<items>" + _AGG_ITEM + r"(?:\s*,\s*" + _AGG_ITEM + r")*)\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)

_ITEM_PATTERN = re.compile(
    r"(?P<agg>SUM|COUNT|MIN|MAX|AVG)\s*\(\s*(?P<col>\w+|\*)\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?",
    re.IGNORECASE,
)

#: SELECT date_trunc('<g>', <ts>) [AS b], <agg list>
#: FROM <table> WHERE <range> GROUP BY date_trunc('<g>', <ts>)|1|<b>
#: — the continuous-aggregate shape: served from the <g> rollup table
#: (distributed, partition-prunable), never the fact scan. Week note:
#: date_trunc('week') is Monday-based while the wheel's opt-in week
#: slots are 7-day epoch-aligned (Thursday-anchored), so week queries
#: are served by re-aggregating the DAY rollup onto Monday-aligned
#: 7-day buckets — still never the fact scan (≤ 7 day-rows fold into
#: each week row). Month/year buckets are calendar-varying widths, so
#: they likewise fold from the DAY rollup (day slots nest exactly in
#: calendar months under the UTC session tz; ≤ 31/366 day-rows fold
#: into each month/year row).
_GROUP_PATTERN = re.compile(
    r"^\s*SELECT\s+DATE_TRUNC\s*\(\s*'(?P<gran>minute|hour|day|week|month|quarter|year)'\s*,\s*"
    r"(?P<ts0>\w+)\s*\)\s*(?:AS\s+(?P<balias>\w+)\s*)?,\s*"
    r"(?P<items>" + _AGG_ITEM + r"(?:\s*,\s*" + _AGG_ITEM + r")*)\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*"
    r"GROUP\s+BY\s+(?:1|(?P<gb_alias>\w+)|DATE_TRUNC\s*\(\s*'(?P<gran2>\w+)'\s*,"
    r"\s*(?P<ts3>\w+)\s*\))\s*;?\s*$",
    re.IGNORECASE,
)


#: SELECT date_trunc('<g>', <ts>) [AS b], COUNT(DISTINCT <col>) [AS a]
#: FROM <table> WHERE <range> GROUP BY 1|<b>|date_trunc — the
#: distinct-count continuous-aggregate shape: COUNT(DISTINCT) cannot
#: ride the sum/cnt rollup (non-additive partial), so it rewrites onto
#: the registered distinct-pairs rollup (operators/distinct), which
#: re-distincts bucket-aligned sets exactly.
_DISTINCT_GROUP_PATTERN = re.compile(
    r"^\s*SELECT\s+DATE_TRUNC\s*\(\s*'(?P<gran>minute|hour|day)'\s*,\s*"
    r"(?P<ts0>\w+)\s*\)\s*(?:AS\s+(?P<balias>\w+)\s*)?,\s*"
    r"COUNT\s*\(\s*DISTINCT\s+(?P<dcol>\w+)\s*\)(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*"
    r"GROUP\s+BY\s+(?:1|(?P<gb_alias>\w+)|DATE_TRUNC\s*\(\s*'(?P<gran2>\w+)'\s*,"
    r"\s*(?P<ts3>\w+)\s*\))\s*;?\s*$",
    re.IGNORECASE,
)

#: SELECT <key> [AS k], date_trunc('<g>', <ts>) [AS b], <agg list>
#: FROM <table> WHERE <range> GROUP BY (1, 2 | <key>, <b|date_trunc>)
#: — the KEYED continuous-aggregate shape (TimescaleDB per-series
#: caggs): served from the registered (key, minute) rollup by one
#: re-aggregation, never the fact scan.
_KEYED_GROUP_PATTERN = re.compile(
    r"^\s*SELECT\s+(?P<key>\w+)(?:\s+AS\s+(?P<kalias>\w+))?\s*,\s*"
    r"DATE_TRUNC\s*\(\s*'(?P<gran>minute|hour|day)'\s*,\s*"
    r"(?P<ts0>\w+)\s*\)\s*(?:AS\s+(?P<balias>\w+)\s*)?,\s*"
    r"(?P<items>" + _AGG_ITEM + r"(?:\s*,\s*" + _AGG_ITEM + r")*)\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*"
    r"GROUP\s+BY\s+(?:1\s*,\s*2|(?P<gb_key>\w+)\s*,\s*(?P<gb_bucket>\w+))"
    r"\s*;?\s*$",
    re.IGNORECASE,
)


#: SELECT <key>, date_trunc('<g>', <ts>) [AS b], COUNT(DISTINCT <col>)
#: — the KEYED distinct-count continuous aggregate (per-series unique
#: users etc.): served from the registered keyed distinct-pairs rollup
#: (operators/distinct.build_keyed_distinct_pairs) by one exact
#: re-distinct per (key, coarse bucket); never the fact scan.
_KEYED_DISTINCT_PATTERN = re.compile(
    r"^\s*SELECT\s+(?P<key>\w+)(?:\s+AS\s+(?P<kalias>\w+))?\s*,\s*"
    r"DATE_TRUNC\s*\(\s*'(?P<gran>minute|hour|day)'\s*,\s*"
    r"(?P<ts0>\w+)\s*\)\s*(?:AS\s+(?P<balias>\w+)\s*)?,\s*"
    r"COUNT\s*\(\s*DISTINCT\s+(?P<dcol>\w+)\s*\)(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*"
    r"GROUP\s+BY\s+(?:1\s*,\s*2|(?P<gb_key>\w+)\s*,\s*(?P<gb_bucket>\w+))"
    r"\s*;?\s*$",
    re.IGNORECASE,
)


#: SELECT <key> [AS k], COUNT(*) [AS c] FROM <table> WHERE <range>
#: GROUP BY <key>|1 ORDER BY <c|COUNT(*)|2> DESC [, <key|k> [ASC]]
#: LIMIT <n> — the heavy-hitter shape: served from the registered
#: count-pairs rollup (operators/distinct.build_count_pairs), whose
#: per-bucket counts ADD across buckets, so any bucket-aligned range
#: re-aggregates exactly — never the fact scan. Tie policy: the
#: serving path orders (cnt DESC, key ASC); a query whose ORDER BY
#: names only the count still rewrites (any tie-break is a valid
#: instance of that query), one with a secondary key must match the
#: grouped key.
_TOPK_PATTERN = re.compile(
    r"^\s*SELECT\s+(?P<key>\w+)(?:\s+AS\s+(?P<kalias>\w+))?\s*,\s*"
    r"COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<calias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*"
    r"GROUP\s+BY\s+(?:1|(?P<gb>\w+))\s*"
    r"ORDER\s+BY\s+(?P<ob>COUNT\s*\(\s*\*\s*\)|\w+|2)\s+DESC\s*"
    r"(?:,\s*(?P<ob2>\w+)(?:\s+ASC)?\s*)?"
    r"LIMIT\s+(?P<limit>\d+)\s*;?\s*$",
    re.IGNORECASE,
)

#: SELECT APPROX_MEDIAN(<col>) [AS a] FROM <table> WHERE <range> —
#: DataFusion's approx_median SQL surface, served from the registered
#: equi-width histogram rollup (operators/quantile_rollup) with a hard
#: ±bin_width error bound — never the fact scan. (DataFusion answers
#: this with a t-digest over the scan; the rollup rewrite is the wheel
#: treatment of the same query.)
#: APPROX_MEDIAN(x) or APPROX_PERCENTILE_CONT(x, q) — DataFusion's
#: two approximate-quantile SQL spellings; q is a literal in [0, 1].
_QUANTILE_FN = (
    r"(?:APPROX_MEDIAN\s*\(\s*(?P<col>\w+)\s*\)"
    r"|APPROX_PERCENTILE_CONT\s*\(\s*(?P<colq>\w+)\s*,\s*"
    r"(?P<q>(?:0?\.\d+|0|1(?:\.0+)?))\s*\))"
)

_MEDIAN_PATTERN = re.compile(
    r"^\s*SELECT\s+" + _QUANTILE_FN + r"(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)

#: grouped form: SELECT date_trunc('<g>', ts) [AS b],
#: APPROX_MEDIAN(col) [AS a] ... GROUP BY 1|b|date_trunc — the
#: quantile continuous-aggregate shape: per-coarse-bucket medians by
#: merging histogram bins (A4 cascade) + one CDF walk per bucket.
_MEDIAN_GROUP_PATTERN = re.compile(
    r"^\s*SELECT\s+DATE_TRUNC\s*\(\s*'(?P<gran>minute|hour|day)'\s*,\s*"
    r"(?P<ts0>\w+)\s*\)\s*(?:AS\s+(?P<balias>\w+)\s*)?,\s*"
    r"" + _QUANTILE_FN + r"(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*"
    r"GROUP\s+BY\s+(?:1|(?P<gb_alias>\w+)|DATE_TRUNC\s*\(\s*'(?P<gran2>\w+)'\s*,"
    r"\s*(?P<ts3>\w+)\s*\))\s*;?\s*$",
    re.IGNORECASE,
)

#: keyed form: SELECT <key> [AS k], date_trunc('<g>', ts) [AS b],
#: APPROX_MEDIAN(col) | APPROX_PERCENTILE_CONT(col, q) ... GROUP BY
#: (1, 2 | key, bucket) — the per-series quantile continuous
#: aggregate, served from the registered keyed histogram rollup (one
#: shared (grp, bucket, bin) shuffle; CDF walks per (series, bucket);
#: collect-free at any key cardinality).
_KEYED_MEDIAN_PATTERN = re.compile(
    r"^\s*SELECT\s+(?P<key>\w+)(?:\s+AS\s+(?P<kalias>\w+))?\s*,\s*"
    r"DATE_TRUNC\s*\(\s*'(?P<gran>minute|hour|day)'\s*,\s*"
    r"(?P<ts0>\w+)\s*\)\s*(?:AS\s+(?P<balias>\w+)\s*)?,\s*"
    r"" + _QUANTILE_FN + r"(?:\s+AS\s+(?P<alias>\w+))?\s+"
    r"FROM\s+(?P<table>\w+)\s+"
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'\s*"
    r"GROUP\s+BY\s+(?:1\s*,\s*2|(?P<gb_key>\w+)\s*,\s*(?P<gb_bucket>\w+))"
    r"\s*;?\s*$",
    re.IGNORECASE,
)


#: shared half-open range filter for the new-family patterns (the
#: existing patterns inline the same snippet)
_WHERE_RANGE = (
    r"WHERE\s+(?P<ts1>\w+)\s*>=\s*(?:TIMESTAMP\s+)?'(?P<start>[^']+)'\s+"
    r"AND\s+(?P<ts2>\w+)\s*<\s*(?:TIMESTAMP\s+)?'(?P<end>[^']+)'"
)

_GROUP_BY_BUCKET = (
    r"GROUP\s+BY\s+(?:1|(?P<gb_alias>\w+)|DATE_TRUNC\s*\(\s*'(?P<gran2>\w+)'"
    r"\s*,\s*(?P<ts3>\w+)\s*\))"
)

_DT_BUCKET = (
    r"DATE_TRUNC\s*\(\s*'(?P<gran>minute|hour|day)'\s*,\s*"
    r"(?P<ts0>\w+)\s*\)\s*(?:AS\s+(?P<balias>\w+)\s*)?"
)


def _ord_key(prefix: str) -> str:
    """min_by/max_by order key: the ts column alone, or the
    (ts, value) tie-broken struct — both name the rollup's combine
    order (the bare-ts spelling leaves ties unspecified, so the
    rollup's deterministic tie-break is a valid instance)."""
    return (
        rf"(?:(?P<{prefix}k>\w+)|STRUCT\s*\(\s*(?P<{prefix}k1>\w+)\s*,\s*"
        rf"(?P<{prefix}k2>\w+)\s*\))"
    )


#: SELECT min_by(v, ts) AS open, max(v) AS high, min(v) AS low,
#: max_by(v, ts) AS close [, count(*) AS cnt] FROM t WHERE <range>
#: [GROUP BY date_trunc] — the candlestick shape (TimescaleDB
#: candlestick_agg / the reference's first/last aggregators): served
#: from the registered OHLC rollup (operators/ohlc) by one
#: associative re-combine, never the fact scan. Spark runs the same
#: spelling natively, so the fallback is verbatim.
_OHLC_ITEMS = (
    r"MIN_BY\s*\(\s*(?P<ov>\w+)\s*,\s*" + _ord_key("o") + r"\s*\)"
    r"(?:\s+AS\s+(?P<oalias>\w+))?\s*,\s*"
    r"MAX\s*\(\s*(?P<hv>\w+)\s*\)(?:\s+AS\s+(?P<halias>\w+))?\s*,\s*"
    r"MIN\s*\(\s*(?P<lv>\w+)\s*\)(?:\s+AS\s+(?P<lalias>\w+))?\s*,\s*"
    r"MAX_BY\s*\(\s*(?P<cv>\w+)\s*,\s*" + _ord_key("c") + r"\s*\)"
    r"(?:\s+AS\s+(?P<calias>\w+))?"
    r"(?:\s*,\s*(?P<cnt>COUNT)\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<cntalias>\w+))?)?"
)

_OHLC_PATTERN = re.compile(
    r"^\s*SELECT\s+" + _OHLC_ITEMS + r"\s+FROM\s+(?P<table>\w+)\s+"
    + _WHERE_RANGE + r"\s*;?\s*$",
    re.IGNORECASE,
)

_OHLC_GROUP_PATTERN = re.compile(
    r"^\s*SELECT\s+" + _DT_BUCKET + r",\s*" + _OHLC_ITEMS
    + r"\s+FROM\s+(?P<table>\w+)\s+" + _WHERE_RANGE + r"\s*"
    + _GROUP_BY_BUCKET + r"\s*;?\s*$",
    re.IGNORECASE,
)

#: SELECT TWA(v, ts) | TIME_WEIGHTED_AVG(v, ts) [AS a] [, COUNT(*)]
#: FROM t WHERE <range> [GROUP BY date_trunc] — the time-weighted
#: average (TimescaleDB time_weight/LOCF): served from the registered
#: TWA rollup (operators/twa — the boundary-stitching aggregator).
#: Not a Spark builtin: unservable matches fall back to a generated
#: lag-window statement over the fact table (same step-function
#: integral, full Catalyst).
_TWA_ITEMS = (
    r"(?:TWA|TIME_WEIGHTED_AVG)\s*\(\s*(?P<tv>\w+)\s*,\s*(?P<tts>\w+)\s*\)"
    r"(?:\s+AS\s+(?P<talias>\w+))?"
    r"(?:\s*,\s*(?P<cnt>COUNT)\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<cntalias>\w+))?)?"
)

_TWA_PATTERN = re.compile(
    r"^\s*SELECT\s+" + _TWA_ITEMS + r"\s+FROM\s+(?P<table>\w+)\s+"
    + _WHERE_RANGE + r"\s*;?\s*$",
    re.IGNORECASE,
)

_TWA_GROUP_PATTERN = re.compile(
    r"^\s*SELECT\s+" + _DT_BUCKET + r",\s*" + _TWA_ITEMS
    + r"\s+FROM\s+(?P<table>\w+)\s+" + _WHERE_RANGE + r"\s*"
    + _GROUP_BY_BUCKET + r"\s*;?\s*$",
    re.IGNORECASE,
)

#: SELECT COUNTER_INCREASE(v, ts) [AS a] [, COUNTER_RATE(v, ts) [AS r]]
#: [, COUNT(*)] FROM t WHERE <range> [GROUP BY date_trunc] — PromQL
#: increase()/rate() semantics (reset-aware monotonic delta): served
#: from the registered counter rollup (operators/counter). Unservable
#: matches fall back to a generated lag-window statement.
_CTR_ITEMS = (
    r"COUNTER_INCREASE\s*\(\s*(?P<iv>\w+)\s*,\s*(?P<its>\w+)\s*\)"
    r"(?:\s+AS\s+(?P<ialias>\w+))?"
    r"(?:\s*,\s*COUNTER_RATE\s*\(\s*(?P<rv>\w+)\s*,\s*(?P<rts>\w+)\s*\)"
    r"(?:\s+AS\s+(?P<ralias>\w+))?)?"
    r"(?:\s*,\s*(?P<cnt>COUNT)\s*\(\s*\*\s*\)(?:\s+AS\s+(?P<cntalias>\w+))?)?"
)

_CTR_PATTERN = re.compile(
    r"^\s*SELECT\s+" + _CTR_ITEMS + r"\s+FROM\s+(?P<table>\w+)\s+"
    + _WHERE_RANGE + r"\s*;?\s*$",
    re.IGNORECASE,
)

_CTR_GROUP_PATTERN = re.compile(
    r"^\s*SELECT\s+" + _DT_BUCKET + r",\s*" + _CTR_ITEMS
    + r"\s+FROM\s+(?P<table>\w+)\s+" + _WHERE_RANGE + r"\s*"
    + _GROUP_BY_BUCKET + r"\s*;?\s*$",
    re.IGNORECASE,
)


#: SELECT M4(v, ts, n) FROM t WHERE <range> — error-free line-chart
#: downsampling (Jugel et al., VLDB'14): n pixel columns, each an
#: OHLC candle (px_ms, open, high, low, close, cnt). Dialect function
#: (no Spark builtin); served from the registered OHLC rollup as a
#: per-pixel candle re-combine, unservable matches lower to a
#: generated min_by/max_by scan with the same slot-quantized pixel
#: geometry (minute grain — the default build grain).
_M4_PATTERN = re.compile(
    r"^\s*SELECT\s+M4\s*\(\s*(?P<mv>\w+)\s*,\s*(?P<mts>\w+)\s*,\s*"
    r"(?P<npx>\d+)\s*\)\s+FROM\s+(?P<table>\w+)\s+"
    + _WHERE_RANGE + r"\s*;?\s*$",
    re.IGNORECASE,
)


#: SELECT <key>, M4(v, ts, n) FROM t WHERE <range> GROUP BY key — the
#: per-series panel form (every symbol's chart in one query), served
#: from the keyed OHLC rollup; fallback is the keyed rank-window scan.
#: (Defined after _KEYED_PREFIX below.)

#: keyed (per-series) forms of the three stitch families:
#: SELECT <key> [AS k], date_trunc('<g>', ts) [AS b], <items>
#: FROM t WHERE <range> GROUP BY (1, 2 | key, bucket) — served from
#: the registered keyed rollups (one shared (grp, slot) shuffle;
#: per-series cascade; collect-free at any key cardinality).
_KEYED_PREFIX = (
    r"^\s*SELECT\s+(?P<key>\w+)(?:\s+AS\s+(?P<kalias>\w+))?\s*,\s*"
)

_GROUP_BY_KEY_BUCKET = (
    r"GROUP\s+BY\s+(?:1\s*,\s*2|(?P<gb_key>\w+)\s*,\s*(?P<gb_bucket>\w+))"
)

_KEYED_OHLC_PATTERN = re.compile(
    _KEYED_PREFIX + _DT_BUCKET + r",\s*" + _OHLC_ITEMS
    + r"\s+FROM\s+(?P<table>\w+)\s+" + _WHERE_RANGE + r"\s*"
    + _GROUP_BY_KEY_BUCKET + r"\s*;?\s*$",
    re.IGNORECASE,
)

_KEYED_TWA_PATTERN = re.compile(
    _KEYED_PREFIX + _DT_BUCKET + r",\s*" + _TWA_ITEMS
    + r"\s+FROM\s+(?P<table>\w+)\s+" + _WHERE_RANGE + r"\s*"
    + _GROUP_BY_KEY_BUCKET + r"\s*;?\s*$",
    re.IGNORECASE,
)

_KEYED_CTR_PATTERN = re.compile(
    _KEYED_PREFIX + _DT_BUCKET + r",\s*" + _CTR_ITEMS
    + r"\s+FROM\s+(?P<table>\w+)\s+" + _WHERE_RANGE + r"\s*"
    + _GROUP_BY_KEY_BUCKET + r"\s*;?\s*$",
    re.IGNORECASE,
)

_KEYED_M4_PATTERN = re.compile(
    _KEYED_PREFIX
    + r"M4\s*\(\s*(?P<mv>\w+)\s*,\s*(?P<mts>\w+)\s*,\s*(?P<npx>\d+)\s*\)"
    + r"\s+FROM\s+(?P<table>\w+)\s+" + _WHERE_RANGE
    + r"\s*GROUP\s+BY\s+(?:1|(?P<gb_key>\w+))\s*;?\s*$",
    re.IGNORECASE,
)


def _parse_ts_literal(lit: str) -> int | None:
    """Naive-UTC timestamp literal → epoch ms (the string form the
    reference interpolates, /root/reference/src/main.rs:242-258)."""
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            dt = datetime.strptime(lit, fmt).replace(tzinfo=timezone.utc)
            return int(dt.timestamp() * 1000)
        except ValueError:
            continue
    return None


def _gran_finer_than_slot(gran: str, slot_ms: int) -> bool:
    """True when a GROUP BY date_trunc granularity cannot be served
    from a rollup built at ``slot_ms``: the requested buckets must be
    a whole multiple of the slot grain, else the cascade would emit
    slot-grain buckets silently mislabeled as finer ones (ADVICE r06
    #2 — e.g. an hour-slot rollup asked for per-minute buckets)."""
    from uwheel_datafusion_spark.functions.time import GRANULARITY_MS

    g_ms = GRANULARITY_MS[gran]
    return g_ms < slot_ms or g_ms % slot_ms != 0


def _stitch_range(m: re.Match, ts_col: str, slot_ms: int, wm: int, adv: int):
    """Shared ts-column / GROUP BY / alignment / horizon validation for
    every stitch-family spelling (scalar, GROUP BY date_trunc, GROUP BY
    key[, date_trunc]): whichever groups the matched pattern has are
    checked. Returns ``(s, e, gran, balias, kalias)`` or a
    fallback-reason string."""
    g = m.groupdict()
    ts_refs = {g[k].lower() for k in ("ts0", "ts1", "ts2", "ts3") if g.get(k)}
    if ts_refs != {ts_col}:
        return "bucket/filter column is not the rollup ts"
    gran = balias = kalias = None
    if g.get("gran"):
        gran = g["gran"].lower()
        if g.get("gran2") and g["gran2"].lower() != gran:
            return "GROUP BY granularity differs from SELECT"
        if _gran_finer_than_slot(gran, slot_ms):
            return "granularity finer than the rollup slot grain"
        balias = g["balias"] or "bucket"
        if g.get("gb_alias") and g["gb_alias"].lower() not in (
            balias.lower(), ts_col,
        ):
            return "GROUP BY key is not the bucket expression"
    if "key" in g:
        kalias = g["kalias"] or g["key"]
        if g["gb_key"] and g["gb_key"].lower() not in (
            g["key"].lower(), kalias.lower(),
        ):
            return "GROUP BY key is not the series key"
    if g.get("gb_bucket") and g["gb_bucket"].lower() not in (
        balias.lower(), ts_col,
    ):
        return "GROUP BY bucket is not the bucket expr"
    s = _parse_ts_literal(g["start"])
    e = _parse_ts_literal(g["end"])
    if s is None or e is None:
        return "unparseable timestamp literal"
    if s % slot_ms or e % slot_ms:
        return "endpoints not aligned to the rollup slot grain"
    if s < wm or e > adv:
        return "range outside the rollup horizon"
    return (s, e, gran, balias, kalias)


@dataclass
class RouteDecision:
    path: str  # "index" | "rollup" | "keyed_rollup" | "distinct_rollup" | "sql"
    reason: str
    table: str | None = None
    agg: str | None = None  # first aggregate (scalar entry point)
    range_ms: tuple[int, int] | None = None
    #: full select list as (agg, alias) pairs — all lowered from the
    #: same "all" partial in one index hit
    items: tuple[tuple[str, str], ...] = ()
    #: rollup path: which granularity table serves the GROUP BY, and
    #: the output alias of the time-bucket column
    granularity: str | None = None
    bucket_alias: str | None = None
    #: keyed_rollup path: output alias of the series-key column
    key_alias: str | None = None
    #: count_rollup (top-k) path: LIMIT n and the registered key column
    limit: int | None = None
    count_key: str | None = None
    #: keyed_distinct_rollup path: the registered series-key column
    key_col: str | None = None
    #: quantile_rollup path: the histogram-registered value column
    value_col: str | None = None
    #: quantile_rollup path: the requested quantile q in [0, 1]
    quantile: float | None = None
    #: sql path: a pre-lowered Spark statement to run instead of the
    #: original query (dialect functions with no Spark builtin — TWA /
    #: COUNTER_* — matched but unservable from a rollup)
    fallback_sql: str | None = None


#: DataFusion's APPROX_MEDIAN(x) has no Spark builtin; the fallback
#: path rewrites it textually to percentile_approx(x, 0.5) so any
#: reference-dialect query still RUNS when it can't be index-served
#: (values are then Spark's t-digest approximation, not the
#: histogram's — both are valid APPROX answers).
_MEDIAN_COMPAT = re.compile(
    r"APPROX_MEDIAN\s*\(\s*(\w+)\s*\)", re.IGNORECASE
)
_PCTL_COMPAT = re.compile(
    r"APPROX_PERCENTILE_CONT\s*\(\s*(\w+)\s*,\s*([\d.]+)\s*\)",
    re.IGNORECASE,
)


def _spark_compat(query: str) -> str:
    query = _MEDIAN_COMPAT.sub(r"percentile_approx(\1, 0.5)", query)
    return _PCTL_COMPAT.sub(r"percentile_approx(\1, \2)", query)


def _range_where(m: re.Match) -> str:
    ts = m["ts1"]
    return (
        f"WHERE {ts} >= TIMESTAMP '{m['start']}' "
        f"AND {ts} < TIMESTAMP '{m['end']}'"
    )


def _fb_clauses(m: re.Match, grouped: bool, keyed: bool):
    """Shared scaffolding for the TWA/counter slot-partial lowerings:
    ``(ev-select prefix, output prefix, partition-col prefix, sub-slot
    width ms, stitch window spec, final GROUP BY clause)``. Keyed adds
    the series key to every clause; grouped adds the date_trunc
    bucket. The sub-slot width is a minute under a GROUP BY (it must
    divide every supported granularity) and an hour otherwise."""
    ts = m["ts1"]
    k_sel = f"{m['key']} AS k, " if keyed else ""
    k_out = f"k AS {m['kalias'] or m['key']}, " if keyed else ""
    b_sel = f"DATE_TRUNC('{m['gran']}', {ts}) AS b, " if grouped else ""
    b_out = f"b AS {m['balias'] or 'bucket'}, " if grouped else ""
    part_cols = [c for c, on in (("k", keyed), ("b", grouped)) if on]
    mid = ("".join(f"{c}, " for c in part_cols))
    slot_ms = MINUTE_MS if grouped else HOUR_MS
    if part_cols:
        stitch_over = f"(PARTITION BY {', '.join(part_cols)} ORDER BY sb)"
        tail = f" GROUP BY {', '.join(part_cols)}"
    else:
        stitch_over = "(ORDER BY sb)"
        tail = ""
    return k_sel + b_sel, k_out + b_out, mid, slot_ms, stitch_over, tail


def _twa_fallback_sql(m: re.Match, grouped: bool, keyed: bool = False) -> str:
    """Lower a matched-but-unservable TWA query to a Spark statement
    over the fact table — the same LOCF step-function integral the
    rollup combine computes (exact-integer micros×ms areas summed as
    DECIMAL, so it agrees bit-for-bit with the rollup path on servable
    ranges). TWA is not a Spark builtin, so without this lowering the
    reference-dialect query could not RUN at all when it misses the
    rollup.

    Scale shape (VERDICT r06 #2 — the previous lowering funneled every
    fact row of an ungrouped range through ONE no-PARTITION-BY lag
    window): this is the on-the-fly twin of build_twa_rollup ×
    range_twa_df — consecutive-pair segments integrate inside
    sub-slot-PARTITIONED windows (parallel at any range), one partial
    row per occupied sub-slot, and only the ≤ range/slot partials flow
    through the ordered seam-stitch window."""
    ts, v = m["tts"], m["tv"]
    alias = m["talias"] or "twa"
    sel, out, mid, slot_ms, stitch_over, tail = _fb_clauses(m, grouped, keyed)
    twa_expr = (
        "CASE WHEN MAX(lt) = MIN(ft) THEN min_by(fv, sb) "
        "ELSE CAST(SUM(area) + SUM(seam) AS DOUBLE) / 1000000.0 "
        "/ CAST(MAX(lt) - MIN(ft) AS DOUBLE) END"
    )
    cnt = ""
    if m["cnt"] is not None:
        cnt = f", SUM(cnt) AS {m['cntalias'] or 'cnt'}"
    return f"""
        WITH ev AS (
            SELECT {sel}CAST(floor(unix_micros(
                       CAST({ts} AS TIMESTAMP)) / 1000) AS BIGINT) AS t,
                   {v} AS v
            FROM {m['table']} {_range_where(m)}
        ),
        o AS (
            SELECT {mid}sb, t, v,
                   lag(t) OVER w AS pt,
                   lag(CAST(round(v * 1000000) AS BIGINT)) OVER w AS pvm
            FROM (SELECT {mid}t - t % {slot_ms} AS sb, t, v FROM ev)
            WINDOW w AS (PARTITION BY {mid}sb ORDER BY t, v)
        ),
        p AS (
            SELECT {mid}sb,
                   min_by(t, struct(t, v)) AS ft,
                   min_by(v, struct(t, v)) AS fv,
                   max_by(t, struct(t, v)) AS lt,
                   max_by(v, struct(t, v)) AS lv,
                   coalesce(SUM(CAST(pvm AS DECIMAL(38,0))
                       * CAST(t - pt AS DECIMAL(38,0))),
                       CAST(0 AS DECIMAL(38,0))) AS area,
                   COUNT(*) AS cnt
            FROM o GROUP BY {mid}sb
        ),
        st AS (
            SELECT {mid}sb, ft, fv, lt, area, cnt,
                   coalesce(CAST(lag(CAST(round(lv * 1000000) AS BIGINT))
                           OVER w2 AS DECIMAL(38,0))
                       * CAST(ft - lag(lt) OVER w2 AS DECIMAL(38,0)),
                       CAST(0 AS DECIMAL(38,0))) AS seam
            FROM p WINDOW w2 AS {stitch_over}
        )
        SELECT {out}{twa_expr} AS {alias}{cnt}
        FROM st{tail}
    """


def _counter_fallback_sql(
    m: re.Match, grouped: bool, keyed: bool = False
) -> str:
    """Lower a matched-but-unservable COUNTER_INCREASE/RATE query to a
    Spark statement — PromQL reset semantics (a drop counts the new
    value), exact micros integers. Same slot-partial shape as
    :func:`_twa_fallback_sql` (VERDICT r06 #2): reset-aware steps fold
    inside sub-slot-partitioned windows; the seam step between
    consecutive sub-slots is applied in a stitch window over partial
    rows only."""
    ts, v = m["its"], m["iv"]
    ialias = m["ialias"] or "increase"
    sel, out, mid, slot_ms, stitch_over, tail = _fb_clauses(m, grouped, keyed)
    total = "(SUM(inc) + SUM(seam))"
    items = [f"CAST({total} AS DOUBLE) / 1000000.0 AS {ialias}"]
    if m["rv"] is not None:
        items.append(
            "CASE WHEN MAX(lt) = MIN(ft) THEN NULL "
            f"ELSE (CAST({total} AS DOUBLE) / 1000000.0) "
            "/ (CAST(MAX(lt) - MIN(ft) AS DOUBLE) / 1000.0) END "
            f"AS {m['ralias'] or 'rate_per_sec'}"
        )
    if m["cnt"] is not None:
        items.append(f"SUM(cnt) AS {m['cntalias'] or 'cnt'}")
    return f"""
        WITH ev AS (
            SELECT {sel}CAST(floor(unix_micros(
                       CAST({ts} AS TIMESTAMP)) / 1000) AS BIGINT) AS t,
                   CAST(round({v} * 1000000) AS BIGINT) AS vm
            FROM {m['table']} {_range_where(m)}
        ),
        o AS (
            SELECT {mid}sb, t, vm, lag(vm) OVER w AS pvm
            FROM (SELECT {mid}t - t % {slot_ms} AS sb, t, vm FROM ev)
            WINDOW w AS (PARTITION BY {mid}sb ORDER BY t, vm)
        ),
        p AS (
            SELECT {mid}sb,
                   min(t) AS ft, max(t) AS lt,
                   min_by(vm, struct(t, vm)) AS fvm,
                   max_by(vm, struct(t, vm)) AS lvm,
                   SUM(CASE WHEN pvm IS NULL THEN 0
                            WHEN vm >= pvm THEN vm - pvm ELSE vm END) AS inc,
                   COUNT(*) AS cnt
            FROM o GROUP BY {mid}sb
        ),
        st AS (
            SELECT {mid}ft, lt, inc, cnt,
                   CASE WHEN lag(lvm) OVER w2 IS NULL THEN 0
                        WHEN fvm >= lag(lvm) OVER w2
                            THEN fvm - lag(lvm) OVER w2
                        ELSE fvm END AS seam
            FROM p WINDOW w2 AS {stitch_over}
        )
        SELECT {out}{', '.join(items)}
        FROM st{tail}
    """


def _m4_fallback_sql(m: re.Match, keyed: bool, slot_ms: int) -> str:
    """Lower a matched-but-unservable M4 query to a min_by/max_by scan
    with the same slot-quantized pixel geometry as m4_downsample_df
    (the REGISTERED rollup slot grain when one exists, else the
    default build grain — ADVICE r06 #3: a hardcoded minute quantum
    made the fallback's pixel geometry diverge from the rollup path
    for non-minute-slot registrations), so the dialect query runs,
    and agrees with the rollup path on servable ranges. Pixel width
    derives in-plan from the query's own literals (integer
    ceil-division; a 1-row broadcast geometry frame). The keyed form
    adds the series key to every clause."""
    ts, v, n = m["mts"], m["mv"], int(m["npx"])
    k_sel = f"{m['key']} AS k," if keyed else ""
    k_out = f"k AS {m['kalias'] or m['key']}," if keyed else ""
    k_mid = "k, " if keyed else ""
    return f"""
        WITH g AS (
            SELECT s_ms,
                   ((((e_ms - s_ms) + {n - 1}) DIV {n} + {slot_ms - 1})
                       DIV {slot_ms}) * {slot_ms} AS px
            FROM (SELECT unix_millis(TIMESTAMP '{m['start']}') AS s_ms,
                         unix_millis(TIMESTAMP '{m['end']}') AS e_ms)
        ),
        ev AS (
            SELECT {k_mid}g.s_ms + ((t - g.s_ms) DIV g.px) * g.px AS px_ms, t, v
            FROM (
                SELECT {k_sel}
                       CAST(floor(unix_micros(
                           CAST({ts} AS TIMESTAMP)) / 1000) AS BIGINT) AS t,
                       {v} AS v
                FROM {m['table']} {_range_where(m)}
            ) CROSS JOIN g
        )
        SELECT {k_out} px_ms,
               min_by(v, struct(t, v)) AS open,
               max(v) AS high,
               min(v) AS low,
               max_by(v, struct(t, v)) AS close,
               count(*) AS cnt
        FROM ev GROUP BY {k_mid}px_ms
    """


def _ohlc_cols(m: re.Match, ts_col: str, value_col: str) -> str | None:
    if {m["ov"].lower(), m["hv"].lower(), m["lv"].lower(),
            m["cv"].lower()} != {value_col}:
        return "aggregated column is not the rollup value"
    for k, k1, k2 in (("ok", "ok1", "ok2"), ("ck", "ck1", "ck2")):
        if m[k] is not None:
            ok = m[k].lower() == ts_col
        else:
            ok = (m[k1].lower(), m[k2].lower()) == (ts_col, value_col)
        if not ok:
            return (
                "min_by/max_by order key is not the rollup ts "
                "(or its (ts, value) tie-break)"
            )
    return None


def _fn_cols(label: str, pairs):
    """Column check of a dialect function family: every present
    ``(value group, ts group)`` pair must name the rollup's columns."""

    def check(m: re.Match, ts_col: str, value_col: str) -> str | None:
        for vg, tg in pairs:
            if m[vg] is not None and (
                m[vg].lower() != value_col or m[tg].lower() != ts_col
            ):
                return f"{label} columns are not the rollup (value, ts)"
        return None

    return check


@dataclass(frozen=True)
class _StitchCell:
    """The router side of a stitch family: the SQL spellings it serves
    and how a match becomes a decision. The rollup's own combine,
    lowering and roles come from the operator descriptor ``fam``."""

    fam: stitch.Family
    #: RouteDecision.path is ``[keyed_]<path>_rollup``
    path: str
    agg: str
    #: the rollup's name in reasons ("no OHLC rollup for …")
    label: str
    how: str
    #: (scalar, grouped | None, keyed) statement patterns
    patterns: tuple
    #: (m, ts_col, value_col) → fallback reason, or None when the
    #: statement names the rollup's columns
    cols: Callable
    #: role → (alias group, group whose presence requests the role)
    aliases: dict
    #: (m, grouped, keyed, slot_ms) → generated Spark statement, for
    #: the dialect functions with no Spark builtin
    fallback: Callable | None = None


_CNT_ALIAS = {"CNT": ("cntalias", "cnt")}

_OHLC_CELL = _StitchCell(
    OHLC, "ohlc", "OHLC", "OHLC", "associative candle re-combine",
    (_OHLC_PATTERN, _OHLC_GROUP_PATTERN, _KEYED_OHLC_PATTERN),
    _ohlc_cols,
    {"OPEN": ("oalias", None), "HIGH": ("halias", None),
     "LOW": ("lalias", None), "CLOSE": ("calias", None), **_CNT_ALIAS},
)
_TWA_CELL = _StitchCell(
    TWA, "twa", "TWA", "TWA", "boundary-stitching combine",
    (_TWA_PATTERN, _TWA_GROUP_PATTERN, _KEYED_TWA_PATTERN),
    _fn_cols("TWA", (("tv", "tts"),)),
    {"TWA": ("talias", None), **_CNT_ALIAS},
    lambda m, grouped, keyed, _slot: _twa_fallback_sql(m, grouped, keyed),
)
_COUNTER_CELL = _StitchCell(
    COUNTER, "counter", "COUNTER", "counter", "reset-aware stitch",
    (_CTR_PATTERN, _CTR_GROUP_PATTERN, _KEYED_CTR_PATTERN),
    _fn_cols("counter", (("iv", "its"), ("rv", "rts"))),
    {"INCREASE": ("ialias", None), "RATE": ("ralias", "rv"), **_CNT_ALIAS},
    lambda m, grouped, keyed, _slot: _counter_fallback_sql(m, grouped, keyed),
)
#: M4 serves pixel candles from the OHLC rollup; its items are empty
#: (the pixel columns are fixed) and ``limit`` carries n_pixels
_M4_CELL = _StitchCell(
    OHLC, "m4", "M4", "OHLC", "per-pixel candle re-combine",
    (_M4_PATTERN, None, _KEYED_M4_PATTERN),
    _fn_cols("M4", (("mv", "mts"),)),
    {},
    lambda m, _grouped, keyed, slot_ms: _m4_fallback_sql(m, keyed, slot_ms),
)

#: route path → cell, for the one stitch serve
_STITCH_PATHS = {
    f"{keyed}{cell.path}_rollup": cell
    for cell in (_OHLC_CELL, _TWA_CELL, _COUNTER_CELL, _M4_CELL)
    for keyed in ("", "keyed_")
}


class WheelSqlRouter:
    """Register wheel indexes per (table, ts_col, value_col); run SQL."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._indexes: dict[str, tuple[str, str, WheelIndex]] = {}
        #: table → (key_col, ts_col, value_col, rollup_df, wm, adv)
        self._keyed: dict[str, tuple] = {}
        #: (table, distinct_col) → (ts_col, pairs_df, wm, adv)
        self._distinct: dict[tuple, tuple] = {}
        #: (table, key_col) → (ts_col, count_pairs_df, wm, adv)
        self._counts: dict[tuple, tuple] = {}
        #: (table, key_col, distinct_col) → (ts_col, pairs_df, wm, adv)
        self._kdistinct: dict[tuple, tuple] = {}
        #: (table, value_col) → (ts_col, hist_df, bin_width, slot_ms, wm, adv)
        self._hist: dict[tuple, tuple] = {}
        #: (table, key_col, value_col) → (ts_col, hist_df, bin_width, slot_ms, wm, adv)
        self._khist: dict[tuple, tuple] = {}
        #: stitch families (OHLC, TWA, counter): (family, table,
        #: key_col | None) → (ts_col, value_col, rollup, slot_ms, wm, adv)
        self._stitch: dict[tuple, tuple] = {}
        self.last_decision: RouteDecision | None = None

    def register_index(
        self, table: str, ts_col: str, value_col: str, index: WheelIndex
    ) -> None:
        self._indexes[table.lower()] = (ts_col.lower(), value_col.lower(), index)

    def register_distinct_rollup(
        self,
        table: str,
        distinct_col: str,
        ts_col: str,
        pairs,
        watermark_ms: int,
        advanced_ms: int,
    ) -> None:
        """Register a build_distinct_pairs frame (operators/distinct)
        so ``GROUP BY date_trunc + COUNT(DISTINCT <col>)`` queries
        rewrite onto it — exact at any grain because the rollup keeps
        the per-minute distinct SET as rows."""
        self._distinct[(table.lower(), distinct_col.lower())] = (
            ts_col.lower(),
            pairs,
            watermark_ms,
            advanced_ms,
        )

    def register_keyed_rollup(
        self,
        table: str,
        key_col: str,
        ts_col: str,
        value_col: str,
        rollup,
        watermark_ms: int,
        advanced_ms: int,
    ) -> None:
        """Register a KeyedWheelIndex.build_rollup frame so
        ``GROUP BY <key>, date_trunc(...)`` queries rewrite onto it —
        the per-series continuous-aggregate rewrite (TimescaleDB
        caggs), collect-free at any key cardinality."""
        self._keyed[table.lower()] = (
            key_col.lower(),
            ts_col.lower(),
            value_col.lower(),
            rollup,
            watermark_ms,
            advanced_ms,
        )

    def register_keyed_distinct_rollup(
        self,
        table: str,
        key_col: str,
        distinct_col: str,
        ts_col: str,
        pairs,
        watermark_ms: int,
        advanced_ms: int,
    ) -> None:
        """Register a build_keyed_distinct_pairs frame
        (operators/distinct) so ``GROUP BY <key>, date_trunc +
        COUNT(DISTINCT <col>)`` queries rewrite onto it — per-series
        exact distinct counts at any grain (buckets nest, sets
        re-distinct), collect-free at any key cardinality."""
        self._kdistinct[
            (table.lower(), key_col.lower(), distinct_col.lower())
        ] = (ts_col.lower(), pairs, watermark_ms, advanced_ms)

    def register_histogram_rollup(
        self,
        table: str,
        value_col: str,
        ts_col: str,
        hist,
        watermark_ms: int,
        advanced_ms: int,
        bin_width: float = 1.0,
        slot_ms: int = MINUTE_MS,
    ) -> None:
        """Register a build_histogram_rollup frame
        (operators/quantile_rollup) so ``APPROX_MEDIAN(<col>)`` range
        queries — scalar or GROUP BY date_trunc — rewrite onto it:
        merge covered slots' bins, one CDF walk, hard ±bin_width
        bound; never the fact scan."""
        self._hist[(table.lower(), value_col.lower())] = (
            ts_col.lower(),
            hist,
            bin_width,
            slot_ms,
            watermark_ms,
            advanced_ms,
        )

    def register_keyed_histogram_rollup(
        self,
        table: str,
        key_col: str,
        value_col: str,
        ts_col: str,
        hist,
        watermark_ms: int,
        advanced_ms: int,
        bin_width: float = 1.0,
        slot_ms: int = MINUTE_MS,
    ) -> None:
        """Register a build_keyed_histogram_rollup frame so per-series
        ``GROUP BY key, date_trunc + APPROX_MEDIAN/-PERCENTILE_CONT``
        queries rewrite onto it — per-(series, bucket) CDF walks,
        collect-free at any key cardinality."""
        self._khist[(table.lower(), key_col.lower(), value_col.lower())] = (
            ts_col.lower(),
            hist,
            bin_width,
            slot_ms,
            watermark_ms,
            advanced_ms,
        )

    def register_ohlc_rollup(
        self,
        table: str,
        value_col: str,
        ts_col: str,
        rollup,
        watermark_ms: int,
        advanced_ms: int,
        slot_ms: int = MINUTE_MS,
    ) -> None:
        """Register a build_ohlc_rollup frame (operators/ohlc) so
        candlestick queries — ``min_by/max(value)/min(value)/max_by``
        over an aligned range, scalar or GROUP BY date_trunc — rewrite
        onto it: one associative re-combine of covered slots, never
        the fact scan."""
        self._register_stitch(
            "ohlc", table, None, ts_col, value_col, rollup, slot_ms,
            watermark_ms, advanced_ms,
        )

    def register_twa_rollup(
        self,
        table: str,
        value_col: str,
        ts_col: str,
        rollup,
        watermark_ms: int,
        advanced_ms: int,
        slot_ms: int = MINUTE_MS,
    ) -> None:
        """Register a build_twa_rollup frame (operators/twa) so
        ``TWA(value, ts)`` / ``TIME_WEIGHTED_AVG(value, ts)`` range
        queries rewrite onto it — the boundary-stitching combine over
        covered slots; unservable matches lower to a generated
        lag-window scan (the dialect function has no Spark builtin)."""
        self._register_stitch(
            "twa", table, None, ts_col, value_col, rollup, slot_ms,
            watermark_ms, advanced_ms,
        )

    def register_counter_rollup(
        self,
        table: str,
        value_col: str,
        ts_col: str,
        rollup,
        watermark_ms: int,
        advanced_ms: int,
        slot_ms: int = MINUTE_MS,
    ) -> None:
        """Register a build_counter_rollup frame (operators/counter)
        so ``COUNTER_INCREASE/COUNTER_RATE(value, ts)`` range queries
        (PromQL increase/rate) rewrite onto it; unservable matches
        lower to a generated lag-window scan."""
        self._register_stitch(
            "counter", table, None, ts_col, value_col, rollup, slot_ms,
            watermark_ms, advanced_ms,
        )

    def register_keyed_ohlc_rollup(
        self, table, key_col, value_col, ts_col, rollup,
        watermark_ms, advanced_ms, slot_ms: int = MINUTE_MS,
    ) -> None:
        """Keyed OHLC (build_keyed_ohlc_rollup): per-series candlestick
        SQL (`SELECT key, date_trunc, min_by… GROUP BY 1, 2`) rewrites
        onto it — one per-series cascade, never the fact scan."""
        self._register_stitch(
            "ohlc", table, key_col, ts_col, value_col, rollup, slot_ms,
            watermark_ms, advanced_ms,
        )

    def register_keyed_twa_rollup(
        self, table, key_col, value_col, ts_col, rollup,
        watermark_ms, advanced_ms, slot_ms: int = MINUTE_MS,
    ) -> None:
        """Keyed TWA (build_keyed_twa_rollup): per-series
        TWA(value, ts) grouped SQL rewrites onto it; unservable
        matches lower to a keyed lag-window scan."""
        self._register_stitch(
            "twa", table, key_col, ts_col, value_col, rollup, slot_ms,
            watermark_ms, advanced_ms,
        )

    def register_keyed_counter_rollup(
        self, table, key_col, value_col, ts_col, rollup,
        watermark_ms, advanced_ms, slot_ms: int = MINUTE_MS,
    ) -> None:
        """Keyed counter (build_keyed_counter_rollup): per-series
        COUNTER_INCREASE/RATE grouped SQL rewrites onto it; unservable
        matches lower to a keyed lag-window scan."""
        self._register_stitch(
            "counter", table, key_col, ts_col, value_col, rollup, slot_ms,
            watermark_ms, advanced_ms,
        )

    def _register_stitch(self, family, table, key_col, ts_col, value_col,
                         rollup, slot_ms, watermark_ms, advanced_ms) -> None:
        key = None if key_col is None else key_col.lower()
        self._stitch[(family, table.lower(), key)] = (
            ts_col.lower(), value_col.lower(), rollup, slot_ms,
            watermark_ms, advanced_ms,
        )

    def register_count_rollup(
        self,
        table: str,
        key_col: str,
        ts_col: str,
        pairs,
        watermark_ms: int,
        advanced_ms: int,
    ) -> None:
        """Register a build_count_pairs frame (operators/distinct) so
        top-k heavy-hitter queries (GROUP BY key ORDER BY COUNT(*)
        DESC LIMIT n over a bucket-aligned range) rewrite onto it —
        exact because per-bucket counts are additive."""
        self._counts[(table.lower(), key_col.lower())] = (
            ts_col.lower(),
            pairs,
            watermark_ms,
            advanced_ms,
        )

    # ------------------------------------------------------------------ route

    def _decide(self, query: str) -> RouteDecision:
        # Cheap substring pre-dispatch: the reference-shaped scalar
        # query (src/main.rs:252-257 — SELECT agg FROM t WHERE range)
        # has no GROUP BY, so it must not pay 5 full-string regex
        # attempts before reaching _PATTERN (r04 regression: router
        # rewrite p50 40 µs -> 110 µs). One upper() beats one failed
        # re.match; only grouped queries walk the grouped chain.
        qu = query.upper()
        if "APPROX_MEDIAN" in qu or "APPROX_PERCENTILE_CONT" in qu:
            if "GROUP" in qu:
                km = _KEYED_MEDIAN_PATTERN.match(query)
                if km is not None:
                    return self._decide_keyed_median(km)
                mg = _MEDIAN_GROUP_PATTERN.match(query)
                if mg is not None:
                    return self._decide_median(mg, grouped=True)
            mm = _MEDIAN_PATTERN.match(query)
            if mm is not None:
                return self._decide_median(mm, grouped=False)
        if "M4" in qu:
            d = self._route_stitch(_M4_CELL, qu, query)
            if d is not None:
                return d
        if "MIN_BY" in qu and "MAX_BY" in qu:
            d = self._route_stitch(_OHLC_CELL, qu, query)
            if d is not None:
                return d
        if "TWA" in qu or "TIME_WEIGHTED_AVG" in qu:
            d = self._route_stitch(_TWA_CELL, qu, query)
            if d is not None:
                return d
        if "COUNTER_INCREASE" in qu:
            d = self._route_stitch(_COUNTER_CELL, qu, query)
            if d is not None:
                return d
        if "GROUP" in qu:  # whitespace-tolerant: patterns allow GROUP\s+BY
            if "LIMIT" in qu:
                tm = _TOPK_PATTERN.match(query)
                if tm is not None:
                    return self._decide_topk(tm)
            if "DISTINCT" in qu:
                kdm = _KEYED_DISTINCT_PATTERN.match(query)
                if kdm is not None:
                    return self._decide_keyed_distinct(kdm)
                dm = _DISTINCT_GROUP_PATTERN.match(query)
                if dm is not None:
                    return self._decide_distinct_grouped(dm)
            km = _KEYED_GROUP_PATTERN.match(query)
            if km is not None:
                return self._decide_keyed_grouped(km)
            gm = _GROUP_PATTERN.match(query)
            if gm is not None:
                return self._decide_grouped(gm)
        m = _PATTERN.match(query)
        if not m:
            return RouteDecision("sql", "shape not Aggregate(Filter(range))")
        table = m["table"].lower()
        reg = self._indexes.get(table)
        if reg is None:
            return RouteDecision("sql", f"no index registered for table {table}")
        ts_col, value_col, index = reg
        if m["ts1"].lower() != ts_col or m["ts2"].lower() != ts_col:
            return RouteDecision("sql", "filter column is not the indexed ts")
        items: list[tuple[str, str]] = []
        for im in _ITEM_PATTERN.finditer(m["items"]):
            agg = im["agg"].upper()
            col = im["col"].lower()
            if col != value_col and not (agg == "COUNT" and col in ("*", "1")):
                return RouteDecision(
                    "sql", "aggregated column is not the indexed value"
                )
            items.append((agg, im["alias"] or f"{agg.lower()}_value"))
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        if s % MINUTE_MS or e % MINUTE_MS:
            return RouteDecision(
                "sql", "endpoints not minute-aligned (index contract, SURVEY §4.2)"
            )
        if s < index.watermark_ms or e > index.advanced_ms:
            return RouteDecision("sql", "range outside the indexed horizon")
        return RouteDecision(
            "index",
            "rewritten onto wheel index",
            table,
            items[0][0],
            (s, e),
            tuple(items),
        )

    def _decide_median(self, m: re.Match, grouped: bool) -> RouteDecision:
        """APPROX_MEDIAN range query → histogram-rollup rewrite (scalar
        or per-date_trunc-bucket)."""
        table = m["table"].lower()
        col = (m["col"] or m["colq"]).lower()
        q = float(m["q"]) if m["q"] else 0.5
        reg = self._hist.get((table, col))
        if reg is None:
            return RouteDecision(
                "sql", f"no histogram rollup for {table}.{col}"
            )
        ts_col, _hist, _bw, slot_ms, wm, adv = reg
        ts_refs = {m["ts1"].lower(), m["ts2"].lower()}
        if grouped:
            ts_refs.add(m["ts0"].lower())
            if m["ts3"]:
                ts_refs.add(m["ts3"].lower())
        if ts_refs != {ts_col}:
            return RouteDecision(
                "sql", "bucket/filter column is not the histogram ts"
            )
        gran = None
        if grouped:
            gran = m["gran"].lower()
            if m["gran2"] and m["gran2"].lower() != gran:
                return RouteDecision(
                    "sql", "GROUP BY granularity differs from SELECT"
                )
            if _gran_finer_than_slot(gran, slot_ms):
                return RouteDecision(
                    "sql", "granularity finer than the histogram slot grain"
                )
            balias = m["balias"] or "bucket"
            if m["gb_alias"] and m["gb_alias"].lower() not in (
                balias.lower(),
                ts_col,
            ):
                return RouteDecision(
                    "sql", "GROUP BY key is not the bucket expression"
                )
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        if s % slot_ms or e % slot_ms:
            return RouteDecision(
                "sql", "endpoints not aligned to the histogram slot grain"
            )
        if s < wm or e > adv:
            return RouteDecision("sql", "range outside the rollup horizon")
        default_alias = (
            "approx_median" if m["col"] else "approx_percentile"
        )
        return RouteDecision(
            "quantile_rollup",
            f"rewritten onto histogram rollup (q={q}, ±bin_width bound)",
            table,
            "APPROX_MEDIAN" if m["col"] else "APPROX_PERCENTILE_CONT",
            (s, e),
            (("QUANTILE", m["alias"] or default_alias),),
            granularity=gran,
            bucket_alias=(m["balias"] or "bucket") if grouped else None,
            value_col=col,
            quantile=q,
        )

    def _decide_keyed_median(self, m: re.Match) -> RouteDecision:
        """Per-series APPROX_MEDIAN / APPROX_PERCENTILE_CONT → keyed
        histogram rollup rewrite."""
        table = m["table"].lower()
        col = (m["col"] or m["colq"]).lower()
        q = float(m["q"]) if m["q"] else 0.5
        key = m["key"].lower()
        reg = self._khist.get((table, key, col))
        if reg is None:
            return RouteDecision(
                "sql", f"no keyed histogram rollup for ({table}, {key}, {col})"
            )
        ts_col, _hist, _bw, slot_ms, wm, adv = reg
        ts_refs = {m["ts0"].lower(), m["ts1"].lower(), m["ts2"].lower()}
        if ts_refs != {ts_col}:
            return RouteDecision(
                "sql", "bucket/filter column is not the histogram ts"
            )
        kalias = m["kalias"] or m["key"]
        balias = m["balias"] or "bucket"
        if m["gb_key"] and m["gb_key"].lower() not in (key, kalias.lower()):
            return RouteDecision("sql", "GROUP BY key is not the series key")
        if m["gb_bucket"] and m["gb_bucket"].lower() not in (
            balias.lower(),
            ts_col,
        ):
            return RouteDecision("sql", "GROUP BY bucket is not the bucket expr")
        if _gran_finer_than_slot(m["gran"].lower(), slot_ms):
            return RouteDecision(
                "sql", "granularity finer than the histogram slot grain"
            )
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        if s % slot_ms or e % slot_ms:
            return RouteDecision(
                "sql", "endpoints not aligned to the histogram slot grain"
            )
        if s < wm or e > adv:
            return RouteDecision("sql", "range outside the rollup horizon")
        default_alias = (
            "approx_median" if m["col"] else "approx_percentile"
        )
        return RouteDecision(
            "keyed_quantile_rollup",
            f"rewritten onto keyed histogram rollup (q={q}, ±bin_width bound)",
            table,
            "APPROX_MEDIAN" if m["col"] else "APPROX_PERCENTILE_CONT",
            (s, e),
            (("QUANTILE", m["alias"] or default_alias),),
            granularity=m["gran"].lower(),
            bucket_alias=balias,
            key_alias=kalias,
            key_col=key,
            value_col=col,
            quantile=q,
        )

    def _serve_keyed_quantile_rollup(self, d: RouteDecision) -> DataFrame:
        """Per-series quantiles from the keyed histogram rollup: one
        (grp, coarse bucket, bin) merge + CDF walks per (series,
        bucket) — work bounded by occupied cells, never fact rows;
        collect-free at any key cardinality."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS
        from uwheel_datafusion_spark.operators.quantile_rollup import (
            keyed_grouped_quantile_df,
        )
        from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

        ts_col, hist, bw, _slot, _wm, _adv = self._khist[
            (d.table, d.key_col, d.value_col)
        ]
        s, e = d.range_ms
        _agg, alias = d.items[0]
        part = hist.filter(_bucket_range_pred(hist, s, e))
        out = keyed_grouped_quantile_df(
            part, GRANULARITY_MS[d.granularity], d.quantile, bw
        )
        return out.select(
            F.col("grp").alias(d.key_alias),
            F.timestamp_millis(F.col("bucket_ms"))
            .cast("timestamp_ntz")
            .alias(d.bucket_alias),
            F.col("approx_quantile").alias(alias),
        )

    # ------------------------------------------ stitch families (OHLC/TWA/ctr)

    def _route_stitch(self, cell, qu: str, query: str):
        """Match ``query`` against the cell's keyed, grouped and scalar
        spellings; None when none matches."""
        scalar, grouped, keyed = cell.patterns
        if "GROUP" in qu:
            for form, pattern in (("keyed", keyed), ("grouped", grouped)):
                m = pattern.match(query) if pattern is not None else None
                if m is not None:
                    return self._decide_stitch(cell, m, form)
        m = scalar.match(query)
        return None if m is None else self._decide_stitch(cell, m, None)

    def _decide_stitch(self, cell, m: re.Match, form) -> RouteDecision:
        """A stitch-family statement (``form`` None, "grouped" or
        "keyed") → its registered rollup, or the SQL path with the
        family's generated lowering when it has no Spark builtin."""
        keyed = form == "keyed"
        table = m["table"].lower()
        key = m["key"].lower() if keyed else None
        reg = self._stitch.get((cell.fam.name, table, key))
        slot_ms = reg[3] if reg is not None else MINUTE_MS
        fb = cell.fallback and cell.fallback(m, form is not None, keyed, slot_ms)
        if reg is None:
            where = f"({table}, {key})" if keyed else table
            return RouteDecision(
                "sql",
                f"no {'keyed ' if keyed else ''}{cell.label} rollup for {where}",
                fallback_sql=fb,
            )
        ts_col, value_col, _rollup, slot_ms, wm, adv = reg
        rng = cell.cols(m, ts_col, value_col) or _stitch_range(
            m, ts_col, slot_ms, wm, adv
        )
        if isinstance(rng, str):
            return RouteDecision("sql", rng, fallback_sql=fb)
        s, e, gran, balias, kalias = rng
        items = []
        for role, col in cell.fam.roles:
            alias, present = cell.aliases.get(role, (None, None))
            if alias and (present is None or m[present] is not None):
                items.append((role, m[alias] or col))
        npx = m.groupdict().get("npx")
        return RouteDecision(
            f"{'keyed_' if keyed else ''}{cell.path}_rollup",
            f"rewritten onto {'keyed ' if keyed else ''}{cell.label} rollup "
            f"({'per-series ' if keyed else ''}{cell.how})",
            table, cell.agg, (s, e), tuple(items),
            granularity=gran, bucket_alias=balias,
            key_alias=kalias, key_col=key, value_col=value_col,
            limit=None if npx is None else int(npx),
        )

    def _serve_stitch(self, d: RouteDecision) -> DataFrame:
        """Every stitch path: the covered slots' one combine, cascaded
        to the requested grain per (series?, bucket), or folded into
        pixel candles for M4; the requested roles under their
        aliases."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS
        from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

        fam = _STITCH_PATHS[d.path].fam
        _ts, _v, rollup, slot_ms, _wm, _adv = self._stitch[
            (fam.name, d.table, d.key_col)
        ]
        group_cols = [] if d.key_col is None else ["grp"]
        s, e = d.range_ms
        if d.agg == "M4":  # d.limit carries n_pixels
            out = stitch.m4(fam, rollup, s, e, d.limit, slot_ms, group_cols)
            return out.withColumnRenamed("grp", d.key_alias) if group_cols else out
        if d.granularity is None:
            out, cols = stitch.range_df(fam, rollup, s, e), []
        else:
            part = rollup.filter(_bucket_range_pred(rollup, s, e))
            out = stitch.grouped(
                fam, part, GRANULARITY_MS[d.granularity], group_cols
            )
            cols = [F.col(c).alias(d.key_alias) for c in group_cols] + [
                F.timestamp_millis(F.col("bucket_ms"))
                .cast("timestamp_ntz")
                .alias(d.bucket_alias)
            ]
        aliases = dict(d.items)
        for role, src in fam.roles:
            if role in aliases:
                col = F.col(src)
                if role == "CNT":
                    col = F.coalesce(col, F.lit(0).cast("long"))
                cols.append(col.alias(aliases[role]))
        return out.select(*cols)

    def _decide_grouped(self, m: re.Match) -> RouteDecision:
        """Continuous-aggregate shape: GROUP BY date_trunc over the
        indexed ts within an aligned range → serve from the rollup
        table of that granularity (distributed, partition-prunable;
        never touches the fact scan)."""
        from uwheel_datafusion_spark.functions.time import (
            GRANULARITY_MS,
            MONDAY_EPOCH_OFFSET_MS,
        )

        table = m["table"].lower()
        reg = self._indexes.get(table)
        if reg is None:
            return RouteDecision("sql", f"no index registered for table {table}")
        ts_col, value_col, index = reg
        ts_refs = {m["ts0"].lower(), m["ts1"].lower(), m["ts2"].lower()}
        if m["ts3"]:
            ts_refs.add(m["ts3"].lower())
        if ts_refs != {ts_col}:
            return RouteDecision("sql", "bucket/filter column is not the indexed ts")
        gran = m["gran"].lower()
        if m["gran2"] and m["gran2"].lower() != gran:
            return RouteDecision("sql", "GROUP BY granularity differs from SELECT")
        balias = m["balias"] or "bucket"
        if m["gb_alias"] and m["gb_alias"].lower() not in (
            balias.lower(),
            ts_col,
        ):
            return RouteDecision("sql", "GROUP BY key is not the bucket expression")
        # Monday weeks / calendar months / years fold from the day
        # rollup (see _serve_rollup)
        base_rollup = (
            "day" if gran in ("week", "month", "quarter", "year") else gran
        )
        if base_rollup not in index.rollups:
            return RouteDecision("sql", f"no {base_rollup} rollup in the index")
        items: list[tuple[str, str]] = []
        for im in _ITEM_PATTERN.finditer(m["items"]):
            agg = im["agg"].upper()
            col = im["col"].lower()
            if col != value_col and not (agg == "COUNT" and col in ("*", "1")):
                return RouteDecision(
                    "sql", "aggregated column is not the indexed value"
                )
            items.append((agg, im["alias"] or f"{agg.lower()}_value"))
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        if gran in ("month", "quarter", "year"):
            # calendar-varying widths: check alignment on the calendar,
            # not a fixed modulus (UTC — the engine's session tz)
            from datetime import datetime, timezone

            _first_months = {"month": range(1, 13), "quarter": (1, 4, 7, 10), "year": (1,)}
            for t in (s, e):
                dt = datetime.fromtimestamp(t / 1000, tz=timezone.utc)
                aligned = (
                    t % 1000 == 0
                    and dt.day == 1
                    and dt.hour == 0
                    and dt.minute == 0
                    and dt.second == 0
                    and dt.month in _first_months[gran]
                )
                if not aligned:
                    return RouteDecision(
                        "sql",
                        f"endpoints not {gran}-aligned "
                        "(edge buckets would be partial)",
                    )
        else:
            g_ms = GRANULARITY_MS[gran]
            # week buckets are Monday-anchored (date_trunc semantics), so
            # the alignment check shifts by the epoch→Monday offset
            off = MONDAY_EPOCH_OFFSET_MS if gran == "week" else 0
            if (s - off) % g_ms or (e - off) % g_ms:
                return RouteDecision(
                    "sql",
                    f"endpoints not {gran}-aligned (edge buckets would be partial)",
                )
        if s < index.watermark_ms or e > index.advanced_ms:
            return RouteDecision("sql", "range outside the indexed horizon")
        return RouteDecision(
            "rollup",
            (
                "rewritten onto day rollup (Monday-week re-aggregation)"
                if gran == "week"
                else (
                    f"rewritten onto day rollup (calendar {gran} re-aggregation)"
                    if gran in ("month", "quarter", "year")
                    else f"rewritten onto {gran} rollup table"
                )
            ),
            table,
            items[0][0],
            (s, e),
            tuple(items),
            granularity=gran,
            bucket_alias=balias,
        )

    def _decide_distinct_grouped(self, m: re.Match) -> RouteDecision:
        """GROUP BY date_trunc + COUNT(DISTINCT col) → the registered
        distinct-pairs rollup, re-distincted at the requested grain
        (exact: buckets nest, sets re-distinct)."""
        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS

        table = m["table"].lower()
        reg = self._distinct.get((table, m["dcol"].lower()))
        if reg is None:
            return RouteDecision(
                "sql",
                f"no distinct rollup for ({table}, {m['dcol'].lower()})",
            )
        ts_col, _pairs, wm, adv = reg
        ts_refs = {m["ts0"].lower(), m["ts1"].lower(), m["ts2"].lower()}
        if m["ts3"]:
            ts_refs.add(m["ts3"].lower())
        if ts_refs != {ts_col}:
            return RouteDecision("sql", "bucket/filter column is not the indexed ts")
        gran = m["gran"].lower()
        if m["gran2"] and m["gran2"].lower() != gran:
            return RouteDecision("sql", "GROUP BY granularity differs from SELECT")
        balias = m["balias"] or "bucket"
        if m["gb_alias"] and m["gb_alias"].lower() not in (
            balias.lower(),
            ts_col,
        ):
            return RouteDecision("sql", "GROUP BY key is not the bucket expression")
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        g_ms = GRANULARITY_MS[gran]
        if s % g_ms or e % g_ms:
            return RouteDecision(
                "sql",
                f"endpoints not {gran}-aligned (edge buckets would be partial)",
            )
        if s < wm or e > adv:
            return RouteDecision("sql", "range outside the indexed horizon")
        return RouteDecision(
            "distinct_rollup",
            f"rewritten onto distinct-pairs rollup at {gran} grain",
            table,
            "COUNT_DISTINCT",
            (s, e),
            ((m["dcol"].lower(), m["alias"] or "n_distinct"),),
            granularity=gran,
            bucket_alias=balias,
        )

    def _decide_keyed_distinct(self, m: re.Match) -> RouteDecision:
        """Per-series COUNT(DISTINCT) continuous-aggregate shape:
        GROUP BY key + date_trunc + COUNT(DISTINCT col) → the
        registered keyed distinct-pairs rollup (exact re-distinct per
        (key, coarse bucket); never the fact scan)."""
        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS

        table = m["table"].lower()
        key_col = m["key"].lower()
        reg = self._kdistinct.get((table, key_col, m["dcol"].lower()))
        if reg is None:
            return RouteDecision(
                "sql",
                f"no keyed distinct rollup for ({table}, {key_col}, "
                f"{m['dcol'].lower()})",
            )
        ts_col, _pairs, wm, adv = reg
        ts_refs = {m["ts0"].lower(), m["ts1"].lower(), m["ts2"].lower()}
        if ts_refs != {ts_col}:
            return RouteDecision(
                "sql", "bucket/filter column is not the indexed ts"
            )
        kalias = m["kalias"] or key_col
        balias = m["balias"] or "bucket"
        if m["gb_key"] and m["gb_key"].lower() not in (key_col, kalias.lower()):
            return RouteDecision("sql", "GROUP BY key is not the series key")
        if m["gb_bucket"] and m["gb_bucket"].lower() not in (
            balias.lower(),
            ts_col,
        ):
            return RouteDecision(
                "sql", "GROUP BY bucket is not the bucket expression"
            )
        gran = m["gran"].lower()
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        g_ms = GRANULARITY_MS[gran]
        if s % g_ms or e % g_ms:
            return RouteDecision(
                "sql",
                f"endpoints not {gran}-aligned (edge buckets would be partial)",
            )
        if s < wm or e > adv:
            return RouteDecision("sql", "range outside the indexed horizon")
        return RouteDecision(
            "keyed_distinct_rollup",
            f"rewritten onto keyed distinct-pairs rollup at {gran} grain",
            table,
            "COUNT_DISTINCT",
            (s, e),
            ((m["dcol"].lower(), m["alias"] or "n_distinct"),),
            granularity=gran,
            bucket_alias=balias,
            key_alias=kalias,
            key_col=key_col,
        )

    def _decide_keyed_grouped(self, m: re.Match) -> RouteDecision:
        """Per-series continuous-aggregate shape: GROUP BY key +
        date_trunc over the registered keyed rollup's ts within an
        aligned range → one re-aggregation of (key, minute) partials,
        never the fact scan."""
        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS

        table = m["table"].lower()
        reg = self._keyed.get(table)
        if reg is None:
            return RouteDecision(
                "sql", f"no keyed rollup registered for table {table}"
            )
        key_col, ts_col, value_col, _rollup, wm, adv = reg
        if m["key"].lower() != key_col:
            return RouteDecision("sql", "group key is not the registered series key")
        ts_refs = {m["ts0"].lower(), m["ts1"].lower(), m["ts2"].lower()}
        if ts_refs != {ts_col}:
            return RouteDecision("sql", "bucket/filter column is not the indexed ts")
        gran = m["gran"].lower()
        kalias = m["kalias"] or m["key"]
        balias = m["balias"] or "bucket"
        if m["gb_key"] and m["gb_key"].lower() not in (
            key_col,
            kalias.lower(),
        ):
            return RouteDecision("sql", "GROUP BY key is not the series key")
        if m["gb_bucket"] and m["gb_bucket"].lower() not in (
            balias.lower(),
            ts_col,
        ):
            return RouteDecision("sql", "GROUP BY bucket is not the bucket expr")
        items: list[tuple[str, str]] = []
        for im in _ITEM_PATTERN.finditer(m["items"]):
            agg = im["agg"].upper()
            col = im["col"].lower()
            if col != value_col and not (agg == "COUNT" and col in ("*", "1")):
                return RouteDecision(
                    "sql", "aggregated column is not the indexed value"
                )
            items.append((agg, im["alias"] or f"{agg.lower()}_value"))
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        g_ms = GRANULARITY_MS[gran]
        if s % g_ms or e % g_ms:
            return RouteDecision(
                "sql",
                f"endpoints not {gran}-aligned (edge buckets would be partial)",
            )
        if s < wm or e > adv:
            return RouteDecision("sql", "range outside the indexed horizon")
        return RouteDecision(
            "keyed_rollup",
            f"rewritten onto keyed (per-{key_col}) {gran} rollup",
            table,
            items[0][0],
            (s, e),
            tuple(items),
            granularity=gran,
            bucket_alias=balias,
            key_alias=kalias,
        )

    def _decide_topk(self, m: re.Match) -> RouteDecision:
        """GROUP BY key ORDER BY COUNT(*) DESC LIMIT n → the
        registered count-pairs rollup."""
        table = m["table"].lower()
        key = m["key"].lower()
        reg = self._counts.get((table, key))
        if reg is None:
            return RouteDecision(
                "sql", f"no count rollup registered for ({table}, {key})"
            )
        ts_col, _pairs, wm, adv = reg
        if m["ts1"].lower() != ts_col or m["ts2"].lower() != ts_col:
            return RouteDecision("sql", "filter column is not the rollup ts")
        kalias = (m["kalias"] or m["key"]).lower()
        if m["gb"] and m["gb"].lower() not in (key, kalias):
            return RouteDecision("sql", "group key is not the count-rollup key")
        calias = (m["calias"] or "cnt").lower()
        ob = m["ob"].lower().replace(" ", "")
        if ob not in (calias, "count(*)", "2"):
            return RouteDecision("sql", "ORDER BY is not the count")
        if m["ob2"] and m["ob2"].lower() not in (key, kalias):
            return RouteDecision(
                "sql", "secondary ORDER BY is not the grouped key"
            )
        s = _parse_ts_literal(m["start"])
        e = _parse_ts_literal(m["end"])
        if s is None or e is None:
            return RouteDecision("sql", "unparseable timestamp literal")
        if s % MINUTE_MS or e % MINUTE_MS:
            return RouteDecision("sql", "endpoints not minute-aligned")
        if s < wm or e > adv:
            return RouteDecision("sql", "range outside the rollup horizon")
        return RouteDecision(
            "count_rollup",
            "rewritten onto count-pairs rollup (top-k heavy hitters)",
            table,
            "COUNT",
            (s, e),
            (("COUNT", calias),),
            key_alias=kalias,
            limit=int(m["limit"]),
            count_key=key,
        )

    def explain(self, query: str) -> str:
        d = self._decide(query)
        rng = f" range={d.range_ms}" if d.range_ms else ""
        return f"{d.path.upper()}: {d.reason}{rng}"

    # -------------------------------------------------------------------- run

    def sql_scalar(self, query: str):
        """Route and return the scalar answer (index path: pure driver
        arithmetic, no Spark job — the benchmarkable entry point).
        Only the SQL path, a single-item index statement and an
        ungrouped quantile are scalar shapes; every other path
        raises."""
        d = self._decide(query)
        self.last_decision = d
        if not (
            d.path == "sql"
            or (d.path == "index" and len(d.items) == 1)
            or (d.path == "quantile_rollup" and d.granularity is None)
        ):
            raise ValueError(
                "non-scalar result shape: use .sql() (DataFrame form)"
            )
        if d.path == "quantile_rollup":
            # rollup-served, but a Spark job (bin merge + CDF walk),
            # not driver arithmetic like the wheel's scalar path
            row = self._serve_quantile_rollup(d).first()
            return row[0] if row is not None else None
        if d.path == "index":
            _, _, index = self._indexes[d.table]
            di = index.to_driver_index()
            s, e = d.range_ms
            fn = {
                "SUM": di.query_sum,
                "COUNT": di.query_count,
                "MIN": di.query_min,
                "MAX": di.query_max,
                "AVG": di.query_avg,
            }[d.agg]
            return fn(s, e)
        row = self.spark.sql(
            d.fallback_sql or _spark_compat(query)
        ).first()
        return row[0] if row is not None else None

    def sql(self, query: str) -> DataFrame:
        """DataFrame-returning form (uniform with ``spark.sql``). A
        multi-aggregate select list over the same indexed (ts, value)
        pair is one index hit: every lowering reads the one "all"
        partial (sum, cnt, min, max) the slots store."""
        d = self._decide(query)
        self.last_decision = d
        if d.path == "sql":
            return self.spark.sql(d.fallback_sql or _spark_compat(query))
        serve = "_serve_stitch" if d.path in _STITCH_PATHS else f"_serve_{d.path}"
        return getattr(self, serve)(d)

    def _serve_index(self, d: RouteDecision) -> DataFrame:
        """The index path as a one-row local frame: every requested
        lowering from one driver-index hit."""
        _, _, index = self._indexes[d.table]
        di = index.to_driver_index()
        s, e = d.range_ms
        all_parts = di.query_all(s, e)
        lowered = {
            "SUM": all_parts["sum"],
            "COUNT": all_parts["cnt"],
            "MIN": all_parts["min"],
            "MAX": all_parts["max"],
            "AVG": all_parts["avg"],
        }
        schema = ", ".join(
            f"{alias} {'bigint' if agg == 'COUNT' else 'double'}"
            for agg, alias in d.items
        )
        return self.spark.createDataFrame(
            [tuple(lowered[agg] for agg, _ in d.items)], schema=schema
        )

    def _serve_count_rollup(self, d: RouteDecision) -> DataFrame:
        """Top-k heavy hitters served from the count-pairs rollup:
        bucket-range filter (day-prunable on a reopened rollup) + one
        groupBy over pair rows + TakeOrdered(k) — never the fact scan.
        Deterministic (cnt DESC, key ASC) tie-break."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.operators.distinct import (
            range_topk_keys_df,
        )

        _ts, pairs, _wm, _adv = self._counts[(d.table, d.count_key)]
        s, e = d.range_ms
        _agg, calias = d.items[0]
        return range_topk_keys_df(pairs, s, e, d.limit).select(
            F.col("key").alias(d.key_alias), F.col("cnt").alias(calias)
        )

    def _serve_quantile_rollup(self, d: RouteDecision) -> DataFrame:
        """APPROX_MEDIAN served from the histogram rollup: bucket-range
        filter (day-prunable on a reopened rollup) + bin merge + CDF
        walk — work bounded by occupied (slot, bin) cells, never fact
        rows. Hard ±bin_width bound (quantile_rollup module docs)."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS
        from uwheel_datafusion_spark.operators.quantile_rollup import (
            grouped_quantile_df,
            range_quantile_df,
        )
        from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

        ts_col, hist, bw, _slot, _wm, _adv = self._hist[
            (d.table, d.value_col)
        ]
        s, e = d.range_ms
        _agg, alias = d.items[0]
        if d.granularity is None:
            return range_quantile_df(hist, s, e, d.quantile, bw).select(
                F.col("approx_quantile").alias(alias)
            )
        part = hist.filter(_bucket_range_pred(hist, s, e))
        out = grouped_quantile_df(
            part, GRANULARITY_MS[d.granularity], d.quantile, bw
        )
        return out.select(
            F.timestamp_millis(F.col("bucket_ms"))
            .cast("timestamp_ntz")
            .alias(d.bucket_alias),
            F.col("approx_quantile").alias(alias),
        )

    def _serve_distinct_rollup(self, d: RouteDecision) -> DataFrame:
        """COUNT(DISTINCT) served from the pairs rollup: bucket-range
        filter (day-prunable on a reopened rollup) + one exact
        re-distinct at the requested grain — never the fact scan."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS
        from uwheel_datafusion_spark.operators.distinct import (
            grouped_distinct_exact,
        )
        from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

        dcol, alias = d.items[0]
        _ts, pairs, _wm, _adv = self._distinct[(d.table, dcol)]
        s, e = d.range_ms
        counts = grouped_distinct_exact(
            pairs.filter(_bucket_range_pred(pairs, s, e)),
            GRANULARITY_MS[d.granularity],
        )
        return counts.select(
            F.timestamp_millis(F.col("bucket_ms"))
            .cast("timestamp_ntz")
            .alias(d.bucket_alias),
            F.col("n_distinct").alias(alias),
        )

    def _serve_keyed_distinct_rollup(self, d: RouteDecision) -> DataFrame:
        """Per-series COUNT(DISTINCT) served from the keyed pairs
        rollup: bucket-range filter + one exact re-distinct per
        (series, coarse bucket) — never the fact scan, collect-free at
        any key cardinality."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS
        from uwheel_datafusion_spark.operators.distinct import (
            keyed_grouped_distinct_exact,
        )
        from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

        dcol, alias = d.items[0]
        _ts, pairs, _wm, _adv = self._kdistinct[(d.table, d.key_col, dcol)]
        s, e = d.range_ms
        counts = keyed_grouped_distinct_exact(
            pairs.filter(_bucket_range_pred(pairs, s, e)),
            GRANULARITY_MS[d.granularity],
        )
        return counts.select(
            F.col("grp").alias(d.key_alias),
            F.timestamp_millis(F.col("bucket_ms"))
            .cast("timestamp_ntz")
            .alias(d.bucket_alias),
            F.col("n_distinct").alias(alias),
        )

    def _serve_keyed_rollup(self, d: RouteDecision) -> DataFrame:
        """GROUP BY key + date_trunc served from the (key, minute)
        rollup: bucket-range filter (kb/dt partition-prunable on a
        reopened rollup) + ONE re-aggregation onto (key, coarse
        bucket), lowering each requested aggregate from the stored
        partials — collect-free at any key cardinality."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.functions.quant import micros_to_value
        from uwheel_datafusion_spark.functions.time import GRANULARITY_MS
        from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

        _key_col, _ts, _val, rollup, _wm, _adv = self._keyed[d.table]
        s, e = d.range_ms
        g_ms = GRANULARITY_MS[d.granularity]
        coarse = (
            F.col("bucket_ms") - F.col("bucket_ms") % F.lit(g_ms)
        ).alias("_b")
        agg = (
            rollup.filter(_bucket_range_pred(rollup, s, e))
            .groupBy(F.col("key"), coarse)
            .agg(
                F.sum("sum_micros").alias("sum_micros"),
                F.sum("cnt").alias("cnt"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
        )
        lowered = {
            "SUM": lambda: micros_to_value(F.col("sum_micros")),
            "COUNT": lambda: F.col("cnt"),
            "MIN": lambda: F.col("min_value"),
            "MAX": lambda: F.col("max_value"),
            "AVG": lambda: (
                F.col("sum_micros").cast("double")
                / F.col("cnt").cast("double")
                / 1_000_000
            ),
        }
        cols = [
            F.col("key").alias(d.key_alias),
            F.timestamp_millis(F.col("_b"))
            .cast("timestamp_ntz")
            .alias(d.bucket_alias),
        ]
        cols += [lowered[agg_name]().alias(alias) for agg_name, alias in d.items]
        return agg.select(*cols)

    def _serve_rollup(self, d: RouteDecision) -> DataFrame:
        """GROUP BY date_trunc served from the rollup: filter the slot
        range (partition-prunable on a reopened index) and lower each
        requested aggregate from the stored 'all' partial — empty
        buckets are absent, matching GROUP BY-over-scan semantics. The
        bucket column is emitted as TIMESTAMP_NTZ (the fixtures'
        flavor, naive UTC)."""
        from pyspark.sql import functions as F

        from uwheel_datafusion_spark.functions.quant import micros_to_value
        from uwheel_datafusion_spark.functions.time import (
            MONDAY_EPOCH_OFFSET_MS,
            WEEK_MS,
        )
        from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

        _, _, index = self._indexes[d.table]
        s, e = d.range_ms
        if d.granularity == "week":
            # Monday-anchored weeks: fold the day rollup (≤ 7 day-rows
            # per week) onto offset-shifted 7-day buckets — a partial
            # merge, never a fact-table scan. The range endpoints are
            # Monday-aligned (checked in _decide_grouped) and day
            # buckets nest inside weeks, so the day filter is exact.
            day = index.rollups["day"]
            shifted = F.col("bucket_ms") - F.lit(MONDAY_EPOCH_OFFSET_MS)
            week_start = (
                (F.floor(shifted / WEEK_MS) * WEEK_MS)
                + F.lit(MONDAY_EPOCH_OFFSET_MS)
            ).cast("long")
            r = (
                day.filter(_bucket_range_pred(day, s, e))
                .groupBy(week_start.alias("bucket_ms"))
                .agg(
                    F.sum("sum_micros").alias("sum_micros"),
                    F.sum("cnt").alias("cnt"),
                    F.min("min_value").alias("min_value"),
                    F.max("max_value").alias("max_value"),
                )
            )
        elif d.granularity in ("month", "quarter", "year"):
            # calendar buckets: day slots nest exactly in UTC calendar
            # months/quarters/years, so ≤ 31/92/366 day-partials fold per bucket —
            # a partial merge, never a fact-table scan
            day = index.rollups["day"]
            bucket_start = F.unix_millis(
                F.date_trunc(
                    d.granularity, F.timestamp_millis(F.col("bucket_ms"))
                )
            ).cast("long")
            r = (
                day.filter(_bucket_range_pred(day, s, e))
                .groupBy(bucket_start.alias("bucket_ms"))
                .agg(
                    F.sum("sum_micros").alias("sum_micros"),
                    F.sum("cnt").alias("cnt"),
                    F.min("min_value").alias("min_value"),
                    F.max("max_value").alias("max_value"),
                )
            )
        else:
            r = index.rollups[d.granularity]
        lowered = {
            "SUM": lambda: micros_to_value(F.col("sum_micros")),
            "COUNT": lambda: F.col("cnt"),
            "MIN": lambda: F.col("min_value"),
            "MAX": lambda: F.col("max_value"),
            "AVG": lambda: (
                F.col("sum_micros").cast("double")
                / F.col("cnt").cast("double")
                / 1_000_000
            ),
        }
        cols = [
            F.timestamp_millis(F.col("bucket_ms"))
            .cast("timestamp_ntz")
            .alias(d.bucket_alias)
        ]
        cols += [lowered[agg]().alias(alias) for agg, alias in d.items]
        return r.filter(_bucket_range_pred(r, s, e)).select(*cols)
