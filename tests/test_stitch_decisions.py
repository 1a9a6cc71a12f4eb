"""Decision table for the stitch-family router cells: OHLC, TWA,
counter and M4, unkeyed and per-series. ``_decide`` reads no rollup,
so every registration holds a one-row placeholder frame and no Spark
job runs. The rollups are registered at an HOUR slot so that a minute
GROUP BY is finer than the slot grain and the M4 fallback has to carry
the registered grain."""

from datetime import datetime

import pytest

from uwheel_datafusion_spark.functions.time import (
    HOUR_MS,
    ms_to_ts_literal,
    to_epoch_ms,
)
from uwheel_datafusion_spark.plans.sql_router import WheelSqlRouter

WM = to_epoch_ms(datetime(2024, 1, 1))
ADV = to_epoch_ms(datetime(2024, 2, 1))
DAY = 86_400_000
S, E = WM + DAY, WM + 3 * DAY

_ITEMS = {
    "ohlc": (
        "min_by({v}, {ts}) AS o, max({v}) AS h, min({v}) AS l, "
        "max_by({v}, struct({ts}, {v})) AS c, count(*) AS n"
    ),
    "twa": "TWA({v}, {ts}) AS t, COUNT(*) AS n",
    "counter": (
        "COUNTER_INCREASE({v}, {ts}) AS inc, "
        "COUNTER_RATE({v}, {ts}) AS r, COUNT(*) AS n"
    ),
    "m4": "M4({v}, {ts}, 24)",
}

_SERVED = {
    "ohlc": ("OHLC", (("OPEN", "o"), ("HIGH", "h"), ("LOW", "l"),
                      ("CLOSE", "c"), ("CNT", "n"))),
    "twa": ("TWA", (("TWA", "t"), ("CNT", "n"))),
    "counter": ("COUNTER", (("INCREASE", "inc"), ("RATE", "r"),
                            ("CNT", "n"))),
    "m4": ("M4", ()),
}

_UNREGISTERED = {
    "ohlc": "no OHLC rollup",
    "twa": "no TWA rollup",
    "counter": "no counter rollup",
    "m4": "no OHLC rollup",
}

#: (family, form): scalar / grouped (GROUP BY date_trunc) / keyed
#: (GROUP BY key, date_trunc; M4 groups by the key alone)
CELLS = [
    ("ohlc", "scalar"), ("ohlc", "grouped"), ("ohlc", "keyed"),
    ("twa", "scalar"), ("twa", "grouped"), ("twa", "keyed"),
    ("counter", "scalar"), ("counter", "grouped"), ("counter", "keyed"),
    ("m4", "scalar"), ("m4", "keyed"),
]


def _query(family, form, v="value", ts="ts", fts="ts", s=S, e=E,
           gran="day", gb=None):
    items = _ITEMS[family].format(v=v, ts=ts)
    where = (
        f"WHERE {fts} >= '{ms_to_ts_literal(s)}' "
        f"AND {fts} < '{ms_to_ts_literal(e)}'"
    )
    if form == "scalar":
        return f"SELECT {items} FROM events {where}"
    if family == "m4":
        return (
            f"SELECT sym, {items} FROM events {where} GROUP BY {gb or '1'}"
        )
    bucket = f"date_trunc('{gran}', ts) AS b"
    if form == "grouped":
        return (
            f"SELECT {bucket}, {items} FROM events {where} "
            f"GROUP BY {gb or '1'}"
        )
    return (
        f"SELECT sym, {bucket}, {items} FROM events {where} "
        f"GROUP BY {gb or '1, 2'}"
    )


@pytest.fixture(scope="module")
def routers(spark):
    frame = spark.range(1)
    registered = WheelSqlRouter(spark)
    for fam in ("ohlc", "twa", "counter"):
        getattr(registered, f"register_{fam}_rollup")(
            "events", "value", "ts", frame, WM, ADV, slot_ms=HOUR_MS
        )
        getattr(registered, f"register_keyed_{fam}_rollup")(
            "events", "sym", "value", "ts", frame, WM, ADV, slot_ms=HOUR_MS
        )
    return registered, WheelSqlRouter(spark)


def _decide(router, q):
    router.explain(q)  # the decision alone; serves nothing
    return router._decide(q)


@pytest.mark.parametrize("family,form", CELLS)
def test_served_decision(routers, family, form):
    d = _decide(routers[0], _query(family, form))
    keyed = form == "keyed"
    agg, items = _SERVED[family]
    path = ("keyed_" if keyed else "") + f"{family}_rollup"
    assert (d.path, d.table, d.agg, d.range_ms, d.items) == (
        path, "events", agg, (S, E), items
    )
    grouped = form != "scalar" and family != "m4"
    assert (d.granularity, d.bucket_alias) == (
        ("day", "b") if grouped else (None, None)
    )
    assert (d.key_alias, d.key_col) == (
        ("sym", "sym") if keyed else (None, None)
    )
    assert d.value_col == "value"
    assert d.limit == (24 if family == "m4" else None)
    assert d.fallback_sql is None


def _rejections(family, form):
    """(case id, query kwargs, reason substring) for each way a
    statement of this cell misses its rollup."""
    cases = [
        ("value_col", {"v": "other"},
         "not the rollup value" if family == "ohlc"
         else "not the rollup (value, ts)"),
        ("fn_ts_col", {"ts": "other"},
         "order key is not the rollup ts" if family == "ohlc"
         else "not the rollup (value, ts)"),
        ("filter_ts_col", {"fts": "other"}, "column is not the rollup ts"),
        ("unaligned", {"s": S + 60_000},
         "endpoints not aligned to the rollup slot grain"),
        ("horizon", {"e": ADV + HOUR_MS}, "outside the rollup horizon"),
    ]
    if form != "scalar" and family != "m4":
        cases.append(("finer_grain", {"gran": "minute"},
                      "finer than the rollup slot grain"))
    if form == "grouped":
        cases.append(("group_by_bucket", {"gb": "other"},
                      "GROUP BY key is not the bucket expression"))
    if form == "keyed":
        cases.append(("group_by_key",
                      {"gb": "other" if family == "m4" else "other, b"},
                      "GROUP BY key is not the series key"))
    if form == "keyed" and family != "m4":
        cases.append(("group_by_bucket", {"gb": "sym, other"},
                      "GROUP BY bucket is not the bucket expr"))
    return cases


REJECTIONS = [
    (family, form, case, kw, reason)
    for family, form in CELLS
    for case, kw, reason in _rejections(family, form)
]


@pytest.mark.parametrize(
    "family,form,case,kw,reason",
    REJECTIONS,
    ids=[f"{f}-{fm}-{c}" for f, fm, c, _kw, _r in REJECTIONS],
)
def test_unservable_decision(routers, family, form, case, kw, reason):
    d = _decide(routers[0], _query(family, form, **kw))
    assert d.path == "sql"
    assert reason in d.reason
    # TWA / counter / M4 have no Spark builtin: an unservable match
    # carries its generated lowering; OHLC runs verbatim
    assert (d.fallback_sql is not None) == (family != "ohlc")
    if family == "m4":
        # the lowering quantizes pixels to the REGISTERED slot grain
        assert f"DIV {HOUR_MS}" in d.fallback_sql


@pytest.mark.parametrize("family,form", CELLS)
def test_unregistered_decision(routers, family, form):
    d = _decide(routers[1], _query(family, form))
    assert d.path == "sql"
    keyed = form == "keyed"
    want = _UNREGISTERED[family]
    if keyed:
        want = want.replace("no ", "no keyed ", 1)
    assert want in d.reason
    assert (d.fallback_sql is not None) == (family != "ohlc")
    if family != "ohlc":
        assert "FROM events" in d.fallback_sql
        assert ("sym" in d.fallback_sql) == keyed


@pytest.mark.parametrize("family,form", CELLS)
def test_sql_scalar_refuses_stitch_paths(routers, family, form):
    """Every served stitch decision is a multi-column or multi-row
    shape; ``sql_scalar`` refuses it before serving anything."""
    with pytest.raises(ValueError, match="non-scalar"):
        routers[0].sql_scalar(_query(family, form))


def test_sql_scalar_refuses_keyed_distinct(spark):
    """A per-series COUNT(DISTINCT) routes to the keyed distinct
    rollup, a grouped shape: ``sql_scalar`` must refuse it like every
    other grouped path instead of returning the first row's key."""
    spark.createDataFrame(
        [(datetime(2024, 1, 2), "a", 1), (datetime(2024, 1, 2), "b", 2)],
        "ts timestamp, sym string, user_id long",
    ).createOrReplaceTempView("tiny_events")
    r = WheelSqlRouter(spark)
    r.register_keyed_distinct_rollup(
        "tiny_events", "sym", "user_id", "ts", spark.range(1), WM, ADV
    )
    q = (
        f"SELECT sym, date_trunc('day', ts) AS b, "
        f"COUNT(DISTINCT user_id) AS u FROM tiny_events "
        f"WHERE ts >= '{ms_to_ts_literal(S)}' "
        f"AND ts < '{ms_to_ts_literal(E)}' GROUP BY 1, 2"
    )
    with pytest.raises(ValueError, match="non-scalar"):
        r.sql_scalar(q)
    assert r.last_decision.path == "keyed_distinct_rollup"
