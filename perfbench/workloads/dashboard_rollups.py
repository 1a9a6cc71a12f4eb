"""dashboard_rollups — rollup-served panels and 32-panel dashboards.

The reference-sized table is registered with every rollup family a
dashboard reads: the histogram quantile rollup, OHLC, the keyed
rollups (``key_col=event_type``), distinct pairs and count pairs
(``user_id``). The client sends single panels through
``WheelEngine.sql(q).collect()`` (median, OHLC, SUM, top-k users,
distinct users per hour), then 32-panel dashboards (median, OHLC, SUM,
top-k users over eight ranges) through ``sql_many_rows``. Work here is
bound by Spark jobs: each panel costs one or more jobs.

- latency: panel time, as the median over rounds of the mean time of one
  round (one panel of each kind, in a fixed order): the kinds cost
  from ~0.2 to ~0.35 s, so a median over single panels would move with
  the mix a time limit happens to cut.
- throughput: panels per second of one whole dashboard (one per run: a
  dashboard takes ~8 s).
"""

from __future__ import annotations

import calendar
import time

import numpy as np

from perfbench import gen, oracle
from perfbench.common import Ctx, Result, attempt, median, overhead_pct, where

TABLE = "events"
BIN_WIDTH = 1.0  # the quantile rollup's default bin width
DASH_RANGES = 8  # a dashboard is 4 panels over each of 8 ranges


def panel(kind: str, s: int, e: int) -> str:
    w = where(TABLE, s, e)
    if kind == "median":
        return f"SELECT APPROX_MEDIAN(value) AS med {w}"
    if kind == "ohlc":
        return (
            "SELECT min_by(value, ts) AS open, max(value) AS high, "
            f"min(value) AS low, max_by(value, ts) AS close {w}"
        )
    if kind == "sum":
        return f"SELECT SUM(value) AS total {w}"
    if kind == "topk":
        return (
            f"SELECT user_id, COUNT(*) AS cnt {w} "
            "GROUP BY user_id ORDER BY cnt DESC, user_id LIMIT 5"
        )
    if kind == "distinct":
        return (
            "SELECT date_trunc('hour', ts) AS h, COUNT(DISTINCT user_id) AS u "
            f"{w} GROUP BY 1"
        )
    raise ValueError(kind)


PANEL_KINDS = ("median", "ohlc", "sum", "topk", "distinct")
#: the router path that must serve each panel kind
SERVED_BY = {
    "median": "quantile_rollup",
    "ohlc": "ohlc_rollup",
    "sum": "index",
    "topk": "count_rollup",
    "distinct": "distinct_rollup",
}
DASH_KINDS = ("median", "ohlc", "sum", "topk")


def _ms(dt) -> int:
    return calendar.timegm(dt.timetuple()) * 1000 + dt.microsecond // 1000


def expected(rows: oracle.Rows, kind: str, s: int, e: int):
    if kind == "median":
        return rows.median_bounds(s, e)
    if kind == "ohlc":
        return rows.ohlc(s, e)
    if kind == "sum":
        return rows.answer("SUM", s, e)
    if kind == "topk":
        return rows.topk(s, e, 5)
    return rows.distinct_by_hour(s, e)


def panel_ok(kind: str, got_rows: list, want) -> bool:
    """Compare one panel's collected rows with its expected answer."""
    if kind == "median":
        return len(got_rows) == 1 and oracle.median_ok(got_rows[0][0], want, BIN_WIDTH)
    if kind == "ohlc":
        return len(got_rows) == 1 and tuple(got_rows[0]) == want
    if kind == "sum":
        return len(got_rows) == 1 and oracle.scalars_equal(got_rows[0][0], want)
    if kind == "topk":
        return [(int(r[0]), int(r[1])) for r in got_rows] == want
    return sorted((_ms(r[0]), int(r[1])) for r in got_rows) == want


def make_statements(seed: int, smoke: bool):
    rng = np.random.default_rng([seed, 20])
    panel_ranges = gen.ranges(rng, 2 if smoke else 8, gen.HOUR_MS)
    panels = [(k, s, e) for s, e in panel_ranges for k in PANEL_KINDS]
    dashboards = []
    for _ in range(2):
        rs = gen.ranges(rng, DASH_RANGES, gen.HOUR_MS)
        dashboards.append([(k, s, e) for s, e in rs for k in DASH_KINDS])
    return panels, dashboards


def panel_rounds(eng, panels, stmts, want, res, deadline=None, rounds=None):
    """Whole rounds of panels (one of each kind) until ``deadline`` (or
    ``rounds``); returns each round's mean panel time (ms), every
    panel's time, and the (kind, routed path) of each panel."""
    means, lat, paths = [], [], []
    n_kinds = len(PANEL_KINDS)
    r = 0
    while (deadline is None or time.perf_counter() < deadline) and (
        rounds is None or r < rounds
    ):
        times = []
        for k in range(n_kinds):
            j = (r * n_kinds + k) % len(panels)
            ok, rows, dt = attempt(res, lambda q: eng.sql(q).collect(), stmts[j])
            if not ok:
                continue
            times.append(dt * 1e3)
            paths.append((panels[j][0], eng.router.last_decision.path))
            if not panel_ok(panels[j][0], rows, want[j]):
                res.check("panel answers equal NumPy", False, f"{stmts[j]} -> {rows[:6]}")
        if len(times) == n_kinds:
            means.append(sum(times) / n_kinds)
        lat.extend(times)
        r += 1
    return means, lat, paths


def dashboard_pass(eng, dashboards, stmts, want, res, deadline=None, n=None):
    """Whole dashboards until ``deadline`` (or n); returns panels/s of
    each dashboard."""
    rates = []
    i = 0
    while (deadline is None or time.perf_counter() < deadline) and (n is None or i < n):
        j = i % len(dashboards)
        ok, out, dt = attempt(res, eng.sql_many_rows, stmts[j])
        i += 1
        if not ok:
            continue
        rates.append(len(stmts[j]) / dt)
        for (kind, s, e), rows, w in zip(dashboards[j], out, want[j]):
            if not panel_ok(kind, rows, w):
                res.check("dashboard answers equal NumPy", False, f"{kind} [{s},{e}) -> {rows[:6]}")
    return rates


def prepare(ev, seed: int, smoke: bool):
    """Statements and expected answers of the panels and dashboards."""
    panels, dashboards = make_statements(seed, smoke)
    rows = oracle.Rows(ev.ts_ms, ev.value, gen.WM_MS, gen.ADV_MS, keys=ev.user_id)
    return (
        panels,
        [panel(*p) for p in panels],
        [expected(rows, *p) for p in panels],
        dashboards,
        [[panel(*p) for p in d] for d in dashboards],
        [[expected(rows, *p) for p in d] for d in dashboards],
    )


def register(spark, ev, p_stmts):
    """Register the table with every rollup family a dashboard reads,
    then serve one panel of each kind: the rollups are cached lazily,
    so the first panel of a family pays for materializing it."""
    from uwheel_datafusion_spark.engine import WheelEngine

    eng = WheelEngine(spark).register_table(
        TABLE, ev.path, ts_col="ts", value_col="value",
        watermark_ms=gen.WM_MS, advance_to_ms=gen.ADV_MS,
        quantiles=True, ohlc=True, key_col="event_type",
        distinct_col="user_id", count_key_col="user_id",
    )
    for j in range(len(PANEL_KINDS)):
        eng.sql(p_stmts[j]).collect()
    return eng


def run(ctx: Ctx) -> Result:
    ev = gen.events(ctx.seed, 60_000 if ctx.smoke else 2_400_000)
    inputs = prepare(ev, ctx.seed, ctx.smoke)
    panels, p_stmts, p_want, dashboards, d_stmts, d_want = inputs
    res = Result()
    L = ctx.layers

    with ctx.phase("setup") as ph:
        t0 = time.perf_counter()
        eng = register(ctx.spark, ev, p_stmts)
        res.setup_s = time.perf_counter() - t0
    L.set("spark.build_shuffle_bytes", ph.values.get("shuffle_write_bytes", 0))
    eng.sql_many_rows(d_stmts[0][: len(DASH_KINDS)])  # warm the batch path

    means, _, paths = panel_rounds(eng, panels, p_stmts, p_want, res, deadline=ctx.deadline(0.5))
    rates = dashboard_pass(eng, dashboards, d_stmts, d_want, res, n=1)
    res.check(
        "every panel is rollup-served",
        all(SERVED_BY[kind] == path for kind, path in paths),
        f"(kind, path) seen: {sorted(set(paths))}",
    )
    res.latency_ms = means
    res.throughput = median(rates)
    res.throughput_values = rates
    res.check("panel answers equal NumPy", True)
    res.check("dashboard answers equal NumPy", True)

    if ctx.trace:
        t_means, t_rates = trace_layers(ctx, res, eng, ev, inputs)
        ctx.phases["latency"] = ctx.phases["panels"]
        ctx.phases["throughput"] = ctx.phases["dashboards"]
        L.set("trace.overhead.latency_pct", overhead_pct(median(means), median(t_means), "lower"))
        L.set(
            "trace.overhead.throughput_pct",
            overhead_pct(res.throughput, median(t_rates), "higher"),
        )
    return res


def trace_layers(ctx: Ctx, res: Result, eng, ev, inputs):
    """The dashboard tier's per-layer metrics: jobs and tasks per panel
    and per dashboard, serve time per router path, then single layers
    timed directly. Returns the traced round means and dashboard rates."""
    panels, p_stmts, p_want, dashboards, d_stmts, d_want = inputs
    L = ctx.layers
    rounds = 2
    with ctx.phase("panels") as ph:
        t_means, t_lat, t_paths = panel_rounds(eng, panels, p_stmts, p_want, res, rounds=rounds)
    n_panels = rounds * len(PANEL_KINDS)
    L.set("spark.jobs_per_panel", ph.values["spark_jobs"] / n_panels)
    L.set("spark.tasks_per_panel", ph.values["spark_tasks"] / n_panels)
    for path in SERVED_BY.values():
        L.set(
            f"sql_router.serve_ms.{path}",
            median([t for t, (_, p) in zip(t_lat, t_paths) if p == path]),
        )
    with ctx.phase("dashboards") as ph:
        t_rates = dashboard_pass(eng, dashboards, d_stmts, d_want, res, n=1)
    L.set("spark.jobs_per_dashboard", ph.values["spark_jobs"])
    _layer_probes(ctx, eng, ev, dashboards[0])
    return t_means, t_rates


def _layer_probes(ctx: Ctx, eng, ev, dash) -> None:
    """Time single layers directly, after the measured phases."""
    from uwheel_datafusion_spark.operators import distinct as dst
    from uwheel_datafusion_spark.operators.keyed_wheel import KeyedWheelIndex
    from uwheel_datafusion_spark.operators.ohlc import build_ohlc_rollup
    from uwheel_datafusion_spark.operators.quantile_rollup import build_histogram_rollup
    from uwheel_datafusion_spark.plans.range_plan import decompose_range

    L = ctx.layers
    ranges = sorted({(s, e) for _, s, e in dash})
    for family in ("quantile", "ohlc"):
        L.time_calls(
            f"engine.batch_ms.{family}",
            lambda: eng.batch(TABLE, family, ranges).collect(),
            [()] * 3,
            1e-3,
        )
    L.time_calls("range_plan.decompose_us", decompose_range, ranges * 16, 1e-6)
    idx = eng.index(TABLE)
    L.time_calls("wheel.probe_ms", idx.probe, ranges, 1e-3)
    L.time_calls(
        "wheel.range_agg_batch_ms",
        lambda: idx.range_agg_batch_df(ranges).collect(),
        [()] * 3,
        1e-3,
    )
    df = ctx.spark.read.parquet(ev.path)
    wm, adv = gen.WM_MS, gen.ADV_MS
    builds = {
        "quantile_rollup.build_s": lambda: build_histogram_rollup(
            df, "ts", "value", wm, adv, cache=False
        ).count(),
        "ohlc.build_s": lambda: build_ohlc_rollup(df, "ts", "value", wm, adv, cache=False).count(),
        "distinct.build_s": lambda: dst.build_distinct_pairs(
            df, "ts", "user_id", wm, adv, cache=False
        ).count(),
        "keyed_wheel.build_s": lambda: KeyedWheelIndex.build_rollup(
            df, "event_type", "ts", "value", wm, adv
        ).count(),
        "count_pairs.build_s": lambda: dst.build_count_pairs(
            df, "ts", "user_id", wm, adv, cache=False
        ).count(),
    }
    for name, fn in builds.items():
        L.time_once(name, fn)
