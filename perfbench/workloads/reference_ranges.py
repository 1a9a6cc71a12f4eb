"""reference_ranges — the paper's workload.

The reference-sized table is registered with its value column only.
The client sends minute- and hour-aligned SUM/AVG/COUNT/MIN/MAX
statements as SQL text through ``WheelEngine.sql_scalar`` (served by the
driver index) and, alternating with them, statements of the same shape
with unaligned endpoints, which the router hands to the Spark SQL scan.

- throughput: index-served statements per second, taken over slices of
  SLICE statements; the metric is the 90th percentile of the slice
  rates (the fast end is what the code can do; slower slices are the
  shared host's interference).
- latency: median time of one routed fallback statement. Every one is
  a distinct statement text, as a user's random ranges would be, so each
  pays Spark's per-query planning and code generation; a pool of
  repeated texts would mix cached and uncached statements.

The two alternate through the whole run: one fallback statement, then
SLICES_PER_ROUND index slices. The host's speed moves in stretches of
10-20 s, so sampling both across the whole window keeps either from
landing wholly in one stretch; beside the scans' JVM work the slices
read ~15 % below an idle-JVM loop, but steadily.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import gen, oracle
from perfbench.common import Ctx, Result, attempt, median, overhead_pct, quantile, where

AGGS = ("SUM", "AVG", "COUNT", "MIN", "MAX")
SLICE = 500
SLICES_PER_ROUND = 2
#: distinct fallback statements: unmeasured warm-up, timed (enough for
#: a 20 s run at ~0.15 s each), and fresh ones for the traced repeat
N_WARM, N_TIMED, N_TRACED = 40, 160, 16
#: unmeasured rounds first, for this share of --seconds: both paths are
#: ~30 % slower for the first ~5 s after set-up (JIT)
WARM_SHARE = 0.25
TABLE = "events"


def statement(agg: str, s: int, e: int) -> str:
    item = "COUNT(*)" if agg == "COUNT" else f"{agg}(value)"
    return f"SELECT {item} {where(TABLE, s, e)}"


def make_inputs(seed: int, smoke: bool):
    ev = gen.events(seed, 60_000 if smoke else 2_400_000)
    rng = np.random.default_rng([seed, 10])
    n_pool = SLICE if smoke else 4 * SLICE
    rs = gen.ranges(rng, n_pool // 2, gen.MINUTE_MS) + gen.ranges(
        rng, n_pool - n_pool // 2, gen.HOUR_MS
    )
    index_pool = [(AGGS[i % 5], s, e) for i, (s, e) in enumerate(rs)]
    fb = []
    n_fb = (4 if smoke else N_WARM) + (8 if smoke else N_TIMED) + 2 * N_TRACED
    for i, (s, e) in enumerate(gen.ranges(rng, n_fb, gen.MINUTE_MS)):
        s2 = s + int(rng.integers(1, gen.MINUTE_MS))
        e2 = e + int(rng.integers(1, gen.MINUTE_MS))
        fb.append((AGGS[i % 5], s2, e2))
    return ev, index_pool, fb


def index_slice(eng, k, pool, stmts, expected, res, routed) -> float:
    """Serve the k-th SLICE-statement slice of the pool; returns its
    rate (statements/s)."""
    lo = (k * SLICE) % len(pool)
    batch = stmts[lo : lo + SLICE]
    router = eng.router
    got, paths = [], []
    t0 = time.perf_counter()
    for q in batch:
        try:
            got.append(eng.sql_scalar(q))
        except Exception:  # noqa: BLE001 — counted below
            got.append(ValueError)
        paths.append(router.last_decision.path)
    dt = time.perf_counter() - t0
    res.attempted += len(batch)
    res.failed += sum(g is ValueError for g in got)
    for p in paths:
        routed[p] = routed.get(p, 0) + 1
    for (agg, s, e), g, w in zip(pool[lo : lo + SLICE], got, expected[lo : lo + SLICE]):
        if g is not ValueError and not oracle.scalars_equal(g, w):
            res.check("index answers equal NumPy", False, f"{agg} [{s},{e}) got {g} want {w}")
            break
    return len(batch) / dt


def fallback_one(eng, i, fb, stmts, expected, res, routed):
    """Serve the i-th fallback statement; returns its latency (ms) or
    None when it failed."""
    j = i % len(fb)
    ok, v, dt = attempt(res, eng.sql_scalar, stmts[j])
    if not ok:
        return None
    p = eng.router.last_decision.path
    routed[p] = routed.get(p, 0) + 1
    rel = 1e-9 if fb[j][0] in ("SUM", "AVG") else 0.0
    if not oracle.scalars_equal(v, expected[j], rel):
        res.check("fallback answers equal DuckDB", False, f"{stmts[j]}: got {v} want {expected[j]}")
    return dt * 1e3


def serve(
    eng, inputs, res, deadline=None, rounds=None, n_fallback=1, n_slices=SLICES_PER_ROUND
):
    """Rounds of n_fallback fallback statements and n_slices index
    slices, until ``deadline`` (or ``rounds``). Returns the fallback
    latencies (ms), the slice rates and the routed path counts."""
    pool, stmts, expected, fb, fb_stmts, fb_expected = inputs
    lat, rates, routed = [], [], {}
    r = 0
    while (deadline is None or time.perf_counter() < deadline) and (
        rounds is None or r < rounds
    ):
        for f in range(n_fallback):
            ms = fallback_one(eng, r * n_fallback + f, fb, fb_stmts, fb_expected, res, routed)
            if ms is not None:
                lat.append(ms)
        for _ in range(n_slices):
            rates.append(index_slice(eng, len(rates), pool, stmts, expected, res, routed))
        r += 1
    return lat, rates, routed


def run(ctx: Ctx) -> Result:
    from uwheel_datafusion_spark.engine import WheelEngine

    ev, pool, fb = make_inputs(ctx.seed, ctx.smoke)
    ro = oracle.Rows(ev.ts_ms, ev.value, gen.WM_MS, gen.ADV_MS)
    stmts = [statement(*x) for x in pool]
    expected = [ro.answer(*x) for x in pool]
    fb_stmts = [statement(*x) for x in fb]
    fb_expected = oracle.duckdb_scalars(ev.path, TABLE, fb_stmts)
    res = Result()
    L = ctx.layers

    with ctx.phase("setup") as ph:
        t0 = time.perf_counter()
        eng = WheelEngine(ctx.spark).register_table(
            TABLE, ev.path, ts_col="ts", value_col="value",
            watermark_ms=gen.WM_MS, advance_to_ms=gen.ADV_MS,
        )
        t1 = time.perf_counter()
        di = eng.index(TABLE).to_driver_index()
        res.setup_s = time.perf_counter() - t0
    L.set("wheel.build_s", t1 - t0)
    L.set("wheel.to_driver_index_s", res.setup_s - (t1 - t0))
    L.set("spark.build_shuffle_bytes", ph.values.get("shuffle_write_bytes", 0))
    st = eng.index(TABLE).stats
    res.check(
        "build stats equal the generator's late/ahead counts",
        (st.n_late_rows, st.n_ahead_rows) == (ev.n_late, ev.n_ahead),
        f"got late={st.n_late_rows} ahead={st.n_ahead_rows}, want {ev.n_late}/{ev.n_ahead}",
    )

    def fallback_set(lo, hi):
        return fb[lo:hi], fb_stmts[lo:hi], fb_expected[lo:hi]

    n_warm = 4 if ctx.smoke else N_WARM
    n_timed = len(fb) - n_warm - 2 * N_TRACED
    # unmeasured, but its answers are checked and its operations counted
    serve(
        eng, (pool, stmts, expected, *fallback_set(0, n_warm)), res,
        deadline=ctx.deadline(WARM_SHARE),
    )
    inputs = (pool, stmts, expected, *fallback_set(n_warm, n_warm + n_timed))
    lat, rates, routed = serve(eng, inputs, res, deadline=ctx.deadline(1.0))
    res.check(
        "routed-path counts equal the designed mix",
        routed == {"index": len(rates) * SLICE, "sql": len(lat)},
        f"got {routed}, want index={len(rates) * SLICE} sql={len(lat)}",
    )
    res.throughput = quantile(rates, 0.9)
    res.throughput_values = rates
    res.latency_ms = lat
    res.check("index answers equal NumPy", True)
    res.check("fallback answers equal DuckDB", True)

    if ctx.trace:
        with ctx.phase("throughput"):
            _, t_rates, t_routed = serve(eng, inputs, res, rounds=1, n_fallback=0, n_slices=8)
        # fresh statement texts, so the repeat pays what the timed run paid
        lo = len(fb) - 2 * N_TRACED
        traced = (pool, stmts, expected, *fallback_set(lo, lo + N_TRACED))
        with ctx.phase("latency"):
            t_lat, _, t_routed2 = serve(
                eng, traced, res, rounds=1, n_fallback=N_TRACED, n_slices=0
            )
        L.set("sql_router.routed.index", t_routed.get("index", 0) + t_routed2.get("index", 0))
        L.set("sql_router.routed.sql", t_routed.get("sql", 0) + t_routed2.get("sql", 0))
        L.set("trace.overhead.latency_pct", overhead_pct(median(lat), median(t_lat), "lower"))
        L.set(
            "trace.overhead.throughput_pct",
            overhead_pct(res.throughput, quantile(t_rates, 0.9), "higher"),
        )
        fns = {
            "SUM": di.query_sum, "AVG": di.query_avg, "COUNT": di.query_count,
            "MIN": di.query_min, "MAX": di.query_max,
        }
        got = L.time_calls(
            "driver_index.query_ns", lambda a, s, e: fns[a](s, e), pool, 1e-9
        )
        if any(not oracle.scalars_equal(g, w) for g, w in zip(got, expected)):
            res.check("driver index answers equal NumPy", False)
        L.set("driver_index.size_bytes", di.size_bytes())
        L.time_calls("sql_router.explain_us", eng.explain, [(q,) for q in stmts], 1e-6)
        with ctx.phase("spark_sql_scan") as ph:
            L.time_calls(
                "spark_sql.scan_ms",
                lambda q: ctx.spark.sql(q).first(),
                [(q,) for q in fb_stmts[lo + N_TRACED :]],
                1e-3,
            )
        L.set("spark.input_bytes_per_scan", ph.values["input_bytes"] / N_TRACED)
        L.set("spark.tasks_per_scan", ph.values["spark_tasks"] / N_TRACED)
        # the dashboard tier reads the same table: its layers are
        # traced here (dashboard_rollups is not in the timed set)
        from perfbench.workloads import dashboard_rollups as dash

        inputs = dash.prepare(ev, ctx.seed, ctx.smoke)
        dash.trace_layers(ctx, res, dash.register(ctx.spark, ev, inputs[1]), ev, inputs)
    return res
