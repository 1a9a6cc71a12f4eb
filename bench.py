#!/usr/bin/env python3
"""Round benchmark — prints ONE JSON line the driver records.

Protocol (BASELINE.md): build the wheel index over `events`, run the
reference's two randomized range workloads (1000 queries each) down
both paths — the driver prefix-sum index (µWheel's role) and Spark SQL
full scan (DataFusion's role, sampled) — plus the headline SQL/join
queries at the bench scale factor.

Crash-tolerance contract: every workload runs inside try/except and the
JSON line is printed from a finally block, so a single failing workload
(or a mid-run crash) can never discard the numbers that DID complete.
Failed workloads appear under detail.errors instead of silently dying.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all).
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    import argparse

    # B1 parity: the reference's CLI takes --queries (default 1000,
    # /root/reference/src/main.rs:28-33); env vars override for the
    # round driver, flags for humans
    ap = argparse.ArgumentParser(description="spark-wheel round benchmark")
    ap.add_argument("--queries", type=int, default=None, help="ranges per workload")
    ap.add_argument("--sf-dir", default=None, help="scale-factor data dir")
    ap.add_argument("--sql-sample", type=int, default=None, help="SQL-path sample size")
    args = ap.parse_args()

    sf_dir = args.sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    n_queries = args.queries or int(os.environ.get("BENCH_QUERIES", "1000"))
    sql_sample = args.sql_sample or int(os.environ.get("BENCH_SQL_SAMPLE", "30"))

    timings: dict[str, float] = {}
    extras: dict[str, dict] = {}
    errors: dict[str, str] = {}
    t_total0 = time.perf_counter()

    def emit() -> None:
        """Print the single driver-facing JSON line from whatever completed."""
        total = time.perf_counter() - t_total0
        sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        if errors:
            extras["errors"] = errors
        wheel = extras.get("wheel_minute_ranges", {}).get("qps")
        sql = extras.get("sql_scan_ranges", {}).get("qps")
        router = extras.get("router_rewrite_ranges", {}).get("qps")
        if wheel and sql:
            extras["speedup"] = {
                "wheel_vs_sql_scan": round(wheel / sql, 1),
                **({"router_vs_sql_scan": round(router / sql, 1)} if router else {}),
            }
        payload = {
            "metric": "bench_total_wall",
            "value": round(total, 3),
            "unit": "sec",
            "queries": {k: round(v, 4) for k, v in timings.items()},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "detail": extras,
        }
        # stdout may be kept only as a truncated tail, which loses the
        # full per-path histogram block: BENCH_FULL_OUT=<path> also
        # writes the complete JSON there (unset, no file is written)
        full_path = os.environ.get("BENCH_FULL_OUT")
        if full_path:
            try:
                with open(full_path, "w") as fh:
                    json.dump(payload, fh, indent=1)
            except OSError:
                pass
        print(json.dumps(payload), flush=True)

    def step(name):
        """Run one workload; record its failure instead of dying."""

        def deco(fn):
            try:
                fn()
            except Exception as exc:  # noqa: BLE001 — bench must survive anything
                errors[name] = f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)

        return deco

    try:
        _run(
            sf_dir=sf_dir,
            n_queries=n_queries,
            sql_sample=sql_sample,
            timings=timings,
            extras=extras,
            step=step,
        )
    except BaseException as exc:  # noqa: BLE001 — emit partial numbers, then re-raise
        errors["__fatal__"] = f"{type(exc).__name__}: {exc}"
        traceback.print_exc(file=sys.stderr)
    finally:
        emit()


def _run(*, sf_dir, n_queries, sql_sample, timings, extras, step) -> None:
    from pyspark.sql import functions as F

    from uwheel_datafusion_spark import WheelIndex, get_spark
    from uwheel_datafusion_spark.bench.harness import (
        gen_hour_ranges,
        gen_minute_ranges,
        run_latency_bench,
    )
    from uwheel_datafusion_spark.functions.time import ms_to_ts_literal
    from uwheel_datafusion_spark.gate import (
        EVENTS_ADV_MS,
        EVENTS_WM_MS,
        REGISTRY,
    )
    from uwheel_datafusion_spark.sources.registry import (
        load_table,
        register_tables,
    )

    spark = get_spark(app_name="uwheel_bench")

    # ---------------------------------------------------------- index build (E1)
    # warm the session (codegen, shuffle machinery) so the build timing
    # measures the build, not JVM startup — the reference's build timer
    # also starts after process init (/root/reference/src/main.rs:48-50)
    spark.range(100_000).groupBy((F.col("id") % 97).alias("k")).count().collect()
    ev = load_table(spark, sf_dir, "events")
    t0 = time.perf_counter()
    idx = WheelIndex.build(ev, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS)
    di = idx.to_driver_index()
    timings["index_build"] = time.perf_counter() - t0
    extras["index"] = {
        "size_bytes": di.size_bytes(),
        "rows_indexed": idx.stats.n_indexed_rows,
        "rows_late": idx.stats.n_late_rows,
        "rows_ahead": idx.stats.n_ahead_rows,
        "build_sec": round(timings["index_build"], 3),
        "slots": idx.stats.slot_counts,
    }

    horizon = EVENTS_ADV_MS - EVENTS_WM_MS

    # ------------------------------------------------- wheel path (E2, B2+B3)
    minute_ranges = gen_minute_ranges(EVENTS_WM_MS, horizon, n_queries)

    @step("wheel_minute_ranges")
    def _():
        r = run_latency_bench(
            "wheel_minute_ranges", di.query_sum, minute_ranges, warmup=200
        )
        timings["wheel_minute_ranges"] = r.wall_sec
        extras["wheel_minute_ranges"] = {"qps": r.qps, **r.latency}

    @step("wheel_hour_ranges")
    def _():
        hour_ranges = gen_hour_ranges(EVENTS_WM_MS, horizon, n_queries)
        r = run_latency_bench(
            "wheel_hour_ranges", di.query_sum, hour_ranges, warmup=200
        )
        timings["wheel_hour_ranges"] = r.wall_sec
        extras["wheel_hour_ranges"] = {"qps": r.qps, **r.latency}

    # the reference's buggy hour generator (minute offsets — B3,
    # /root/reference/src/main.rs:194-195), kept as a labelled replica
    # workload for apples-to-apples comparison
    @step("wheel_hour_ranges_refbug")
    def _():
        refbug_ranges = gen_hour_ranges(
            EVENTS_WM_MS, horizon, n_queries, replicate_ref_bug=True
        )
        r = run_latency_bench(
            "wheel_hour_ranges_refbug", di.query_sum, refbug_ranges, warmup=200
        )
        timings["wheel_hour_ranges_refbug"] = r.wall_sec
        extras["wheel_hour_ranges_refbug"] = {"qps": r.qps, **r.latency}

    # -------------------- distributed serving path (SURVEY §4.3, sampled)
    # serving-tier session config, applied around both probe workloads:
    # AQE re-optimization costs ~80 ms/probe and buys nothing on cached
    # rollups; per-query literal changes defeat the codegen cache, so a
    # fresh Janino compile (~30-60 ms) lands on every probe unless
    # expression codegen is off. A dedicated serving tier runs with
    # both off; batch/build sessions keep them on for the big shuffles.
    from contextlib import contextmanager

    @contextmanager
    def serving_confs():
        prev = {
            "spark.sql.adaptive.enabled": spark.conf.get(
                "spark.sql.adaptive.enabled"
            ),
            "spark.sql.codegen.factoryMode": spark.conf.get(
                "spark.sql.codegen.factoryMode", "CODEGEN_ONLY"
            ),
            # serving-tier shuffle width: rollup-side shuffles move a
            # few hundred rows (merged bins, slot partials) — one task,
            # not 32 near-empty launches; batch/build sessions keep the
            # wide default for fact-table shuffles
            "spark.sql.shuffle.partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
        }
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        try:
            yield
        finally:
            for k, v in prev.items():
                spark.conf.set(k, v)

    @step("wheel_distributed_ranges")
    def _():
        # plan-reuse probe: one parameterized SQL over a registered
        # rollup view per query (idx.probe), not a fresh DataFrame
        def dist_sum(s_ms: int, e_ms: int):
            return idx.probe(s_ms, e_ms)["sum_value"]

        with serving_confs():
            # warmup registers the serving view + compiles the probe
            r = run_latency_bench(
                "wheel_distributed_ranges",
                dist_sum,
                minute_ranges[:sql_sample],
                warmup=3,
            )
        timings["wheel_distributed_ranges"] = r.wall_sec
        extras["wheel_distributed_ranges"] = {"qps": r.qps, **r.latency}

    # ---------------- micro-batched serving (throughput shape, ONE job)
    @step("wheel_batch_serving")
    def _():
        # batched jobs keep codegen ON: one compile amortizes over the
        # whole batch (NO_CODEGEN only helps per-query probes, where a
        # fresh literal forces a fresh compile every time)
        batch = minute_ranges[: min(256, len(minute_ranges))]
        idx.range_agg_batch_df(batch[:8]).collect()  # warm
        t0 = time.perf_counter()
        rows = idx.range_agg_batch_df(batch).collect()
        wall = time.perf_counter() - t0
        assert len(rows) == len(batch)
        timings["wheel_batch_serving"] = wall
        extras["wheel_batch_serving"] = {
            "n_queries": len(batch),
            "qps": round(len(batch) / wall, 1),
            "amortized_ms_per_query": round(wall / len(batch) * 1000, 3),
        }

    # --------------------------- SQL-router rewrite path (§7.6 rewrite + E2)
    @step("router_rewrite_ranges")
    def _():
        from uwheel_datafusion_spark.plans.sql_router import WheelSqlRouter

        router = WheelSqlRouter(spark)
        router.register_index("events", "ts", "value", idx)

        def routed_sum(s_ms: int, e_ms: int):
            return router.sql_scalar(
                f"SELECT SUM(value) FROM events "
                f"WHERE ts >= '{ms_to_ts_literal(s_ms)}' "
                f"AND ts < '{ms_to_ts_literal(e_ms)}'"
            )

        r = run_latency_bench(
            "router_rewrite_ranges", routed_sum, minute_ranges, warmup=50
        )
        timings["router_rewrite_ranges"] = r.wall_sec
        extras["router_rewrite_ranges"] = {"qps": r.qps, **r.latency}

        # per-family _decide dispatch cost (pure driver, µs): separates
        # pattern-cascade growth from serve-path cost when the e2e p50
        # moves between rounds. Each family exemplar is matched 2000×.
        fam = {
            "scalar_sum": (
                "SELECT SUM(value) FROM events WHERE ts >= "
                "'2024-01-01 00:10:00' AND ts < '2024-01-01 03:40:00'"
            ),
            "median": (
                "SELECT APPROX_MEDIAN(value) FROM events WHERE ts >= "
                "'2024-01-01 00:10:00' AND ts < '2024-01-01 03:40:00'"
            ),
            "m4": (
                "SELECT M4(ts, value, 16) FROM events WHERE ts >= "
                "'2024-01-01 00:10:00' AND ts < '2024-01-01 03:40:00'"
            ),
            "keyed_grouped": (
                "SELECT user_id, SUM(value) FROM events WHERE ts >= "
                "'2024-01-01 00:10:00' AND ts < '2024-01-01 03:40:00' "
                "GROUP BY user_id"
            ),
            "no_match_fallback": (
                "SELECT value, LAG(value) OVER (ORDER BY ts) FROM events"
            ),
        }
        decide_us = {}
        for name, q in fam.items():
            t0 = time.perf_counter()
            for _ in range(2000):
                router._decide(q)
            decide_us[name] = round(
                (time.perf_counter() - t0) / 2000 * 1e6, 2
            )
        extras["router_decide_micro_us"] = decide_us

    # ------------------------------------------- SQL full-scan path (E3, sampled)
    # TIMESTAMP literals against the TIMESTAMP_NTZ ts column push down to
    # parquet row-group stats (asserted by tests/test_plans.py), so this
    # single workload is the pushdown-fair DataFusion analogue.
    @step("sql_scan_ranges")
    def _():
        register_tables(spark, sf_dir, ("events",))
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).count()  # warm FS

        def sql_sum(s_ms: int, e_ms: int):
            return spark.sql(
                f"SELECT SUM(value) FROM events "
                f"WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}' "
                f"AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'"
            ).collect()[0][0]

        r = run_latency_bench("sql_scan_ranges", sql_sum, minute_ranges[:sql_sample])
        timings["sql_scan_ranges"] = r.wall_sec
        extras["sql_scan_ranges"] = {"qps": r.qps, **r.latency}

        # B7 parity: the reference's debug feature prints both engines'
        # answers per range (/root/reference/src/main.rs:214-224,275-277);
        # here the dual-execution check is recorded, not eyeballed.
        # The wheel sums exact scaled longs while SQL SUM is a float
        # fold, so compare at 1e-9 relative (f64 noise, not semantics —
        # the gate's oracles quantize BOTH sides for exactness).
        mismatches = []
        for s_ms, e_ms in minute_ranges[:sql_sample]:
            a = di.query_sum(s_ms, e_ms)
            b = sql_sum(s_ms, e_ms)
            if (a is None) != (b is None) or (
                a is not None and abs(a - b) > 1e-9 * max(1.0, abs(a))
            ):
                mismatches.append({"s": s_ms, "e": e_ms, "wheel": a, "sql": b})
        extras["dual_check"] = {
            "n": len(minute_ranges[:sql_sample]),
            "mismatches": mismatches,
        }

    # -------- decomposed probe on a MULTI-YEAR horizon (orders index)
    # The cost-based probe switches to the static multi-granularity
    # UNION statement above the single-level slot threshold; the events
    # horizon (31 days) never crosses it, so this workload builds the
    # 7-year orders index (minute..week) and probes year-class ranges —
    # hundreds of coarse slots per query instead of ~10^6 minute slots.
    @step("wheel_orders_probe_wide")
    def _():
        import random

        from uwheel_datafusion_spark.gate import (
            ORDERS_ADV_MS,
            ORDERS_WM_MS,
        )
        from uwheel_datafusion_spark.functions.time import DAY_MS

        orders = load_table(spark, sf_dir, "orders")
        idx_o = WheelIndex.build(
            orders,
            "o_orderdate",
            "o_totalprice",
            ORDERS_WM_MS,
            ORDERS_ADV_MS,
            granularities=("minute", "hour", "day", "week"),
            stats_mode="pruned",
        )
        rng = random.Random(17)
        n_days = (ORDERS_ADV_MS - ORDERS_WM_MS) // DAY_MS
        wide = []
        for _ in range(sql_sample):
            span = rng.randrange(180, n_days)  # 6 months .. ~7 years
            a = rng.randrange(0, n_days - span)
            wide.append(
                (
                    ORDERS_WM_MS + a * DAY_MS,
                    ORDERS_WM_MS + (a + span) * DAY_MS,
                )
            )
        with serving_confs():
            r = run_latency_bench(
                "wheel_orders_probe_wide",
                lambda s, e: idx_o.probe(s, e)["sum_value"],
                wide,
                warmup=3,
            )
        timings["wheel_orders_probe_wide"] = r.wall_sec
        n_multi = sum(
            1
            for s, e in wide
            if (e - s) // 60_000 > idx_o.SINGLE_LEVEL_SLOT_THRESHOLD
        )
        extras["wheel_orders_probe_wide"] = {
            "qps": r.qps,
            **r.latency,
            "n_multi_granularity": n_multi,
            "n_queries": len(wide),
        }

    # ---------------- scan-vs-probe crossover (PLANS.md claim, measured)
    # The reference demonstrates its crossover empirically by running
    # both engines on the same data (/root/reference/src/main.rs:205-288).
    # At sf0.1 the full scan and the probe are within noise of each
    # other (both dominated by flat per-job cost on ~100k rows); this
    # workload scales the fact table ~20x on a bench-only synthetic
    # table (NOT /root/testdata — derived data lives in bench_data/)
    # and runs both paths on identical ranges: scan cost grows with the
    # rows in range, the rollup probe stays flat.
    @step("crossover")
    def _():
        factor = int(os.environ.get("BENCH_CROSSOVER_FACTOR", "20"))
        n_rows = max(int(extras["index"]["rows_indexed"]), 1) * factor
        big_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_data",
            f"events_x{factor}_{n_rows}_v2",  # v2: + user_id for the HH twin
        )
        if not os.path.exists(os.path.join(big_path, "_SUCCESS")):
            (
                spark.range(n_rows)
                .select(
                    F.timestamp_millis(
                        F.lit(EVENTS_WM_MS)
                        + (F.rand(42) * F.lit(float(horizon))).cast("long")
                    )
                    .cast("timestamp_ntz")
                    .alias("ts"),
                    (F.rand(7) * 100.0).alias("value"),
                    # uniform over 1000 users; the MG key below folds
                    # half of them into key 0 — one true heavy hitter
                    # per range, same skew shape as the sf0.1 workload
                    (F.rand(13) * 1000).cast("long").alias("user_id"),
                )
                # time-ordered files so parquet row-group pruning works
                # for the scan side — the FAIR comparison
                .repartitionByRange(32, "ts")
                .sortWithinPartitions("ts")
                .write.mode("overwrite")
                .parquet(big_path)
            )
        big = spark.read.parquet(big_path)
        big.createOrReplaceTempView("events_big")
        t0 = time.perf_counter()
        idx_big = WheelIndex.build(
            big, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS, stats_mode="pruned"
        )
        idx_big.rollups["minute"].count()  # materialize cache
        build_sec = time.perf_counter() - t0
        sample = minute_ranges[:sql_sample]

        def scan_sum(s_ms: int, e_ms: int):
            return spark.sql(
                f"SELECT SUM(value) FROM events_big "
                f"WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}' "
                f"AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'"
            ).collect()[0][0]

        r_scan = run_latency_bench("crossover_scan", scan_sum, sample)
        with serving_confs():
            r_probe = run_latency_bench(
                "crossover_probe",
                lambda s, e: idx_big.probe(s, e)["sum_value"],
                sample,
                warmup=3,
            )
        idx_big.range_agg_batch_df(sample[:4]).collect()  # warm codegen
        t0 = time.perf_counter()
        idx_big.range_agg_batch_df(sample).collect()
        batch_wall = time.perf_counter() - t0

        # sketch families at 20×: same flat-probe/growing-scan claim.
        # The rollup-served quantile/OHLC touch only covered slots;
        # the scan twins re-aggregate the 20× fact rows per query.
        from uwheel_datafusion_spark.operators.ohlc import (
            build_ohlc_rollup,
            range_ohlc_df,
        )
        from uwheel_datafusion_spark.operators.quantile_rollup import (
            build_histogram_rollup,
            range_quantile_df,
        )

        hist_big = build_histogram_rollup(
            big, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS
        )
        hist_big.count()
        ohlc_big = build_ohlc_rollup(
            big, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS
        )
        ohlc_big.count()

        def q_served_big(s_ms, e_ms):
            return range_quantile_df(hist_big, s_ms, e_ms, 0.5).collect()[0][0]

        def q_scan_big(s_ms, e_ms):
            return spark.sql(
                f"""
                WITH b AS (
                    SELECT CAST(floor(value / 1.0) AS LONG) AS bin,
                           COUNT(*) AS cnt
                    FROM events_big
                    WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                      AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                    GROUP BY 1
                ),
                c AS (
                    SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum,
                           SUM(cnt) OVER () AS total
                    FROM b
                )
                SELECT (MIN(CASE WHEN cum >= 0.5 * total THEN bin END)
                        + 0.5) * 1.0 AS q
                FROM c
                """
            ).collect()[0][0]

        def ohlc_served_big(s_ms, e_ms):
            return range_ohlc_df(ohlc_big, s_ms, e_ms).collect()[0]

        def ohlc_scan_big(s_ms, e_ms):
            return spark.sql(
                f"""
                SELECT min_by(value, struct(ts, value)) AS open,
                       max(value) AS high, min(value) AS low,
                       max_by(value, struct(ts, value)) AS close,
                       count(*) AS cnt
                FROM events_big
                WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                  AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                """
            ).collect()[0]

        # heavy hitters at 20×: the served path pays ONE range-pruned
        # verify scan over candidate keys; the scan twin re-groups every
        # row in range. Hour-aligned ranges (the MG rollup's hour slots).
        from uwheel_datafusion_spark.operators.mgsketch import (
            build_mg_rollup,
            range_heavy_hitters_verified,
        )

        mg_key_big = F.expr(
            "CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END"
        )
        mg_big = build_mg_rollup(
            big, "ts", mg_key_big, EVENTS_WM_MS, EVENTS_ADV_MS, m=9,
            slot_ms=3_600_000,
        )
        mg_big.count()
        hh_sample = gen_hour_ranges(
            EVENTS_WM_MS, horizon, len(sample), seed=99
        )

        def hh_served_big(s_ms, e_ms):
            return sorted(
                map(tuple, range_heavy_hitters_verified(
                    big, "ts", mg_key_big, mg_big, s_ms, e_ms,
                    m=9, count_frac_den=5,
                ).collect())
            )

        def hh_scan_big(s_ms, e_ms):
            return sorted(
                map(tuple, spark.sql(
                    f"""
                    WITH d AS (
                        SELECT CASE WHEN user_id % 10 < 5 THEN 0
                                    ELSE user_id END AS key
                        FROM events_big
                        WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                          AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                    ),
                    n AS (SELECT COUNT(*) AS n FROM d)
                    SELECT key, COUNT(*) AS cnt
                    FROM d, n GROUP BY key, n.n
                    HAVING COUNT(*) * 5 >= n.n
                    """
                ).collect())
            )

        sketch_x = {}
        for fam, served, scan, fam_sample in (
            ("quantile", q_served_big, q_scan_big, sample),
            ("ohlc", ohlc_served_big, ohlc_scan_big, sample),
            ("heavy_hitters", hh_served_big, hh_scan_big, hh_sample),
        ):
            with serving_confs():
                rs = run_latency_bench(
                    f"x_{fam}_served", served, fam_sample, warmup=2
                )
            rc = run_latency_bench(f"x_{fam}_scan", scan, fam_sample)
            sketch_x[fam] = {
                "served_p50_us": rs.latency["p50_us"],
                "scan_p50_us": rc.latency["p50_us"],
                "served_beats_scan": rs.qps > rc.qps,
            }

        timings["crossover"] = r_scan.wall_sec + r_probe.wall_sec + batch_wall
        extras["crossover"] = {
            "factor": factor,
            "n_rows": n_rows,
            "index_build_sec": round(build_sec, 3),
            "scan": {"qps": r_scan.qps, **r_scan.latency},
            "probe": {"qps": r_probe.qps, **r_probe.latency},
            "batch_amortized_ms_per_query": round(
                batch_wall / len(sample) * 1000, 3
            ),
            "probe_beats_scan": r_probe.qps > r_scan.qps,
            "sketch_families": sketch_x,
        }

    # ---------------- sketch-family serving vs fact scan (r04 additions)
    # The quantile/OHLC/M4/heavy-hitter families follow the same wheel
    # thesis (build once, serve ranges from slot partials); this step
    # measures each family's rollup-served range query against the
    # equivalent direct fact scan on the SAME seeded hour-class ranges,
    # and dual-checks the answers (exact equality — the partials'
    # tie-breaks are deterministic by construction).
    @step("sketch_serving")
    def _():
        from uwheel_datafusion_spark.operators.mgsketch import (
            build_mg_rollup,
            range_heavy_hitters_verified,
        )
        from uwheel_datafusion_spark.operators.ohlc import (
            build_ohlc_rollup,
            m4_downsample_df,
            range_ohlc_df,
        )
        from uwheel_datafusion_spark.operators.quantile_rollup import (
            build_histogram_rollup,
            range_quantile_df,
        )

        register_tables(spark, sf_dir, ("events",))
        n_sample = min(sql_sample, 20)
        sample = gen_hour_ranges(EVENTS_WM_MS, horizon, n_sample, seed=99)
        detail: dict = {}

        # ---- builds (one scan + one shuffle each; timed like index_build)
        t0 = time.perf_counter()
        hist = build_histogram_rollup(
            ev, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS
        )
        hist.count()
        detail["hist_build_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        ohlc = build_ohlc_rollup(ev, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS)
        ohlc.count()
        detail["ohlc_build_sec"] = round(time.perf_counter() - t0, 3)
        mg_key = F.expr("CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END")
        t0 = time.perf_counter()
        mg = build_mg_rollup(
            ev, "ts", mg_key, EVENTS_WM_MS, EVENTS_ADV_MS, m=9,
            slot_ms=3_600_000,
        )
        mg.count()
        detail["mg_build_sec"] = round(time.perf_counter() - t0, 3)

        bw = 1.0  # histogram bin width (DEFAULT_BIN_WIDTH)

        def q_served(s_ms, e_ms):
            return range_quantile_df(hist, s_ms, e_ms, 0.5).collect()[0][0]

        def q_scan(s_ms, e_ms):
            # the SAME histogram-median semantics, from the fact table
            return spark.sql(
                f"""
                WITH b AS (
                    SELECT CAST(floor(value / {bw}) AS LONG) AS bin,
                           COUNT(*) AS cnt
                    FROM events
                    WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                      AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                    GROUP BY 1
                ),
                c AS (
                    SELECT bin,
                           SUM(cnt) OVER (ORDER BY bin) AS cum,
                           SUM(cnt) OVER () AS total
                    FROM b
                )
                SELECT (MIN(CASE WHEN cum >= 0.5 * total THEN bin END)
                        + 0.5) * {bw} AS approx_quantile
                FROM c
                """
            ).collect()[0][0]

        def ohlc_served(s_ms, e_ms):
            return tuple(range_ohlc_df(ohlc, s_ms, e_ms).collect()[0])

        def ohlc_scan(s_ms, e_ms):
            return tuple(
                spark.sql(
                    f"""
                    SELECT min_by(value, struct(ts, value)) AS open,
                           max(value) AS high,
                           min(value) AS low,
                           max_by(value, struct(ts, value)) AS close,
                           count(*) AS cnt
                    FROM events
                    WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                      AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                    """
                ).collect()[0]
            )

        def m4_served(s_ms, e_ms):
            return sorted(
                map(tuple, m4_downsample_df(ohlc, s_ms, e_ms, 200).collect())
            )

        def m4_scan(s_ms, e_ms):
            # raw-M4 twin: per-pixel first/last/min/max straight off the
            # fact rows, same slot-quantized pixel width as the served
            # path (so the dual check is exact, not approximate)
            span = e_ms - s_ms
            px = max(1, -(-span // 200))
            px = -(-px // 60_000) * 60_000  # round up to minute slots
            return sorted(
                map(tuple, spark.sql(
                    f"""
                    SELECT {s_ms} + CAST(floor(
                               (CAST(floor(unix_micros(
                                    CAST(ts AS TIMESTAMP)) / 1000) AS LONG)
                                - {s_ms}) / {px}) AS LONG) * {px} AS px_ms,
                           min_by(value, struct(ts, value)) AS open,
                           max(value) AS high, min(value) AS low,
                           max_by(value, struct(ts, value)) AS close,
                           count(*) AS cnt
                    FROM events
                    WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                      AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                    GROUP BY 1
                    """
                ).collect())
            )

        def hh_served(s_ms, e_ms):
            return sorted(
                map(tuple, range_heavy_hitters_verified(
                    ev, "ts", mg_key, mg, s_ms, e_ms, m=9, count_frac_den=5
                ).collect())
            )

        def hh_scan(s_ms, e_ms):
            return sorted(
                map(tuple, spark.sql(
                    f"""
                    WITH d AS (
                        SELECT CASE WHEN user_id % 10 < 5 THEN 0
                                    ELSE user_id END AS key
                        FROM events
                        WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                          AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                    ),
                    n AS (SELECT COUNT(*) AS n FROM d)
                    SELECT key, COUNT(*) AS cnt
                    FROM d, n GROUP BY key, n.n
                    HAVING COUNT(*) * 5 >= n.n
                    """
                ).collect())
            )

        for fam, served, scan in (
            ("quantile", q_served, q_scan),
            ("ohlc", ohlc_served, ohlc_scan),
            ("m4", m4_served, m4_scan),
            ("heavy_hitters", hh_served, hh_scan),
        ):
            # serving-tier confs for the rollup path only; the scan twin
            # keeps default confs (codegen ON favors the scan — fair)
            with serving_confs():
                r_served = run_latency_bench(
                    f"{fam}_served", served, sample, warmup=2
                )
            fam_d = {"served": {"qps": r_served.qps, **r_served.latency}}
            if scan is not None:
                r_scan = run_latency_bench(f"{fam}_scan", scan, sample)
                fam_d["scan"] = {"qps": r_scan.qps, **r_scan.latency}
                fam_d["served_vs_scan"] = round(r_scan.latency["p50_us"]
                                                / r_served.latency["p50_us"], 2)
                # dual check: same seeded ranges, exact equality
                mism = 0
                for s_ms, e_ms in sample:
                    a, b = served(s_ms, e_ms), scan(s_ms, e_ms)
                    if fam == "ohlc":
                        # served returns (open, high, low, close, cnt)
                        a = tuple(a)
                    if a != b:
                        mism += 1
                fam_d["dual_check"] = {"n": len(sample), "mismatches": mism}
            detail[fam] = fam_d
            timings[f"sketch_{fam}_served"] = r_served.wall_sec

        # ---- batched serving: the whole sample in ONE job per family
        # (the throughput shape — amortizes the per-job scheduler floor
        # exactly like the wheel's range_agg_batch_df)
        from uwheel_datafusion_spark.operators.sketch_batch import (
            range_heavy_hitters_batch_verified,
            range_ohlc_batch_df,
            range_quantile_batch_df,
        )

        with serving_confs():
            # untimed warmup on a 2-range sub-sample: the per-query
            # paths above measure with warmup=2; without this the
            # batched number absorbs one-off codegen compilation and
            # whatever GC the preceding 20× crossover queued (measured
            # 809 vs 70 ms/q warm — an environment artifact, not plan
            # cost)
            range_quantile_batch_df(hist, sample[:2], 0.5).collect()
            range_ohlc_batch_df(ohlc, sample[:2]).collect()
            t0 = time.perf_counter()
            qb = range_quantile_batch_df(hist, sample, 0.5).collect()
            q_batch_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            ob = range_ohlc_batch_df(ohlc, sample).collect()
            o_batch_sec = time.perf_counter() - t0
        # HH batch: ONE candidates job + ONE union verify scan for the
        # whole sample (vs one fact scan PER query on the served path)
        range_heavy_hitters_batch_verified(
            ev, "ts", mg_key, mg, sample[:2], m=9, count_frac_den=5,
            slot_ms=3_600_000,
        ).collect()
        t0 = time.perf_counter()
        hb = range_heavy_hitters_batch_verified(
            ev, "ts", mg_key, mg, sample, m=9, count_frac_den=5,
            slot_ms=3_600_000,
        ).collect()
        h_batch_sec = time.perf_counter() - t0
        q_mism = sum(
            1
            for r, (s_ms, e_ms) in zip(qb, sample)
            if r["approx_quantile"] != q_served(s_ms, e_ms)
        )
        o_mism = sum(
            1
            for r, (s_ms, e_ms) in zip(ob, sample)
            if tuple(r)[1:] != ohlc_served(s_ms, e_ms)
        )
        hh_by_qid: dict = {}
        for r in hb:
            hh_by_qid.setdefault(r["query_id"], []).append((r["key"], r["cnt"]))
        h_mism = sum(
            1
            for qid, (s_ms, e_ms) in enumerate(sample)
            if sorted(hh_by_qid.get(qid, [])) != hh_served(s_ms, e_ms)
        )
        # M4 batch: every panel's pixels in one job
        from uwheel_datafusion_spark.operators.sketch_batch import (
            range_m4_batch_df,
        )

        with serving_confs():
            range_m4_batch_df(ohlc, sample[:2], 200).collect()
            t0 = time.perf_counter()
            mb = range_m4_batch_df(ohlc, sample, 200).collect()
            m_batch_sec = time.perf_counter() - t0
        m4_by_qid: dict = {}
        for r in mb:
            m4_by_qid.setdefault(r["query_id"], []).append(tuple(r)[1:])
        m_mism = sum(
            1
            for qid, (s_ms, e_ms) in enumerate(sample)
            if sorted(m4_by_qid.get(qid, [])) != m4_served(s_ms, e_ms)
        )
        detail["batched"] = {
            "n_queries": len(sample),
            "quantile_ms_per_query": round(q_batch_sec / len(sample) * 1e3, 2),
            "ohlc_ms_per_query": round(o_batch_sec / len(sample) * 1e3, 2),
            "heavy_hitters_ms_per_query": round(
                h_batch_sec / len(sample) * 1e3, 2
            ),
            "m4_ms_per_query": round(m_batch_sec / len(sample) * 1e3, 2),
            "dual_check": {
                "quantile_mismatches": q_mism,
                "ohlc_mismatches": o_mism,
                "heavy_hitters_mismatches": h_mism,
                "m4_mismatches": m_mism,
            },
        }
        extras["sketch_serving"] = detail

    # ---------------- sql_many: the batched-QPS story as a SQL surface
    @step("sql_many_panels")
    def _():
        """A dashboard's worth of statements through
        WheelEngine.sql_many (one batch job per (table, family) group)
        vs the same statements served one-at-a-time — the batch tier's
        amortization measured from the SQL surface (VERDICT r06 #7).
        Dual check: every panel's rows must match the one-statement
        serving path exactly."""
        from uwheel_datafusion_spark.engine import WheelEngine
        from uwheel_datafusion_spark.functions.time import ms_to_ts_literal

        eng = WheelEngine(spark).register_table(
            "events_panels_bench", ev, ts_col="ts", value_col="value",
            watermark_ms=EVENTS_WM_MS, advance_to_ms=EVENTS_ADV_MS,
            quantiles=True, ohlc=True, twa=True, counter=True,
        )

        def w(s_ms, e_ms):
            return (
                f"FROM events_panels_bench "
                f"WHERE ts >= '{ms_to_ts_literal(s_ms)}' "
                f"AND ts < '{ms_to_ts_literal(e_ms)}'"
            )

        # 24 ranges × 4 families = 96 statements: the batch tier's
        # fixed per-group cost (~2-3 s/job) needs a real dashboard's
        # worth of panels to amortize — at 6/family it LOSES (measured
        # 0.33×), which is itself recorded design guidance: route
        # small panel sets through sql(), big ones through sql_many
        panels = []
        for s_ms, e_ms in gen_hour_ranges(EVENTS_WM_MS, horizon, 24, seed=123):
            panels.append(
                "SELECT min_by(value, ts) AS open, max(value) AS high, "
                "min(value) AS low, "
                f"max_by(value, struct(ts, value)) AS close {w(s_ms, e_ms)}"
            )
            panels.append(f"SELECT TWA(value, ts) AS twa {w(s_ms, e_ms)}")
            panels.append(
                "SELECT COUNTER_INCREASE(value, ts) AS increase, "
                f"COUNTER_RATE(value, ts) AS rate_per_sec {w(s_ms, e_ms)}"
            )
            panels.append(f"SELECT APPROX_MEDIAN(value) AS med {w(s_ms, e_ms)}")
        with serving_confs():
            eng.sql_many_rows(panels[:4])  # warm both paths
            t0 = time.perf_counter()
            one_rows = [
                sorted(map(tuple, eng.sql(q).collect())) for q in panels
            ]
            one_sec = time.perf_counter() - t0
            t0 = time.perf_counter()
            many_rows = [
                sorted(map(tuple, rows))
                for rows in eng.sql_many_rows(panels)
            ]
            many_sec = time.perf_counter() - t0
        mism = sum(1 for a, b in zip(one_rows, many_rows) if a != b)
        extras["sql_many_panels"] = {
            "n_statements": len(panels),
            "one_at_a_time_ms_per_stmt": round(
                one_sec / len(panels) * 1e3, 2
            ),
            "sql_many_ms_per_stmt": round(many_sec / len(panels) * 1e3, 2),
            "amortization_x": round(one_sec / many_sec, 2),
            "dual_check_mismatches": mism,
        }

    # ---------------- ANN quality: IVF recall vs exact brute force
    @step("ann_recall")
    def _():
        """Recall@10 of the IVF probe against the exact neighbors —
        the approximate tier's quality number next to its speed (a
        fast ANN with unmeasured recall is not a result)."""
        from collections import defaultdict

        from uwheel_datafusion_spark.operators.similarity import (
            ann_ivf_multiprobe_topk,
            knn_brute_force,
            knn_brute_force_int8,
            knn_pq_adc,
        )
        from uwheel_datafusion_spark.sources.registry import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        qids = tuple(
            r[0]
            for r in emb.select("vec_id").orderBy("vec_id").limit(50).collect()
        )
        t0 = time.perf_counter()
        bf = knn_brute_force(emb, qids, k=10).collect()
        bf_sec = time.perf_counter() - t0
        truth: dict = defaultdict(set)
        for r in bf:
            truth[r["query_id"]].add(r["neighbor_id"])
        total = sum(len(truth[q]) for q in truth)
        curve = {}
        for nprobe in (1, 2, 3):
            t0 = time.perf_counter()
            mv = ann_ivf_multiprobe_topk(
                emb, qids, k=10, nprobe=nprobe, n_cells=4
            ).collect()
            dt = time.perf_counter() - t0
            approx: dict = defaultdict(set)
            for r in mv:
                approx[r["query_id"]].add(r["neighbor_id"])
            hits = sum(len(approx[q] & truth[q]) for q in truth)
            curve[f"nprobe_{nprobe}"] = {
                "recall_at_10": round(hits / total, 4) if total else None,
                "sec": round(dt, 3),
            }
        # int8-compressed exact ranking vs the float ranking: the
        # quantize_int8 memory story's quality cost, measured
        t0 = time.perf_counter()
        b8 = knn_brute_force_int8(emb, qids, k=10).collect()
        i8_sec = time.perf_counter() - t0
        a8: dict = defaultdict(set)
        for r in b8:
            a8[r["query_id"]].add(r["neighbor_id"])
        hits8 = sum(len(a8[q] & truth[q]) for q in truth)
        extras["ann_recall"] = {
            "n_queries": len(qids),
            "k": 10,
            "n_cells": 4,
            "brute_force_sec": round(bf_sec, 3),
            "ivf_multiprobe": curve,
            "int8_vs_float": {
                "recall_at_10": round(hits8 / total, 4) if total else None,
                "sec": round(i8_sec, 3),
            },
        }
        # binary quantization (1 bit/dim, 32× smaller than float):
        # sign-bit Hamming candidates run entirely in whole-stage
        # codegen (zip_with + bit_count + aggregate), exact-cosine
        # rerank of the top-50 restores metric fidelity — recall is
        # governed by n_candidates, cost by the popcount scan
        from uwheel_datafusion_spark.operators.similarity import (
            knn_binary_hamming,
        )

        t0 = time.perf_counter()
        bh = knn_binary_hamming(emb, qids, k=10, n_candidates=50).collect()
        bh_sec = time.perf_counter() - t0
        abh: dict = defaultdict(set)
        for r in bh:
            abh[r["query_id"]].add(r["neighbor_id"])
        hits_bh = sum(len(abh[q] & truth[q]) for q in truth)
        extras["ann_recall"]["binary_hamming_vs_float"] = {
            "recall_at_10": round(hits_bh / total, 4) if total else None,
            "sec": round(bh_sec, 3),
            "n_candidates": 50,
        }
        # PQ + ADC: the 64×-compression tier's quality cost, measured.
        # NOTE on magnitude: the fixture embeddings are near-random, so
        # neighbor distances CONCENTRATE (d_10 ≈ d_median in 64-dim) and
        # any coarse quantizer's recall is structurally low — the number
        # exists to record the trade per corpus, vs ~0.001 by chance.
        from uwheel_datafusion_spark.operators.similarity import PQ_M

        t0 = time.perf_counter()
        pq = knn_pq_adc(emb, qids, topk=10).collect()
        pq_sec = time.perf_counter() - t0
        apq: dict = defaultdict(set)
        for r in pq:
            apq[r["query_id"]].add(r["neighbor_id"])
        hits_pq = sum(len(apq[q] & truth[q]) for q in truth)
        extras["ann_recall"]["pq_adc_vs_float"] = {
            "recall_at_10": round(hits_pq / total, 4) if total else None,
            "sec": round(pq_sec, 3),
            "m": PQ_M,
            "k_per_subspace": 16,
        }
        # byte-code PQ (FAISS default k=256, via the Arrow kernel —
        # 16× past the literal-expression cap): the quantization-error
        # regime where PQ recall becomes useful, measured per round
        from uwheel_datafusion_spark.operators.similarity import (
            knn_pq_adc_wide,
            pq_build_wide,
        )

        t0 = time.perf_counter()
        pq256 = pq_build_wide(emb, m=8, k=256)
        pq256_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        p2 = knn_pq_adc_wide(pq256, emb, qids, topk=10).collect()
        pq256_search = time.perf_counter() - t0
        a256: dict = defaultdict(set)
        for r in p2:
            a256[r["query_id"]].add(r["neighbor_id"])
        hits256 = sum(len(a256[q] & truth[q]) for q in truth)
        extras["ann_recall"]["pq256_vs_float"] = {
            "recall_at_10": round(hits256 / total, 4) if total else None,
            "build_sec": round(pq256_build, 3),
            "search_sec": round(pq256_search, 3),
            "m": 8,
            "k_per_subspace": 256,
        }

        # two-stage refine (FAISS IndexRefineFlat): byte-code IVF-PQ
        # candidates re-ranked by the exact metric — the recall the
        # SERVING path actually ships, vs the raw ADC numbers above
        from uwheel_datafusion_spark.operators.similarity import (
            ivf_build_wide,
            ivfpq_search_rerank,
        )

        ivfw = ivf_build_wide(emb, n_cells=4)
        t0 = time.perf_counter()
        rrank = ivfpq_search_rerank(
            ivfw, pq256, emb, qids, topk=10, nprobe=2, n_candidates=50
        ).collect()
        rr_sec = time.perf_counter() - t0
        arr: dict = defaultdict(set)
        for r in rrank:
            arr[r["query_id"]].add(r["neighbor_id"])
        hits_rr = sum(len(arr[q] & truth[q]) for q in truth)
        extras["ann_recall"]["ivfpq_rerank_vs_float"] = {
            "recall_at_10": round(hits_rr / total, 4) if total else None,
            "sec": round(rr_sec, 3),
            "nprobe": 2,
            "n_cells": 4,
            "n_candidates": 50,
            "m": 8,
            "k_per_subspace": 256,
        }
        # residual IVF-PQ (the FAISS-default formulation, round 9):
        # codes quantize r = x − c(x) instead of raw vectors — at EQUAL
        # m/k and the same probe budget, within-cell residuals
        # concentrate around zero so the codebooks resolve finer
        # structure and ADC recall must not drop vs plain PQ
        from uwheel_datafusion_spark.operators.similarity import (
            ivfpq_search_residual,
            ivfpq_search_wide,
            pq_build_residual,
        )

        t0 = time.perf_counter()
        plain_adc = ivfpq_search_wide(
            ivfw, pq256, emb, qids, topk=10, nprobe=2
        ).collect()
        plain_sec = time.perf_counter() - t0
        a_pl: dict = defaultdict(set)
        for r in plain_adc:
            a_pl[r["query_id"]].add(r["neighbor_id"])
        t0 = time.perf_counter()
        rpq = pq_build_residual(emb, ivfw, m=8, k=256)
        rpq_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        res_adc = ivfpq_search_residual(
            rpq, emb, qids, topk=10, nprobe=2
        ).collect()
        res_sec = time.perf_counter() - t0
        a_re: dict = defaultdict(set)
        for r in res_adc:
            a_re[r["query_id"]].add(r["neighbor_id"])
        extras["ann_recall"]["ivfpq_residual_vs_plain"] = {
            "plain_adc_recall_at_10": round(
                sum(len(a_pl[q] & truth[q]) for q in truth) / total, 4
            )
            if total
            else None,
            "residual_adc_recall_at_10": round(
                sum(len(a_re[q] & truth[q]) for q in truth) / total, 4
            )
            if total
            else None,
            "plain_search_sec": round(plain_sec, 3),
            "residual_build_sec": round(rpq_build, 3),
            "residual_search_sec": round(res_sec, 3),
            "m": 8,
            "k_per_subspace": 256,
            "nprobe": 2,
            "n_cells": 4,
        }
        rpq.codes.unpersist()
        ivfw.cells.unpersist()
        pq256.codes.unpersist()

        # Hadamard-rotated PQ (round 10 — the OPQ-class energy-
        # balancing rotation, integer-exact): neutral by construction
        # on this ISOTROPIC fixture (per-dim variance uniform to 1e-6),
        # so the honest measurement is BOTH regimes — the fixture, and
        # an anisotropic twin (per-subspace float scales 1..8, exact
        # small-int multiplies) where energy imbalance is the failure
        # mode OPQ exists for. Truth is the exact brute force in each
        # corpus's own space.
        from uwheel_datafusion_spark.operators.similarity import (
            knn_pq_adc_rotated,
            pq_build_rotated,
        )
        from pyspark.sql import functions as FF

        rot_block = {}
        aniso = emb.select(
            "vec_id",
            FF.expr(
                "transform(embedding, (x, i) -> "
                "CAST(x * CAST(1 + CAST(i / 8 AS INT) AS FLOAT) AS FLOAT))"
            ).alias("embedding"),
        )
        for regime, corpus in (("isotropic_fixture", emb), ("anisotropic", aniso)):
            bf_r = knn_brute_force(corpus, qids, k=10).collect()
            truth_r: dict = defaultdict(set)
            for r in bf_r:
                truth_r[r["query_id"]].add(r["neighbor_id"])
            total_r = sum(len(v) for v in truth_r.values())
            plain_r = pq_build_wide(corpus, m=8, k=64)
            got_plain = knn_pq_adc_wide(
                plain_r, corpus, qids, topk=10
            ).collect()
            t0 = time.perf_counter()
            rot_idx = pq_build_rotated(corpus, m=8, k=64)
            rot_build = time.perf_counter() - t0
            t0 = time.perf_counter()
            got_rot = knn_pq_adc_rotated(
                rot_idx, corpus, qids, topk=10
            ).collect()
            rot_sec = time.perf_counter() - t0

            def _rr(rows):
                a: dict = defaultdict(set)
                for r in rows:
                    a[r["query_id"]].add(r["neighbor_id"])
                return (
                    round(
                        sum(len(a[q] & truth_r[q]) for q in truth_r)
                        / total_r,
                        4,
                    )
                    if total_r
                    else None
                )

            rot_block[regime] = {
                "plain_pq_recall_at_10": _rr(got_plain),
                "rotated_pq_recall_at_10": _rr(got_rot),
                "rotated_build_sec": round(rot_build, 3),
                "rotated_search_sec": round(rot_sec, 3),
                "m": 8,
                "k_per_subspace": 64,
            }
            plain_r.codes.unpersist()
            rot_idx.codes.unpersist()
        extras["ann_recall"]["pq_rotated_vs_plain"] = rot_block

        # JL random projection: exact search in the 16-dim projected
        # space — the dimension-reduction front end's rank distortion
        from uwheel_datafusion_spark.operators.similarity import knn_rp

        t0 = time.perf_counter()
        rp = knn_rp(emb, qids, k=10).collect()
        rp_sec = time.perf_counter() - t0
        arp: dict = defaultdict(set)
        for r in rp:
            arp[r["query_id"]].add(r["neighbor_id"])
        hits_rp = sum(len(arp[q] & truth[q]) for q in truth)
        extras["ann_recall"]["rp16_vs_float"] = {
            "recall_at_10": round(hits_rp / total, 4) if total else None,
            "sec": round(rp_sec, 3),
            "out_dim": 16,
        }

        # planted near-duplicate probe: the fixture's random embeddings
        # CONCENTRATE distances (d_10 ≈ d_median in 64-dim), so the
        # absolute recalls above are structurally low for any coarse
        # quantizer. Planting queries AT small deterministic
        # perturbations of corpus vectors measures the same indexes in
        # the separated regime ANN serves in practice (near-dup
        # retrieval: the true neighborhood is genuinely close) —
        # recall here isolates index quality from fixture pathology.
        from uwheel_datafusion_spark.operators.similarity import (
            ivf_search_wide,
            ivfpq_search_wide,
        )

        n_plant = 20
        base_ids = [
            r[0]
            for r in emb.select("vec_id").orderBy("vec_id").limit(n_plant).collect()
        ]
        max_id = emb.agg(F.max("vec_id")).first()[0]
        planted = emb.filter(F.col("vec_id").isin(base_ids)).select(
            (F.col("vec_id") + max_id + 1).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CAST(x + "
                "((hash(vec_id * 131 + i) % 100) / 20000.0) AS FLOAT))"
            ).alias("embedding"),
            "label",
        )
        emb2 = emb.select("vec_id", "embedding", "label").union(planted)
        plant_qids = tuple(int(b) + max_id + 1 for b in base_ids)

        bf2 = knn_brute_force(emb2, plant_qids, k=10).collect()
        truth2: dict = defaultdict(set)
        for r in bf2:
            truth2[r["query_id"]].add(r["neighbor_id"])
        total2 = sum(len(v) for v in truth2.values())

        ivf2 = ivf_build_wide(emb2, n_cells=4)
        got_ivf = ivf_search_wide(
            ivf2, emb2, plant_qids, k=10, nprobe=2
        ).collect()
        a_ivf: dict = defaultdict(set)
        for r in got_ivf:
            a_ivf[r["query_id"]].add(r["neighbor_id"])

        pq2 = pq_build_wide(emb2, m=8, k=256)
        got_adc = ivfpq_search_wide(
            ivf2, pq2, emb2, plant_qids, topk=10, nprobe=2
        ).collect()
        a_adc: dict = defaultdict(set)
        for r in got_adc:
            a_adc[r["query_id"]].add(r["neighbor_id"])

        got_rr = ivfpq_search_rerank(
            ivf2, pq2, emb2, plant_qids, topk=10, nprobe=2,
            n_candidates=50,
        ).collect()
        a_rr: dict = defaultdict(set)
        for r in got_rr:
            a_rr[r["query_id"]].add(r["neighbor_id"])

        # residual PQ in the SEPARATED regime — where finer within-cell
        # resolution should show up most clearly
        rpq2 = pq_build_residual(emb2, ivf2, m=8, k=256)
        got_res2 = ivfpq_search_residual(
            rpq2, emb2, plant_qids, topk=10, nprobe=2
        ).collect()
        a_res2: dict = defaultdict(set)
        for r in got_res2:
            a_res2[r["query_id"]].add(r["neighbor_id"])

        def _rec(a):
            return (
                round(sum(len(a[q] & truth2[q]) for q in truth2) / total2, 4)
                if total2
                else None
            )

        # top-1 source hit rate: the planted query's nearest true
        # neighbor IS its source vector — the dedup-retrieval yes/no
        top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in got_rr
            if r["rnk"] == 1
        }
        src_hits = sum(
            1
            for q, b in zip(plant_qids, base_ids)
            if top1.get(q) == b
        )
        extras["ann_recall"]["planted_neardup"] = {
            "n_planted": n_plant,
            "ivf_nprobe2": _rec(a_ivf),
            "ivfpq_adc_nprobe2": _rec(a_adc),
            "ivfpq_residual_adc_nprobe2": _rec(a_res2),
            "ivfpq_rerank_nprobe2": _rec(a_rr),
            "rerank_top1_source_hit_rate": round(src_hits / n_plant, 4),
        }
        ivf2.cells.unpersist()
        pq2.codes.unpersist()
        rpq2.codes.unpersist()

        # IVF-PQ: the composed production index — coarse-cell probe ×
        # compressed-domain ADC; recall is bounded above by BOTH tiers
        from uwheel_datafusion_spark.operators.similarity import ann_ivfpq_topk

        t0 = time.perf_counter()
        ivfpq = ann_ivfpq_topk(emb, qids, topk=10, nprobe=2, n_cells=4).collect()
        ivfpq_sec = time.perf_counter() - t0
        aip: dict = defaultdict(set)
        for r in ivfpq:
            aip[r["query_id"]].add(r["neighbor_id"])
        hits_ip = sum(len(aip[q] & truth[q]) for q in truth)
        extras["ann_recall"]["ivfpq_vs_float"] = {
            "recall_at_10": round(hits_ip / total, 4) if total else None,
            "sec": round(ivfpq_sec, 3),
            "nprobe": 2,
            "n_cells": 4,
            "m": PQ_M,
        }

    # ------------------------------------------------ headline gate queries
    headline = (
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "tpch_q6_forecast_revenue",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q18_large_volume_customer",
        "tpch_q21_waiting_supplier",
        "region_revenue_join",
        "window_top3_orders_per_customer",
        "events_by_type",
        "topk_orders",
        "text_profile",
        "dedup_minhash_lsh_candidates",
        "pipeline_clean_corpus",
        "pipeline_training_corpus",
        "range_join_purchase_click_5m",
        "similarity_hyperplane_lsh_pairs",
        "kmeans_lloyd_2iter_embeddings",
        "argmax_latest_order_per_customer",
        "distinct_users_by_day",
        "distinct_users_by_day_hll",
        "quantile_median_by_day_hist",
        "ohlc_by_day_events",
        "heavy_hitters_top3_users_per_day",
        "keyed_rollup_served_by_type",
        "wheel_range_batch_serving",
        "router_week_rollup",
        "router_keyed_hour_rollup",
        "router_distinct_day_rollup",
        "dedup_connected_components_star",
        "twa_by_day_events",
        "counter_increase_by_day_events",
        "heavy_hitters_range_topk_users",
        "keyed_rollup_batch_served",
        "sample_bottomk_range_users",
        "heavy_hitters_mg_verified_range",
        "retention_cohort_matrix",
        "funnel_view_click_purchase_30m",
        "overlap_join_userday_error_windows",
        "router_topk_users_day",
        "corpus_decontaminate_eval",
        "corpus_pack_256_summary",
        "corpus_repetition_profile",
        "corpus_mixture_reweight",
        "embedding_gram_upper",
        "dedup_prefix_filter_jaccard",
        "dedup_lsh_incremental",
        "dedup_canonical_keep_list",
        "pipeline_pretraining_pack",
        "router_month_rollup",
        "router_keyed_distinct_day",
        "dedup_span_islands",
        "dedup_span_scrub",
        "dedup_bloom_gate",
        "text_gopher_quality",
        "dedup_span_incremental",
        "pipeline_scrub_quality_dedup",
        "pipeline_incremental_ingest",
        # round-10: hybrid retrieval served from the persisted indexes;
        # the erasure gates time the whole delete -> compact -> probe
        # lifecycle (build + tombstone + physical fold) at sf0.1
        "retrieval_hybrid_served",
        "text_keyword_index_erased",
        "similarity_ann_compacted_erased",
        "text_keyword_bm25_log",
        "text_keyword_index_bm25_log",
        # round-13: residual codes in the served tier (full erasure
        # lifecycle) and the sample-trained coarse quantizer
        "similarity_ann_ivfpq_residual_served",
        "similarity_ann_ivf_sampled_served",
    )
    for name in headline:
        if name not in REGISTRY:
            continue

        @step(name)
        def _(name=name):
            t0 = time.perf_counter()
            # count() executes the full plan without shipping wide results
            # to the driver (an operator benchmark, not a collect benchmark)
            REGISTRY[name].fn(spark, sf_dir).count()
            timings[name] = time.perf_counter() - t0

    spark.stop()


if __name__ == "__main__":
    main()
