"""Scale-proof protocol run: the bench.py serving paths at >= sf1.

Everything in BENCH_r{N}.json is measured at sf0.1 (100 k events) plus
a 20x synthetic crossover table; the 100 TB story otherwise rests on
plan-shape arguments. This script re-runs the protocol's serving paths
against a 10 MILLION-row events table (= sf100 for the events stream,
100x the bench scale; generated once into bench_data/, never touching
/root/testdata) and records a ``BENCH_r{N}_sf1.json`` artifact:

- wheel index build wall time + driver-index size (does the one-scan
  build stay linear?),
- driver probe QPS (must stay flat — the index is O(slots), not
  O(rows)),
- full-scan SQL aggregate p50 (the DataFusion-role baseline — must
  GROW with rows; the served/scan gap at this scale is the product),
- distributed probe + 256-query batched serving (flat: rollup-only),
- router rewrite throughput (flat: driver arithmetic),
- sketch families (quantile / OHLC / verified heavy hitters) served
  vs scan, with exact dual checks on every measured range,
- keyed rollup build + keyed batch serving at 100 k key cardinality
  (the hypertable shape at high fan-out),
- an AQE skew-join probe (key 0 holds ~50% of rows): records whether
  OptimizeSkewedJoin actually split the hot partition at this scale.

Usage::

    python bench_scale.py BENCH_r06_sf1.json [n_rows]
"""

import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_ROWS_DEFAULT = 10_000_000
N_SAMPLE = 20  # Spark-job paths: ranges per workload
HOUR_MS = 3_600_000


def main(out_path: str, n_rows: int = N_ROWS_DEFAULT) -> dict:
    from pyspark.sql import functions as F

    from uwheel_datafusion_spark import WheelIndex, get_spark
    from uwheel_datafusion_spark.bench.harness import (
        gen_hour_ranges,
        gen_minute_ranges,
        run_latency_bench,
    )
    from uwheel_datafusion_spark.functions.time import ms_to_ts_literal
    from uwheel_datafusion_spark.gate import EVENTS_ADV_MS, EVENTS_WM_MS

    spark = get_spark(app_name="uwheel_bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    horizon = EVENTS_ADV_MS - EVENTS_WM_MS
    out: dict = {"n_rows": n_rows, "detail": {}}
    detail = out["detail"]

    @contextmanager
    def serving_confs():
        prev = {
            "spark.sql.adaptive.enabled": spark.conf.get(
                "spark.sql.adaptive.enabled"
            ),
            "spark.sql.codegen.factoryMode": spark.conf.get(
                "spark.sql.codegen.factoryMode", "CODEGEN_ONLY"
            ),
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

    # ---------------------------------------------------------------- data
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "bench_data",
        f"events_scale_{n_rows}",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        t0 = time.perf_counter()
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
                # 100 k-cardinality series key; the CASE below folds
                # half the ids onto key 0 for the skew/HH workloads
                (F.rand(13) * 100_000).cast("long").alias("user_id"),
                F.element_at(
                    F.array(*[F.lit(t) for t in
                              ("view", "click", "purchase", "signup",
                               "error")]),
                    (F.rand(17) * 5).cast("int") + 1,
                ).alias("event_type"),
            )
            .repartitionByRange(64, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(path)
        )
        detail["datagen_sec"] = round(time.perf_counter() - t0, 1)
    big = spark.read.parquet(path)
    big.createOrReplaceTempView("events_scale")

    # --------------------------------------------------------- wheel build
    t0 = time.perf_counter()
    idx = WheelIndex.build(
        big, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS, stats_mode="pruned"
    )
    idx.rollups["minute"].count()
    build_sec = time.perf_counter() - t0
    di = idx.to_driver_index()
    detail["index"] = {
        "build_sec": round(build_sec, 2),
        "driver_size_bytes": di.size_bytes(),
    }

    # ---------------------------------------------- driver probe (flat path)
    minute_ranges = gen_minute_ranges(EVENTS_WM_MS, horizon, 2000)
    r = run_latency_bench("wheel", di.query_sum, minute_ranges, warmup=200)
    detail["wheel_driver"] = {"qps": r.qps, "p50_us": r.latency["p50_us"]}

    # ------------------------------------------------------ scan baseline
    sample = minute_ranges[:N_SAMPLE]

    def scan_sum(s_ms, e_ms):
        return spark.sql(
            f"SELECT SUM(value) FROM events_scale "
            f"WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}' "
            f"AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'"
        ).collect()[0][0]

    r_scan = run_latency_bench("scan", scan_sum, sample)
    detail["scan"] = {"qps": r_scan.qps, "p50_us": r_scan.latency["p50_us"]}

    # --------------------------------------------- distributed probe + batch
    with serving_confs():
        r_probe = run_latency_bench(
            "probe", lambda s, e: idx.probe(s, e)["sum_value"], sample,
            warmup=3,
        )
    detail["probe"] = {
        "qps": r_probe.qps,
        "p50_us": r_probe.latency["p50_us"],
        "beats_scan": r_probe.qps > r_scan.qps,
    }
    batch_ranges = gen_minute_ranges(EVENTS_WM_MS, horizon, 256, seed=77)
    idx.range_agg_batch_df(batch_ranges[:4]).collect()  # warm
    t0 = time.perf_counter()
    batch_rows = idx.range_agg_batch_df(batch_ranges).collect()
    batch_wall = time.perf_counter() - t0
    # dual check the batch against the driver index (exact)
    batch_mism = sum(
        1
        for row, (s, e) in zip(batch_rows, batch_ranges)
        if row["cnt"] != di.query_count(s, e)
    )
    detail["batch"] = {
        "n_queries": len(batch_ranges),
        "ms_per_query": round(batch_wall / len(batch_ranges) * 1e3, 2),
        "mismatches": batch_mism,
    }

    # ----------------------------------------------------------- router
    from uwheel_datafusion_spark.plans.sql_router import WheelSqlRouter

    router = WheelSqlRouter(spark)
    router.register_index("events_scale", "ts", "value", idx)
    rq = [
        (
            f"SELECT SUM(value) FROM events_scale WHERE ts >= "
            f"'{ms_to_ts_literal(s)}' AND ts < '{ms_to_ts_literal(e)}'",
            s, e,
        )
        for s, e in minute_ranges[:500]
    ]

    def route_one(i, _e):
        q, s, e = rq[i % len(rq)]
        return router.sql_scalar(q)

    r_router = run_latency_bench(
        "router", route_one, [(i, 0) for i in range(500)], warmup=50
    )
    detail["router"] = {
        "qps": r_router.qps, "p50_us": r_router.latency["p50_us"],
    }

    # ---------------------------------------------------- sketch families
    from uwheel_datafusion_spark.operators.mgsketch import (
        build_mg_rollup,
        range_heavy_hitters_verified,
    )
    from uwheel_datafusion_spark.operators.ohlc import (
        build_ohlc_rollup,
        range_ohlc_df,
    )
    from uwheel_datafusion_spark.operators.ohlc import m4_downsample_df
    from uwheel_datafusion_spark.operators.quantile_rollup import (
        build_histogram_rollup,
        range_quantile_df,
    )

    hour_sample = gen_hour_ranges(EVENTS_WM_MS, horizon, N_SAMPLE, seed=99)
    t0 = time.perf_counter()
    hist = build_histogram_rollup(
        big, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS
    )
    hist.count()
    hist_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    ohlc = build_ohlc_rollup(big, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS)
    ohlc.count()
    ohlc_build = time.perf_counter() - t0
    mg_key = F.expr("CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END")
    t0 = time.perf_counter()
    mg = build_mg_rollup(
        big, "ts", mg_key, EVENTS_WM_MS, EVENTS_ADV_MS, m=9,
        slot_ms=HOUR_MS,
    )
    mg.count()
    mg_build = time.perf_counter() - t0
    detail["sketch_builds_sec"] = {
        "hist": round(hist_build, 2),
        "ohlc": round(ohlc_build, 2),
        "mg": round(mg_build, 2),
    }

    def q_served(s_ms, e_ms):
        return range_quantile_df(hist, s_ms, e_ms, 0.5).collect()[0][0]

    def q_scan(s_ms, e_ms):
        return spark.sql(
            f"""
            WITH b AS (
                SELECT CAST(floor(value / 1.0) AS LONG) AS bin,
                       COUNT(*) AS cnt
                FROM events_scale
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

    def o_served(s_ms, e_ms):
        return tuple(range_ohlc_df(ohlc, s_ms, e_ms).collect()[0])

    def o_scan(s_ms, e_ms):
        return tuple(
            spark.sql(
                f"""
                SELECT min_by(value, struct(ts, value)) AS open,
                       max(value) AS high, min(value) AS low,
                       max_by(value, struct(ts, value)) AS close,
                       count(*) AS cnt
                FROM events_scale
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
        # raw-M4 twin: same slot-quantized pixel geometry as the served
        # path (bench.py's twin against the 100× table)
        span = e_ms - s_ms
        px = max(1, -(-span // 200))
        px = -(-px // 60_000) * 60_000
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
                FROM events_scale
                WHERE ts >= TIMESTAMP '{ms_to_ts_literal(s_ms)}'
                  AND ts < TIMESTAMP '{ms_to_ts_literal(e_ms)}'
                GROUP BY 1
                """
            ).collect())
        )

    def hh_served(s_ms, e_ms):
        return sorted(
            map(tuple, range_heavy_hitters_verified(
                big, "ts", mg_key, mg, s_ms, e_ms, m=9, count_frac_den=5
            ).collect())
        )

    def hh_scan(s_ms, e_ms):
        return sorted(
            map(tuple, spark.sql(
                f"""
                WITH d AS (
                    SELECT CASE WHEN user_id % 10 < 5 THEN 0
                                ELSE user_id END AS key
                    FROM events_scale
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

    fams = {}
    for fam, served, scan in (
        ("quantile", q_served, q_scan),
        ("ohlc", o_served, o_scan),
        ("m4", m4_served, m4_scan),
        ("heavy_hitters", hh_served, hh_scan),
    ):
        with serving_confs():
            rs = run_latency_bench(f"{fam}_served", served, hour_sample,
                                   warmup=2)
        rc = run_latency_bench(f"{fam}_scan", scan, hour_sample)
        mism = sum(
            1 for s_ms, e_ms in hour_sample
            if served(s_ms, e_ms) != scan(s_ms, e_ms)
        )
        fams[fam] = {
            "served_p50_us": rs.latency["p50_us"],
            "scan_p50_us": rc.latency["p50_us"],
            "served_beats_scan": rs.qps > rc.qps,
            "dual_check_mismatches": mism,
        }
    detail["sketch_families"] = fams

    # ------------------------------------ keyed rollup at 100 k cardinality
    from uwheel_datafusion_spark.operators.keyed_wheel import KeyedWheelIndex

    t0 = time.perf_counter()
    krollup = KeyedWheelIndex.build_rollup(
        big, "user_id", "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS
    ).cache()
    n_cells = krollup.count()
    keyed_build = time.perf_counter() - t0
    probes = [
        (k, s, e)
        for (s, e), k in zip(
            gen_hour_ranges(EVENTS_WM_MS, horizon, 64, seed=5),
            [i * 1543 % 100_000 for i in range(64)],
        )
    ]
    KeyedWheelIndex.query_rollup_batch_df(krollup, probes[:4]).collect()
    t0 = time.perf_counter()
    kb = KeyedWheelIndex.query_rollup_batch_df(krollup, probes).collect()
    keyed_batch_wall = time.perf_counter() - t0
    # dual check a few probes against the scan
    k_mism = 0
    for row, (k, s, e) in list(zip(kb, probes))[:5]:
        truth = spark.sql(
            f"SELECT COUNT(*) FROM events_scale WHERE user_id = {k} "
            f"AND ts >= TIMESTAMP '{ms_to_ts_literal(s)}' "
            f"AND ts < TIMESTAMP '{ms_to_ts_literal(e)}'"
        ).collect()[0][0]
        if row["cnt"] != truth:
            k_mism += 1
    detail["keyed_100k"] = {
        "build_sec": round(keyed_build, 2),
        "rollup_cells": n_cells,
        "batch_ms_per_query": round(keyed_batch_wall / len(probes) * 1e3, 2),
        "dual_check_mismatches": k_mism,
    }

    # ------------------------------------ streaming stitch at ~1 M rows
    # (VERDICT r06 #6) The order-sensitive streaming family driven at
    # scale THROUGH THE TABLE SINK: 1 M rows replayed as time-ordered
    # micro-batches into StreamingStitchWheel (applyInPandasWithState,
    # TWA partials), killed mid-stream, resumed from the checkpoint,
    # and the dt-partitioned sink table checked bit-for-bit against the
    # batch build over the same rows. Records rows/s end-to-end and the
    # peak state-store row count — the honest bound is OPEN buckets
    # only (slot width + watermark delay), not the stream's history.
    import shutil
    import tempfile

    from uwheel_datafusion_spark.operators.twa import build_twa_rollup
    from uwheel_datafusion_spark.streaming.stitch_stream import (
        StreamingStitchWheel,
    )

    n_stream = max(n_rows // 10, 100_000)
    sdir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "bench_data",
        f"events_stream_{n_stream}",
    )
    if not os.path.exists(os.path.join(sdir, "_SUCCESS")):
        (
            spark.range(n_stream)
            .select(
                F.timestamp_millis(
                    F.lit(EVENTS_WM_MS)
                    + (F.rand(21) * F.lit(float(horizon))).cast("long")
                )
                .cast("timestamp_ntz")
                .alias("ts"),
                (F.rand(9) * 100.0).alias("value"),
            )
            # time-ordered files: the file source replays them in order,
            # so the event-time watermark ADVANCES and closes buckets
            .repartitionByRange(16, "ts")
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(sdir)
        )
    # FileStreamSource replays files by MODIFICATION TIME, and a
    # parallel write finishes part files in arbitrary order — an
    # early-range file replayed late arrives past the watermark and its
    # buckets finalize with rows missing (measured: 14/239 buckets
    # short before this stamp). Range partition k lands in part-000k*,
    # so stamping monotone mtimes in filename order makes replay order
    # = event-time order.
    import glob as _glob

    pfiles = sorted(_glob.glob(os.path.join(sdir, "part-*.parquet")))
    mt0 = time.time() - len(pfiles) - 60
    for i, pf in enumerate(pfiles):
        os.utime(pf, (mt0 + i, mt0 + i))
    sfrm = spark.read.parquet(sdir)
    work = tempfile.mkdtemp(prefix="stitch_scale_")
    try:
        ckpt = os.path.join(work, "ckpt")
        tdir = os.path.join(work, "rollup")

        def _open_stream():
            stream = (
                spark.readStream.schema(sfrm.schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(sdir)
            )
            return StreamingStitchWheel(
                stream, "ts", "value", family="twa",
                slot_ms=HOUR_MS, watermark_delay="2 hours",
            )

        import time as _t

        t0 = time.perf_counter()
        w1 = _open_stream()
        q1 = w1.start(ckpt, table_dir=tdir)
        # let a couple of epochs commit, then KILL mid-stream
        while len(q1.recentProgress) < 2:
            _t.sleep(0.5)
        q1.stop()
        w2 = _open_stream()
        q2 = w2.start(ckpt, table_dir=tdir)  # resume from checkpoint
        q2.processAllAvailable()
        peak_state = max(
            (
                so["numRowsTotal"]
                for p in q2.recentProgress
                for so in p.get("stateOperators", [])
            ),
            default=0,
        )
        w2.stop()
        stream_wall = time.perf_counter() - t0

        got = (
            w2.table_rollup(spark, tdir)
            .filter(
                (F.col("bucket_ms") >= EVENTS_WM_MS)
                & (F.col("bucket_ms") < EVENTS_ADV_MS)
            )
            .select(
                "bucket_ms", "first_ts_ms", "first_v", "last_ts_ms",
                "last_v", "area", "cnt",
            )
        )
        want = build_twa_rollup(
            sfrm, "ts", "value", EVENTS_WM_MS, EVENTS_ADV_MS,
            slot_ms=HOUR_MS, cache=False,
        ).select(
            "bucket_ms", "first_ts_ms", "first_v", "last_ts_ms",
            "last_v", "area", "cnt",
        )
        # bit-identical partials: streaming ∖ batch and batch ∖ finalized
        finalized_buckets = [r["bucket_ms"] for r in got.select("bucket_ms").collect()]
        extra = got.exceptAll(want).count()
        missing = (
            want.filter(F.col("bucket_ms").isin(finalized_buckets))
            .exceptAll(got)
            .count()
        )
        detail["streaming_stitch"] = {
            "n_rows": n_stream,
            "wall_sec": round(stream_wall, 2),
            "rows_per_sec": round(n_stream / stream_wall),
            "kill_and_resume": True,
            "peak_state_rows": peak_state,
            "finalized_buckets": len(finalized_buckets),
            "parity_mismatches": int(extra + missing),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # --------------------------------------------------- AQE skew probe
    # key 0 holds ~50% of rows: a sort-merge groupBy-join on user_id is
    # the canonical skew shape. Record whether AQE's OptimizeSkewedJoin
    # actually split the hot partition at this scale (test_plans.py
    # pins the rule; this pins the runtime behavior).
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
    skewed = big.select(
        F.expr("CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END").alias(
            "k"
        ),
        "value",
    )
    # INDEPENDENT dim frame: a dim derived from `skewed` itself (e.g.
    # .select("k").distinct()) shares the skewed side's exchange
    # lineage, and AQE will NOT split a skewed partition whose exchange
    # is reused by the other side — measured here: derived dim → no
    # split; independent dim → SortMergeJoin(skew=true) + AQEShuffleRead
    # skewed. At 100 TB: build skew-prone dims from their own source.
    dim = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("w")
    )
    t0 = time.perf_counter()
    joined = skewed.hint("merge").join(dim.hint("merge"), "k")
    # a GLOBAL aggregate (not GROUP BY k): an aggregation that REQUIRES
    # the join key's partitioning would legally disable the skew split
    # (splitting the hot partition breaks the required distribution)
    agg = joined.agg(F.sum(F.col("value") * F.col("w")))
    agg.collect()
    skew_wall = time.perf_counter() - t0
    plan = agg._jdf.queryExecution().executedPlan().toString()
    detail["aqe_skew"] = {
        "wall_sec": round(skew_wall, 2),
        "skew_split_fired": "isSkew=true" in plan
        or "skew=true" in plan
        or "OptimizeSkewedJoin" in plan,
    }
    for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ):
        spark.conf.unset(k)

    # ------------------------------------ ANN at 1 M vectors (100× sf0.1)
    # The ANN tier's recall numbers come from the 10 k-vector fixture;
    # this block rebuilds the IVF/IVF-PQ indexes over a 1 M-vector
    # synthetic corpus (seeded, 64-dim) and measures (a) build walls,
    # (b) per-query latency of multiprobe IVF and IVF-PQ vs the exact
    # brute-force twin, (c) recall@10 of both against that twin — the
    # quality/latency trade AT SCALE, not just at fixture size.
    from collections import defaultdict

    from uwheel_datafusion_spark.operators.similarity import (
        ivf_build_wide,
        ivf_search_wide,
        knn_brute_force,
        pq_build_wide,
    )

    n_vec = int(os.environ.get("BENCH_ANN_VECS", 1_000_000))
    dim = 64
    # CLUSTERED corpus (round 12 — VERDICT r11 next/missing #3): the
    # previous iid-uniform synthetic is the hardest possible regime
    # for ANY cell-based ANN index (no cluster structure to exploit,
    # recall bounded by chance cell overlap) and it inverted the
    # rotated-PQ comparison's sign vs the fixture embeddings. Real
    # embedding corpora are clumpy, so the 1 M corpus now is too: 256
    # latent centers (deterministic per-dim hash) plus per-vector
    # noise, both fully seeded (no RNG state), same integer-hash
    # construction as before so runs stay exactly reproducible.
    # The construction was swept empirically at 100 k before being
    # frozen: 0.15 noise over ±1 centers makes the coarse quantizer
    # trivially perfect (IVF recall 1.0 at every nprobe) while burying
    # the fine structure below PQ's resolution (ADC recall 0.0) — as
    # unrepresentative as uniform, in the opposite direction. The
    # final form is equal center/noise amplitudes (0.5/0.5) TIMES an
    # ANISOTROPIC per-dimension scale decaying (77−i)/40 ≈ 1.9 → 0.33
    # (the low-rank-energy shape real embeddings show, and the regime
    # the Hadamard rotation exists for — variance concentrated in the
    # early PQ subspaces). Measured at 100 k / 320 cells: IVF 0.745 @
    # nprobe 3, plain PQ-ADC 0.225, rotated 0.305 — every tier
    # discriminates and the rotation's sign matches the fixture-scale
    # anisotropic twin. Queries are corpus members, i.e. clustered the
    # same way.
    n_latent = 256
    emb = (
        spark.range(n_vec)
        .select(
            F.col("id").alias("vec_id"),
            F.expr(
                f"transform(sequence(1, {dim}), i -> "
                "CAST(((77 - i) / 40.0) * "
                f"(0.5 * ((hash(pmod(hash(id * 31), {n_latent}) "
                "* 131 + i) % 1000) / 1000.0) "
                "+ 0.5 * ((hash(id * 97 + i) % 1000) / 1000.0)) AS FLOAT))"
            ).alias("embedding"),
        )
        .repartition(32, "vec_id")
        .cache()
    )
    emb.count()
    # query ids DISJOINT from the coarse-quantizer seed set:
    # ivf_build_wide seeds its centroids from the lowest-vec_id rows,
    # so querying ids 0..19 would place every query point exactly at a
    # centroid seed and flatter recall. Strided ids far past any seed
    # range keep the measurement honest. (Expressed relative to n_vec
    # so BENCH_ANN_VECS smoke runs stay in range; at the default 1 M
    # this is base 100 000, stride 42 857.)
    _qbase = n_vec // 10
    _qstep = max(1, (n_vec - _qbase) // 21)
    ann_qids = tuple(_qbase + _qstep * i for i in range(20))

    t0 = time.perf_counter()
    bf = knn_brute_force(emb, ann_qids, k=10).collect()
    bf_sec = time.perf_counter() - t0
    truth: dict = defaultdict(set)
    for r in bf:
        truth[r["query_id"]].add(r["neighbor_id"])
    total = sum(len(v) for v in truth.values())

    # build ONCE at PRODUCTION GEOMETRY (VERDICT r8 next #2): n_cells =
    # 1024 ≈ sqrt(n) — the shape the wide Arrow kernels exist for (32
    # cells made nprobe/n_cells so coarse that layout hardly mattered).
    # Then materialize the SERVED cell-partitioned layout (r8 next #1)
    # and run every search from it: probed-partition reads only, no
    # corpus join. k=256 byte codes as before.
    import shutil
    import tempfile

    from uwheel_datafusion_spark.operators.ann_serving import (
        ivf_search_served,
        ivfpq_rerank_served,
        ivfpq_search_served,
        save_ivf_payload,
        save_ivfpq_payload,
    )
    from uwheel_datafusion_spark.operators.similarity import (
        ivfpq_search_rerank,
    )

    ann_cells = 1024
    # round 13 (VERDICT r12 next #2/#3): the PRODUCTION builds train on
    # the seeded hash-ranked sample (FAISS max_points_per_centroid —
    # 256 points per centroid) with hash-ranked init; a one-off
    # FULL-corpus build is kept purely as the recall-parity reference
    ivf_train = 256 * ann_cells
    pq_train = 256 * 256
    t0 = time.perf_counter()
    ivf_full = ivf_build_wide(emb, n_cells=ann_cells)
    ivf_build_full_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    ivf_idx = ivf_build_wide(
        emb, n_cells=ann_cells, train_sample=ivf_train
    )
    ivf_build_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    pq_idx = pq_build_wide(emb, m=8, k=256, train_sample=pq_train)
    pq_build_sec = time.perf_counter() - t0

    ann_work = tempfile.mkdtemp(prefix="ann1m_served_")
    t0 = time.perf_counter()
    ivf_srv = save_ivf_payload(ivf_idx, emb, f"{ann_work}/ivf")
    ivf_layout_sec = time.perf_counter() - t0
    # recall parity sampled-vs-full at the headline operating point
    ivf_full_srv = save_ivf_payload(ivf_full, emb, f"{ann_work}/ivf_full")
    ivf_full.cells.unpersist()
    t0 = time.perf_counter()
    pq_srv = save_ivfpq_payload(ivf_idx, pq_idx, f"{ann_work}/pq")
    pq_layout_sec = time.perf_counter() - t0
    ann_queries = emb.filter(F.col("vec_id").isin(*ann_qids)).select(
        "vec_id", "embedding"
    )

    def _recall(rows):
        got: dict = defaultdict(set)
        for r in rows:
            got[r["query_id"]].add(r["neighbor_id"])
        return round(
            sum(len(got[q] & truth[q]) for q in truth) / total, 4
        )

    # the r8 layout-gap twin, measured once as the BEFORE number: the
    # in-memory (vec_id, cell) index forces a full-corpus quantize +
    # join per search batch even though 1024-cell pruning leaves ~3%
    # of the data
    t0 = time.perf_counter()
    mp = ivf_search_wide(ivf_idx, emb, ann_qids, k=10, nprobe=32).collect()
    mp_sec = time.perf_counter() - t0

    # nprobe sweep on the served layout (recall/latency per point).
    # Honesty note: per QUERY the read fraction is nprobe/n_cells, but
    # a 20-query batch reads the UNION of all probes' partitions —
    # recorded as union_cells_read so the latency is attributable.
    from uwheel_datafusion_spark.operators import ann_serving as _annsrv

    ivf_sweep = {}
    for np_ in (8, 32, 128):
        probed_union: list = []
        orig_read = _annsrv._read_payload

        def spy(sp, path, probed, schema, _acc=probed_union):
            _acc.append(len(probed))
            return orig_read(sp, path, probed, schema)

        _annsrv._read_payload = spy
        try:
            t0 = time.perf_counter()
            rows_ = ivf_search_served(
                ivf_srv, ann_queries, k=10, nprobe=np_
            ).collect()
            sec = time.perf_counter() - t0
        finally:
            _annsrv._read_payload = orig_read
        ivf_sweep[f"nprobe_{np_}"] = {
            "search_sec": round(sec, 2),
            "recall_at_10": _recall(rows_),
            "per_query_probe_fraction": round(np_ / ann_cells, 4),
            "union_cells_read": probed_union[0] if probed_union else None,
            "union_read_fraction": round(probed_union[0] / ann_cells, 4)
            if probed_union
            else None,
        }

    # sampled-vs-full training parity at the headline operating point
    full_rows = ivf_search_served(
        ivf_full_srv, ann_queries, k=10, nprobe=32
    ).collect()
    sampled_vs_full = {
        "full_recall_at_10_nprobe_32": _recall(full_rows),
        "sampled_recall_at_10_nprobe_32": ivf_sweep["nprobe_32"][
            "recall_at_10"
        ],
        "full_build_sec": round(ivf_build_full_sec, 2),
        "sampled_build_sec": round(ivf_build_sec, 2),
    }

    t0 = time.perf_counter()
    ip = ivfpq_search_served(
        pq_srv, ann_queries, topk=10, nprobe=32
    ).collect()
    ip_sec = time.perf_counter() - t0

    # two-stage refine (FAISS IndexRefineFlat), BOTH stages served:
    # ADC top-100 from the codes table, exact re-rank reading the
    # candidate vectors from the payload table by vec_id point lookups
    t0 = time.perf_counter()
    rr = ivfpq_rerank_served(
        pq_srv, ivf_srv, ann_queries, topk=10, nprobe=32,
        n_candidates=100,
    ).collect()
    rr_sec = time.perf_counter() - t0

    # recall-vs-latency FRONTIER at production geometry (round 10 —
    # VERDICT r9 next #5): the 0.29 rerank point was a single
    # operating point, not a ceiling; this sweep maps the
    # (nprobe × n_candidates) surface so a deployment picks its point.
    # The exact-integer PQ kernel cannot express a learned float
    # rotation (OPQ) without breaking the bit-identical-oracle
    # contract, so the public recall levers here are probe width and
    # refine depth — see PLANS.md for why the concentrated synthetic
    # corpus bounds the absolute numbers (planted_neardup below
    # measures the separated regime on the same index).
    rerank_frontier = {}
    for np_ in (32, 128, 256):
        for nc in (100, 400):
            t0 = time.perf_counter()
            fr = ivfpq_rerank_served(
                pq_srv, ivf_srv, ann_queries, topk=10, nprobe=np_,
                n_candidates=nc,
            ).collect()
            fr_sec = time.perf_counter() - t0
            rerank_frontier[f"nprobe_{np_}_cand_{nc}"] = {
                "search_sec": round(fr_sec, 2),
                "recall_at_10": _recall(fr),
            }

    # binary tier at PRODUCTION SCALE (round 11): sign bits packed
    # 32/word, candidates by popcount-XOR Hamming on 2 BIGINT words
    # (whole-stage codegen) instead of a 64-element integer dot —
    # served from the same cell layout with the packed words
    # materialized into the payload; exact-cosine rerank. Measured
    # against the flat served sweep at the same nprobe so the
    # candidate-stage arithmetic saving is attributable.
    from uwheel_datafusion_spark.operators.ann_serving import (
        ivf_binary_search_served,
    )

    t0 = time.perf_counter()
    bin_srv = save_ivf_payload(
        ivf_idx, emb, f"{ann_work}/ivf_bin", include_binary=True
    )
    bin_layout_sec = time.perf_counter() - t0
    binary_sweep = {}
    for nc in (100, 400):
        t0 = time.perf_counter()
        bh_rows = ivf_binary_search_served(
            bin_srv, ann_queries, k=10, nprobe=32, n_candidates=nc
        ).collect()
        bh_sec = time.perf_counter() - t0
        binary_sweep[f"cand_{nc}"] = {
            "search_sec": round(bh_sec, 2),
            "recall_at_10": _recall(bh_rows),
        }
    binary_served_1m = {
        "layout_write_sec": round(bin_layout_sec, 2),
        "nprobe": 32,
        "sweep": binary_sweep,
    }

    # Hadamard-rotated PQ at PRODUCTION SCALE (round 10): full-scan
    # ADC (no coarse tier, so the comparison isolates the quantizer),
    # plain vs rotated at identical m/k — does the sf0.1 ~+15% lift
    # (RR+PQ quantization-error decorrelation) hold at 1M?
    from uwheel_datafusion_spark.operators.similarity import (
        knn_pq_adc_rotated,
        knn_pq_adc_wide,
        pq_build_rotated,
    )

    t0 = time.perf_counter()
    plain_adc_1m = knn_pq_adc_wide(
        pq_idx, emb, ann_qids, topk=10
    ).collect()
    plain_adc_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    rot_idx = pq_build_rotated(emb, m=8, k=256, train_sample=pq_train)
    rot_build_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    rot_adc_1m = knn_pq_adc_rotated(
        rot_idx, emb, ann_qids, topk=10
    ).collect()
    rot_adc_sec = time.perf_counter() - t0
    pq_rotated_1m = {
        "plain_adc_recall_at_10": _recall(plain_adc_1m),
        "rotated_adc_recall_at_10": _recall(rot_adc_1m),
        "plain_adc_search_sec": round(plain_adc_sec, 2),
        "rotated_build_sec": round(rot_build_sec, 2),
        "rotated_adc_search_sec": round(rot_adc_sec, 2),
        "m": 8,
        "k_per_subspace": 256,
    }
    rot_idx.codes.unpersist()

    # RESIDUAL codes in the SERVED tier + the m=16 budget sweep
    # (round 13 — VERDICT r12 next #1: the r12 rerank frontier capped
    # at 0.52 recall regardless of nprobe/candidates because the m=8
    # plain-code budget binds; residual encoding and a doubled code
    # budget are the two public levers, both now served).
    from uwheel_datafusion_spark.operators.ann_serving import (
        save_ivfpq_payload_residual,
    )
    from uwheel_datafusion_spark.operators.similarity import (
        pq_build_residual,
    )

    def _rerank_points(codes_srv, points, metric="l2"):
        out = {}
        for np_, nc in points:
            t0 = time.perf_counter()
            fr = ivfpq_rerank_served(
                codes_srv, ivf_srv, ann_queries, topk=10, nprobe=np_,
                n_candidates=nc, metric=metric,
            ).collect()
            out[f"nprobe_{np_}_cand_{nc}"] = {
                "search_sec": round(time.perf_counter() - t0, 2),
                "recall_at_10": _recall(fr),
            }
        return out

    residual_m16 = {}
    for m_, tag in ((8, "residual_m8"), (16, "residual_m16")):
        t0 = time.perf_counter()
        res_idx = pq_build_residual(
            emb, ivf_idx, m=m_, k=256, train_sample=pq_train
        )
        build_sec = time.perf_counter() - t0
        t0 = time.perf_counter()
        res_srv = save_ivfpq_payload_residual(
            res_idx, f"{ann_work}/pqres{m_}"
        )
        layout_sec = time.perf_counter() - t0
        res_idx.codes.unpersist()
        t0 = time.perf_counter()
        adc_rows = ivfpq_search_served(
            res_srv, ann_queries, topk=10, nprobe=32
        ).collect()
        adc_sec = time.perf_counter() - t0
        residual_m16[tag] = {
            "build_sec": round(build_sec, 2),
            "layout_write_sec": round(layout_sec, 2),
            "adc_search_sec": round(adc_sec, 2),
            "adc_recall_at_10": _recall(adc_rows),
            "rerank": _rerank_points(
                res_srv, [(32, 100), (32, 400), (128, 400)]
            ),
            # COSINE refine (round 13): the truth metric IS cosine —
            # the L2-refine plateau is the metric gap, and this is the
            # frontier once the refine matches the deployment metric
            "rerank_cosine": _rerank_points(
                res_srv, [(32, 100), (32, 400)], metric="cosine"
            ),
            "k_per_subspace": 256,
        }
    # plain m=16 rerank point for the budget-vs-encoding attribution
    t0 = time.perf_counter()
    pq16 = pq_build_wide(emb, m=16, k=256, train_sample=pq_train)
    pq16_build_sec = time.perf_counter() - t0
    pq16_srv = save_ivfpq_payload(ivf_idx, pq16, f"{ann_work}/pq16")
    pq16.codes.unpersist()
    residual_m16["plain_m16"] = {
        "build_sec": round(pq16_build_sec, 2),
        "rerank": _rerank_points(pq16_srv, [(32, 400)]),
        "k_per_subspace": 256,
    }
    # rotated-residual (OPQ-style) serving: coarse quantizer AND
    # residual codebooks in Hadamard-rotated space, queries rotated
    # driver-side; refine stays raw-space against a payload cell-
    # partitioned by the SAME rotated quantizer
    t0 = time.perf_counter()
    rot_ivf = ivf_build_wide(
        emb, n_cells=ann_cells, rotate=True, train_sample=ivf_train
    )
    rot_ivf_build_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    rot_res = pq_build_residual(
        emb, rot_ivf, m=8, k=256, rotate=True, train_sample=pq_train
    )
    rot_res_build_sec = time.perf_counter() - t0
    rot_srv = save_ivfpq_payload_residual(
        rot_res, f"{ann_work}/pqrotres", rotated=True
    )
    rot_res.codes.unpersist()
    rot_payload = save_ivf_payload(rot_ivf, emb, f"{ann_work}/ivf_rot")
    rot_ivf.cells.unpersist()
    rot_points = {}
    for np_, nc in [(32, 400), (128, 400)]:
        t0 = time.perf_counter()
        fr = ivfpq_rerank_served(
            rot_srv, rot_payload, ann_queries, topk=10, nprobe=np_,
            n_candidates=nc,
        ).collect()
        rot_points[f"nprobe_{np_}_cand_{nc}"] = {
            "search_sec": round(time.perf_counter() - t0, 2),
            "recall_at_10": _recall(fr),
        }
    residual_m16["rotated_residual_m8"] = {
        "ivf_build_sec": round(rot_ivf_build_sec, 2),
        "build_sec": round(rot_res_build_sec, 2),
        "rerank": rot_points,
        "k_per_subspace": 256,
    }

    detail["ann_1m"] = {
        "n_vectors": n_vec,
        "corpus": f"clustered-{n_latent}-aniso-g0.5-n0.5",
        "n_queries": len(ann_qids),
        "n_cells": ann_cells,
        "brute_force_sec": round(bf_sec, 2),
        "ivf_build_sec": round(ivf_build_sec, 2),
        "ivf_build_full_sec": round(ivf_build_full_sec, 2),
        "train_sample": {"ivf": ivf_train, "pq": pq_train},
        "sampled_vs_full": sampled_vs_full,
        "pq_build_sec": round(pq_build_sec, 2),
        "served_layout_write_sec": {
            "ivf_payload": round(ivf_layout_sec, 2),
            "pq_codes": round(pq_layout_sec, 2),
        },
        # before/after of the r8 layout finding at the same nprobe
        "ivf_flat_inmemory_join_search_sec": round(mp_sec, 2),
        "ivf_flat_inmemory_join_recall_at_10": _recall(mp),
        "ivf_flat_served_sweep": ivf_sweep,
        "ivfpq_served": {
            "search_sec": round(ip_sec, 2),
            "recall_at_10": _recall(ip),
            "nprobe": 32,
            "m": 8,
            "k_per_subspace": 256,
        },
        # recall against the cosine brute-force truth like every row
        # here (the rerank metric is exact squared-L2; the honest
        # comparison is rerank vs plain ADC on the same truth)
        "ivfpq_rerank_served": {
            "search_sec": round(rr_sec, 2),
            "recall_at_10": _recall(rr),
            "nprobe": 32,
            "n_candidates": 100,
        },
        "ivfpq_rerank_frontier": rerank_frontier,
        "binary_served_1m": binary_served_1m,
        "pq_rotated_vs_plain_1m": pq_rotated_1m,
        "residual_served_1m": residual_m16,
    }

    # planted near-duplicate probe at 1 M vectors: the synthetic
    # corpus concentrates distances like the fixture does, so the
    # recalls above are the concentrated-regime numbers; planting
    # queries AT small deterministic perturbations of corpus vectors
    # measures the index in the separated regime (near-dup retrieval)
    # — see bench.py ann_recall.planted_neardup for the sf0.1 twin.
    plant_base = [int(q) for q in ann_qids]
    planted = emb.filter(F.col("vec_id").isin(plant_base)).select(
        (F.col("vec_id") + n_vec).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x + "
            "((hash(vec_id * 131 + i) % 100) / 20000.0) AS FLOAT))"
        ).alias("embedding"),
    )
    emb2 = emb.select("vec_id", "embedding").union(planted).cache()
    emb2.count()
    plant_qids = tuple(q + n_vec for q in plant_base)
    bf_p = knn_brute_force(emb2, plant_qids, k=10).collect()
    truth_p: dict = defaultdict(set)
    for r in bf_p:
        truth_p[r["query_id"]].add(r["neighbor_id"])
    total_p = sum(len(v) for v in truth_p.values())
    # REUSE the existing indexes' frozen centroids/codebooks and
    # assign ONLY the 20 planted rows through the same Arrow kernels —
    # FAISS add() semantics, exactly what production does for new
    # vectors (a full rebuild here would silently charge Lloyd cost to
    # the probe and contradict the streaming-ingest story; ADVICE r8)
    from uwheel_datafusion_spark.operators.similarity import (
        IvfIndex,
        PqIndex,
        _assign_cells_passthrough,
        _pq_assign_codes_pandas,
        _quantized,
    )

    qv_plant = _quantized(planted, "embedding").select("vec_id", "qvec")
    ivf_p = IvfIndex(
        centroids=ivf_idx.centroids,
        cells=ivf_idx.cells.union(
            _assign_cells_passthrough(qv_plant, ivf_idx.centroids).select(
                "vec_id", "cell"
            )
        ),
        n_cells=ivf_idx.n_cells,
    )
    pq_p = PqIndex(
        books=pq_idx.books,
        codes=pq_idx.codes.union(
            _pq_assign_codes_pandas(qv_plant, pq_idx.books, dim, 8)
        ),
        m=8,
        k=256,
        dim=dim,
    )
    t0 = time.perf_counter()
    rr_p = ivfpq_search_rerank(
        ivf_p, pq_p, emb2, plant_qids, topk=10, nprobe=32,
        n_candidates=100,
    ).collect()
    rr_p_sec = time.perf_counter() - t0
    a_p: dict = defaultdict(set)
    for r in rr_p:
        a_p[r["query_id"]].add(r["neighbor_id"])
    top1_p = {
        r["query_id"]: r["neighbor_id"] for r in rr_p if r["rnk"] == 1
    }
    src_hits_p = sum(
        1 for q, b in zip(plant_qids, plant_base) if top1_p.get(q) == b
    )
    detail["ann_1m"]["planted_neardup"] = {
        "n_planted": len(plant_qids),
        "rerank_recall_at_10": round(
            sum(len(a_p[q] & truth_p[q]) for q in truth_p) / total_p, 4
        )
        if total_p
        else None,
        "rerank_top1_source_hit_rate": round(
            src_hits_p / len(plant_qids), 4
        ),
        "rerank_search_sec": round(rr_p_sec, 2),
    }
    emb2.unpersist()
    ivf_idx.cells.unpersist()
    pq_idx.codes.unpersist()
    emb.unpersist()
    shutil.rmtree(ann_work, ignore_errors=True)

    # -------------------------------- keyword index at 1 M documents
    # The lexical tier's 100 TB claim was plan-pinned but unmeasured
    # (VERDICT r9 next #4): this block builds the bucket-partitioned
    # postings + positional index over a synthetic 1 M-doc corpus
    # (seeded hash vocabulary with a frequency mixture so idf varies),
    # then measures build walls, per-access-path probe latencies
    # (TF-IDF, BM25, log-idf BM25, conjunctive, phrase), the
    # buckets-read accounting (the union_cells_read analogue), the
    # one-shot-vs-index-probe speedup, and the round-10 erasure path
    # (tombstone 10% + compact, probes parity-checked before/after).
    # Dual checks: every index probe vs its one-shot corpus-scan twin,
    # exact row equality.
    from uwheel_datafusion_spark.operators import textops as _txs

    n_docs_kw = int(os.environ.get("BENCH_KW_DOCS", 1_000_000))
    doc_len = 24
    # token rank ~ mixture of uniforms over [0, m) with m itself
    # uniform — small ranks frequent, large ranks rare (zipf-ish);
    # vocabulary = 2000 distinct tokens
    kw_work = tempfile.mkdtemp(prefix="kw1m_")
    (
        spark.range(n_docs_kw)
        .select(
            F.col("id").alias("doc_id"),
            F.expr(
                f"concat_ws(' ', transform(sequence(1, {doc_len}), i -> "
                "concat('w', CAST(pmod(hash(id * 53 + i), "
                "pmod(hash(id * 101 + i * 7), 1999) + 1) AS STRING))))"
            ).alias("text"),
        )
        .repartition(32, "doc_id")
        .write.parquet(f"{kw_work}/corpus")
    )
    # the corpus lives in PARQUET and is read fresh by BOTH sides —
    # a cached in-memory one-shot twin would flatter the scan path
    # (at 100 TB the corpus is never resident)
    docs_kw = spark.read.parquet(f"{kw_work}/corpus")
    kw_terms = ("w17", "w523", "w1801")  # frequent / mid / rare
    kw_phrase = ("w3", "w11")
    kw_dir = f"{kw_work}/kw"
    t0 = time.perf_counter()
    _txs.build_keyword_index(docs_kw, kw_dir)
    kw_build_sec = time.perf_counter() - t0
    t0 = time.perf_counter()
    _txs.build_keyword_positions(docs_kw, kw_dir)
    kw_pos_build_sec = time.perf_counter() - t0
    postings_rows = spark.read.parquet(f"{kw_dir}/postings").count()

    def _p50(fn, reps=5):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        return ts[len(ts) // 2]

    kw_mism = 0

    def _rows(df):
        return sorted(map(tuple, df.collect()))

    paths = {
        "tfidf": (
            lambda: _txs.keyword_index_probe(spark, kw_dir, kw_terms),
            lambda: _txs.keyword_search(docs_kw, kw_terms),
        ),
        "bm25": (
            lambda: _txs.keyword_index_bm25_probe(spark, kw_dir, kw_terms),
            lambda: _txs.keyword_search_bm25(docs_kw, kw_terms),
        ),
        "bm25_log": (
            lambda: _txs.keyword_index_bm25_log_probe(
                spark, kw_dir, kw_terms
            ),
            lambda: _txs.keyword_search_bm25_log(docs_kw, kw_terms),
        ),
        "conjunctive": (
            lambda: _txs.keyword_index_search_conjunctive(
                spark, kw_dir, kw_terms
            ),
            None,
        ),
        "phrase": (
            lambda: _txs.keyword_phrase_search(spark, kw_dir, kw_phrase),
            None,
        ),
    }
    kw_detail: dict = {
        "n_docs": n_docs_kw,
        "doc_len_tokens": doc_len,
        "postings_rows": postings_rows,
        "n_buckets": _txs.KEYWORD_INDEX_BUCKETS,
        "build_sec": round(kw_build_sec, 2),
        "positions_build_sec": round(kw_pos_build_sec, 2),
        "probe_terms": list(kw_terms),
        "buckets_read": {
            "probe": len({_txs._term_bucket(t) for t in kw_terms}),
            "phrase": len({_txs._term_bucket(t) for t in kw_phrase}),
            "read_fraction": round(
                len({_txs._term_bucket(t) for t in kw_terms})
                / _txs.KEYWORD_INDEX_BUCKETS,
                4,
            ),
        },
        "paths": {},
    }
    for name, (index_fn, oneshot_fn) in paths.items():
        p50 = _p50(lambda f=index_fn: f().collect())
        entry = {"index_probe_p50_sec": round(p50, 3)}
        if oneshot_fn is not None:
            o50 = _p50(lambda f=oneshot_fn: f().collect(), reps=3)
            entry["one_shot_scan_p50_sec"] = round(o50, 3)
            entry["index_speedup"] = round(o50 / p50, 2)
            if _rows(index_fn()) != _rows(oneshot_fn()):
                kw_mism += 1
        kw_detail["paths"][name] = entry

    # erasure at scale: tombstone 10% of docs, verify the anti-join
    # probe, compact (physical fold + stats rebase), verify parity
    # with the pre-compaction answer and the post-delete one-shot
    dead_kw = list(range(0, n_docs_kw, 10))
    t0 = time.perf_counter()
    _txs.delete_docs_from_index(spark, kw_dir, dead_kw)
    kw_delete_sec = time.perf_counter() - t0
    tomb_bm25 = _rows(
        _txs.keyword_index_bm25_probe(spark, kw_dir, kw_terms)
    )
    tomb_p50 = _p50(
        lambda: _txs.keyword_index_bm25_probe(
            spark, kw_dir, kw_terms
        ).collect()
    )
    live_docs = docs_kw.filter(F.col("doc_id") % 10 != 0)
    if tomb_bm25 != _rows(_txs.keyword_search_bm25(live_docs, kw_terms)):
        kw_mism += 1
    t0 = time.perf_counter()
    _txs.compact_keyword_index(spark, kw_dir)
    kw_compact_sec = time.perf_counter() - t0
    compacted_p50 = _p50(
        lambda: _txs.keyword_index_bm25_probe(
            spark, kw_dir, kw_terms
        ).collect()
    )
    if _rows(
        _txs.keyword_index_bm25_probe(spark, kw_dir, kw_terms)
    ) != tomb_bm25:
        kw_mism += 1
    kw_detail["erasure"] = {
        "deleted_docs": len(dead_kw),
        "delete_sec": round(kw_delete_sec, 2),
        "compact_sec": round(kw_compact_sec, 2),
        "bm25_p50_with_tombstones_sec": round(tomb_p50, 3),
        "bm25_p50_after_compaction_sec": round(compacted_p50, 3),
    }
    # MANIFEST-committed twin (round 12 — VERDICT r11 wrong #2 /
    # next #7): same 1 M corpus, same scorer, but the probe checks
    # ZERO maintenance markers (manifest commits are atomic) and the
    # BM25 stats come from the snapshot itself — the per-probe fixed
    # cost is one listStatus + one small read, and ZERO with a pinned
    # snapshot handle (Iceberg read isolation). Three p50s separate
    # the components: snapshot resolution alone, probe with per-call
    # resolution, probe with a pinned snapshot.
    from uwheel_datafusion_spark.operators.manifest import manifest_latest

    mf_dir = f"{kw_work}/kwmf"
    t0 = time.perf_counter()
    _txs.build_keyword_index_manifest(docs_kw, mf_dir)
    kw_mf_build_sec = time.perf_counter() - t0
    mf_resolve_p50 = _p50(lambda: manifest_latest(spark, mf_dir))
    mf_p50 = _p50(
        lambda: _txs.keyword_manifest_bm25_probe(
            spark, mf_dir, kw_terms
        ).collect()
    )
    snap_pinned = manifest_latest(spark, mf_dir)
    mf_pinned_p50 = _p50(
        lambda: _txs.keyword_manifest_bm25_probe(
            spark, mf_dir, kw_terms, snapshot=snap_pinned
        ).collect()
    )
    if _rows(
        _txs.keyword_manifest_bm25_probe(spark, mf_dir, kw_terms)
    ) != _rows(_txs.keyword_search_bm25(docs_kw, kw_terms)):
        kw_mism += 1
    kw_detail["manifest"] = {
        "build_sec": round(kw_mf_build_sec, 2),
        "snapshot_resolve_p50_sec": round(mf_resolve_p50, 4),
        "bm25_p50_per_probe_resolve_sec": round(mf_p50, 3),
        "bm25_p50_pinned_snapshot_sec": round(mf_pinned_p50, 3),
    }
    kw_detail["dual_check_mismatches"] = kw_mism
    detail["keyword_index_1m"] = kw_detail
    shutil.rmtree(kw_work, ignore_errors=True)

    out["metric"] = "scale_proof_sf100_events"
    out["all_dual_checks_clean"] = (
        batch_mism == 0
        and k_mism == 0
        and all(f["dual_check_mismatches"] == 0 for f in fams.values())
        and detail["streaming_stitch"]["parity_mismatches"] == 0
        and detail["streaming_stitch"]["finalized_buckets"] > 0
        and detail["keyword_index_1m"]["dual_check_mismatches"] == 0
    )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "detail"}))
    print(f"wrote {out_path}")
    return out


if __name__ == "__main__":
    dest = sys.argv[1] if len(sys.argv) > 1 else "BENCH_scale.json"
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else N_ROWS_DEFAULT
    main(dest, rows)
