"""Micro-batched serving for the sketch-family rollups.

The wheel's ``range_agg_batch_df`` (operators/wheel.py:606) answers N
range queries in ONE Spark job because per-query jobs pay a flat
~50-100 ms scheduler floor regardless of how little they scan — the
same amortization the reference gets by staying in one process
(/root/reference/src/main.rs:205-288). This module applies the
identical plan shape to every un-keyed sketch rollup family —
histogram quantile, OHLC candle, TWA, counter increase/rate, exact
distinct pairs, bottom-k/KMV: ranges expand driver-side into coarse slot
BLOCKS, the rollup joins the (broadcast, bounded) run frame with a
hash join on block id plus a containment residual — never a
nested-loop of rollup rows × ranges — and per-query combine/lower
folds inside the same job.

Work is bounded by occupied rollup cells × runs-per-block; fact rows
are never touched. At 1000 executors this is the serving tier's
throughput shape: one job per *batch* of dashboard/API queries, each
query folding only the slots it covers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.time import MINUTE_MS
from uwheel_datafusion_spark.operators import stitch
from uwheel_datafusion_spark.operators.counter import COUNTER
from uwheel_datafusion_spark.operators.ohlc import OHLC
from uwheel_datafusion_spark.operators.quantile_rollup import (
    DEFAULT_BIN_WIDTH,
)
from uwheel_datafusion_spark.operators.twa import TWA

_BLOCK_SLOTS = 64


def _blocked_runs_df(
    spark,
    ranges: "list[tuple[int, int]]",
    block_ms: int,
) -> DataFrame:
    """Driver-side block expansion of the input ranges: one row per
    (query_id, covering coarse block), broadcast-sized — the hash key
    that keeps range-tagging joins off the nested-loop path."""
    blocked = [
        (qid, s, e, b)
        for qid, (s, e) in enumerate(ranges)
        for b in range(s // block_ms, (e - 1) // block_ms + 1)
    ]
    if not blocked:
        return spark.createDataFrame(
            [], "query_id int, run_s long, run_e long, block long"
        )
    return spark.createDataFrame(
        blocked, "query_id int, run_s long, run_e long, block long"
    )


def _tag_by_block(
    df: DataFrame, rdf: DataFrame, ms_col, block_ms: int
) -> DataFrame:
    """Tag ``df`` rows with the query ids whose range contains
    ``ms_col``: hash join on coarse block id + containment residual.
    Rows covered by several ranges duplicate per query id (each fold
    is independent)."""
    d2 = df.withColumn(
        "block", F.floor(ms_col / F.lit(block_ms)).cast("long")
    )
    return d2.join(
        F.broadcast(rdf),
        (d2["block"] == rdf["block"])
        & (ms_col >= rdf["run_s"])
        & (ms_col < rdf["run_e"]),
    ).drop("block", "run_s", "run_e")


def _tag_rollup_with_queries(
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    slot_ms: int,
) -> tuple[DataFrame, DataFrame]:
    """Tag rollup rows with the query ids whose half-open range covers
    them. Returns ``(tagged, qids)`` where ``tagged`` is the rollup
    joined to a broadcast run frame on coarse block id (+ containment
    residual) and carries ``query_id``; ``qids`` is the 1-column frame
    of all input query ids (for left-join back so empty ranges still
    emit a row).

    The block expansion is driver-side pure arithmetic, bounded by
    ``sum(range_span / (slot_ms * 64))`` rows — e.g. 256 month-long
    minute-grain queries ≈ 175 k run rows, broadcast-sized."""
    spark = rollup.sparkSession
    block_ms = slot_ms * _BLOCK_SLOTS
    qids = spark.createDataFrame(
        [(i,) for i in range(len(ranges))], "query_id int"
    )
    rdf = _blocked_runs_df(spark, ranges, block_ms)
    tagged = _tag_by_block(rollup, rdf, F.col("bucket_ms"), block_ms)
    return tagged, qids


def range_quantile_batch_df(
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    q: float,
    bin_width: float = DEFAULT_BIN_WIDTH,
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N approximate q-quantile range queries in ONE job. Input ranges
    are slot-aligned half-open ``[start, end)`` pairs; output is one
    row per input range in input order: ``(query_id int,
    approx_quantile double)`` with null for an empty range — the same
    values ``range_quantile_df`` returns per query.

    Plan: tag covered rollup cells with query ids (broadcast block
    join), merge bins per (query_id, bin), then one sorted-array CDF
    walk per query id — the batch twin of the single-range walk."""
    tagged, qids = _tag_rollup_with_queries(rollup, ranges, slot_ms)
    bins = tagged.groupBy("query_id", "bin").agg(F.sum("cnt").alias("cnt"))
    packed = bins.groupBy("query_id").agg(
        F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("bc"),
        F.sum("cnt").alias("total"),
    )
    walk = f"""
        aggregate(
            bc,
            struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS BIGINT) AS b),
            (acc, x) -> struct(
                acc.cum + x.cnt,
                CASE WHEN acc.b IS NULL
                          AND (acc.cum + x.cnt) >= {q} * total
                     THEN x.bin ELSE acc.b END),
            acc -> acc.b)
    """
    per_q = packed.select(
        "query_id",
        ((F.expr(walk) + F.lit(0.5)) * F.lit(bin_width)).alias(
            "approx_quantile"
        ),
    )
    return qids.join(per_q, "query_id", "left").orderBy("query_id")


def range_twa_batch_df(
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N time-weighted-average range queries in ONE job: ``(query_id,
    twa double, cnt)`` per input range, null/0 for empty ranges — the
    same values ``range_twa_df`` returns per query. The ordered
    boundary-fold (operators/stitch) runs per query id."""
    return stitch.per_query(
        TWA, *_tag_rollup_with_queries(rollup, ranges, slot_ms)
    )


def range_increase_batch_df(
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N counter increase/rate range queries in ONE job: ``(query_id,
    increase, rate_per_sec, cnt)`` per input range — the same values
    ``range_increase_df`` returns per query (reset-aware seam folded
    per query id)."""
    return stitch.per_query(
        COUNTER, *_tag_rollup_with_queries(rollup, ranges, slot_ms)
    )


def range_distinct_batch_df(
    pairs: DataFrame,
    ranges: "list[tuple[int, int]]",
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N exact distinct-count range queries in ONE job from the
    distinct-pairs rollup: ``(query_id, n_distinct)``, 0 for empty
    ranges (a distinct count of nothing IS 0, unlike the wheel's
    Option nulls) — the same values ``range_distinct_exact`` returns
    per query."""
    tagged, qids = _tag_rollup_with_queries(pairs, ranges, slot_ms)
    per_q = tagged.groupBy("query_id").agg(
        F.count_distinct("key").alias("n_distinct")
    )
    return (
        qids.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_distinct"), F.lit(0).cast("long")).alias(
                "n_distinct"
            ),
        )
        .orderBy("query_id")
    )


def range_kmv_batch_df(
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    k: int,
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N KMV distinct-estimate range queries in ONE job from the
    bottom-k rollup: ``(query_id, n_distinct_kmv)`` — the same values
    ``range_kmv_estimate_df`` returns per query. The per-query
    bottom-k re-rank is a window row_number (WindowGroupLimit pushes
    it down); exchanged rows ≤ ranges × k."""
    from pyspark.sql import Window

    from uwheel_datafusion_spark.operators.bottomk import _P2

    tagged, qids = _tag_rollup_with_queries(rollup, ranges, slot_ms)
    w = Window.partitionBy("query_id").orderBy("h", "key")
    sample = (
        tagged.select("query_id", "h", "key")
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
    )
    agg = sample.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("hk")
    )
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("hk").cast("double") / F.lit(float(_P2)))
    )
    per_q = agg.select(
        "query_id", F.round(est).cast("long").alias("n_distinct_kmv")
    )
    return (
        qids.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_distinct_kmv"), F.lit(0).cast("long")).alias(
                "n_distinct_kmv"
            ),
        )
        .orderBy("query_id")
    )


def range_ohlc_batch_df(
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N candlestick range queries in ONE job: ``(query_id int, open,
    high, low, close, cnt)`` per input range in input order, nulls/0
    for empty ranges — the same values ``range_ohlc_df`` returns per
    query. Combine is the family's associative (ts, value)-keyed fold,
    grouped by query id."""
    return stitch.per_query(
        OHLC, *_tag_rollup_with_queries(rollup, ranges, slot_ms)
    )


def range_heavy_hitters_batch_verified(
    fact: DataFrame,
    ts_col: str,
    key: F.Column,
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    m: int,
    count_frac_den: int,
    cascade_levels: int = 0,
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N EXACT heavy-hitter range queries with ONE candidates job and
    ONE union verify scan: ``(query_id, key, cnt)`` — exactly the rows
    ``range_heavy_hitters_verified`` emits per range (empty ranges emit
    nothing: the heavy hitters of an empty set are no rows).

    The per-range twin already costs one fact scan per query (the
    verify); at N dashboard queries that is N scans of overlapping
    windows. Here the verify scans the fact table ONCE over
    ``[min(start), max(end))`` (pushed to parquet stats), tags each row
    with its covering query ids via the same block-hash join the rollup
    tagging uses (never row × ranges), semi-joins the broadcast
    per-(query_id, key) candidate set, and thresholds per query id —
    fact work is bounded by the union span regardless of N.

    Requires a rollup with ``slot_total`` (build_mg_rollup emits it)
    so each range's exact n comes from the rollup, not a second scan.
    Completeness: same structural assertion as the single-range path —
    threshold n/den must exceed the (cascade_levels+1)·n/(m+1) error
    budget, per range."""
    from uwheel_datafusion_spark.functions.time import ts_range_pred, ts_to_ms

    assert count_frac_den * (cascade_levels + 1) < m + 1, (
        f"threshold n/{count_frac_den} must exceed the MG error budget "
        f"{cascade_levels + 1}·n/{m + 1}"
    )
    assert "slot_total" in rollup.columns, (
        "batched verified heavy hitters need a slot_total-bearing rollup "
        "(build_mg_rollup emits it); use range_heavy_hitters_verified "
        "per range for totals-less rollups"
    )
    if not ranges:
        return rollup.sparkSession.createDataFrame(
            [], "query_id int, key long, cnt long"
        )
    for s, e in ranges:
        # exact-n contract: each range's n comes from rollup slot_total
        # over [s, e) while the verify counts raw rows over the same raw
        # [s, e) — the two agree only on slot-aligned ranges (same
        # alignment contract as the batch-quantile docstring).
        assert s % slot_ms == 0 and e % slot_ms == 0, (
            f"range [{s}, {e}) must be aligned to slot_ms={slot_ms}: "
            "rollup-derived n and the raw verify count disagree on "
            "partial slots, breaking candidate completeness"
        )
    tagged, _qids = _tag_rollup_with_queries(rollup, ranges, slot_ms)
    # per-query exact n and total error bound, both from the rollup:
    # slot_total/bound are per-slot scalars replicated per key row, so
    # de-dup on (query_id, bucket_ms) before summing
    per_q = (
        tagged.select("query_id", "bucket_ms", "bound", "slot_total")
        .distinct()
        .groupBy("query_id")
        .agg(
            F.sum("slot_total").alias("_n"),
            F.sum("bound").alias("_total_bound"),
        )
    )
    # candidates: served + Σ bounds ≥ n/den (provably complete above
    # the error budget — same upper bound as range_hh_candidates)
    served = tagged.groupBy("query_id", "key").agg(
        F.sum("cnt").alias("served")
    )
    cands = (
        served.join(per_q, "query_id")
        .filter(
            (F.col("served") + F.col("_total_bound")) * count_frac_den
            >= F.col("_n")
        )
        .select("query_id", "key")
    )
    # ONE verify scan over the union span, block-tagged per query id
    lo = min(s for s, _ in ranges)
    hi = max(e for _, e in ranges)
    block_ms = slot_ms * _BLOCK_SLOTS
    rdf = _blocked_runs_df(fact.sparkSession, ranges, block_ms)
    rows = fact.filter(ts_range_pred(fact, ts_col, lo, hi)).select(
        ts_to_ms(F.col(ts_col)).alias("_ms"), key.alias("key")
    )
    tagged_rows = _tag_by_block(rows, rdf, F.col("_ms"), block_ms)
    exact = (
        tagged_rows.join(F.broadcast(cands), ["query_id", "key"], "inner")
        .groupBy("query_id", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(per_q.select("query_id", "_n"), "query_id")
        .filter(F.col("cnt") * count_frac_den >= F.col("_n"))
        .select("query_id", "key", "cnt")
    )
    return exact


def range_m4_batch_df(
    rollup: DataFrame,
    ranges: "list[tuple[int, int]]",
    n_pixels: int,
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N M4 downsample queries (dashboard panels) in ONE job from the
    OHLC rollup: per input range the error-free per-pixel candles,
    ``(query_id, px_ms, open, high, low, close, cnt)`` ordered by
    (query_id, px_ms). Pixel geometry is per-query (each range gets
    its own slot-quantized width, same contract as m4_downsample_df)
    and joins on via a broadcast ``(query_id, q_s, q_px)`` frame after
    the block tag — still one job, rollup cells only. An empty range
    contributes no rows (a chart with no pixels), unlike the scalar
    batch families' null row."""
    assert n_pixels >= 1
    tagged, _qids = _tag_rollup_with_queries(rollup, ranges, slot_ms)
    geo = [
        (qid, s, stitch.pixel_width(e - s, n_pixels, slot_ms))
        for qid, (s, e) in enumerate(ranges)
    ]
    gdf = rollup.sparkSession.createDataFrame(
        geo, "query_id int, q_s long, q_px long"
    )
    j = tagged.join(F.broadcast(gdf), "query_id")
    return stitch.pixel_candles(
        OHLC, j, ["query_id"], F.col("q_s"), F.col("q_px")
    ).orderBy("query_id", "px_ms")


def _probe_join(rollup: DataFrame, probes: "list[tuple]"):
    """Keyed rollup rows tagged with the ids of the ``(key, start_ms,
    end_ms)`` probes covering them, plus the bare query_id frame for
    left-join null semantics. The broadcast ``(query_id, pkey, run_s,
    run_e)`` probe frame is key-typed from the rollup's ``grp`` column
    (the keyed_wheel.query_rollup_batch_df pattern: key EQUALITY is
    selective, so a plain hash join replaces the block trick)."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = rollup.sparkSession
    key_type = rollup.schema["grp"].dataType
    schema = StructType(
        [
            StructField("query_id", IntegerType()),
            StructField("pkey", key_type),
            StructField("run_s", LongType()),
            StructField("run_e", LongType()),
        ]
    )
    pdf = spark.createDataFrame(
        [(i, k, s, e) for i, (k, s, e) in enumerate(probes)], schema
    )
    joined = rollup.join(
        F.broadcast(pdf),
        (rollup["grp"] == pdf["pkey"])
        & (rollup["bucket_ms"] >= pdf["run_s"])
        & (rollup["bucket_ms"] < pdf["run_e"]),
    )
    return joined, pdf.select("query_id")


def keyed_range_quantile_batch_df(
    rollup: DataFrame,
    probes: "list[tuple]",
    q: float,
    bin_width: float = DEFAULT_BIN_WIDTH,
) -> DataFrame:
    """N keyed quantile probes ``(key, start_ms, end_ms)`` in ONE job
    from the keyed histogram rollup (build_keyed_histogram_rollup):
    ``(query_id, approx_quantile)`` per probe in input order, null for
    probes with no data — the keyed twin of range_quantile_batch_df.
    Join on key equality + bucket containment (broadcast probes),
    merge bins per (query_id, bin), one packed CDF walk per query."""
    joined, qids = _probe_join(rollup, probes)
    bins = joined.groupBy("query_id", "bin").agg(F.sum("cnt").alias("cnt"))
    packed = bins.groupBy("query_id").agg(
        F.sort_array(F.collect_list(F.struct("bin", "cnt"))).alias("bc"),
        F.sum("cnt").alias("total"),
    )
    walk = f"""
        aggregate(
            bc,
            struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS BIGINT) AS b),
            (acc, x) -> struct(
                acc.cum + x.cnt,
                CASE WHEN acc.b IS NULL
                          AND (acc.cum + x.cnt) >= {q} * total
                     THEN x.bin ELSE acc.b END),
            acc -> acc.b)
    """
    per_q = packed.select(
        "query_id",
        ((F.expr(walk) + F.lit(0.5)) * F.lit(bin_width)).alias(
            "approx_quantile"
        ),
    )
    return qids.join(per_q, "query_id", "left").orderBy("query_id")


def keyed_range_ohlc_batch_df(
    rollup: DataFrame, probes: "list[tuple]"
) -> DataFrame:
    """N keyed candlestick probes ``(key, start_ms, end_ms)`` in ONE
    job from the keyed OHLC rollup (build_keyed_ohlc_rollup):
    ``(query_id, open, high, low, close, cnt)`` per probe in input
    order, nulls/0 for empty probes — the keyed twin of
    range_ohlc_batch_df with the same associative (ts, value)-keyed
    candle fold per query id."""
    return stitch.per_query(OHLC, *_probe_join(rollup, probes))


def keyed_range_twa_batch_df(
    rollup: DataFrame, probes: "list[tuple]"
) -> DataFrame:
    """N keyed TWA probes ``(key, start_ms, end_ms)`` in ONE job from
    the keyed TWA rollup (build_keyed_twa_rollup): ``(query_id, twa,
    cnt)`` per probe in input order, null/0 for empty probes. The
    ordered boundary stitch folds per query_id — a probe only ever
    covers ONE series, so the per-query fold never crosses series."""
    return stitch.per_query(TWA, *_probe_join(rollup, probes))


def keyed_range_increase_batch_df(
    rollup: DataFrame, probes: "list[tuple]"
) -> DataFrame:
    """N keyed counter increase/rate probes ``(key, start_ms, end_ms)``
    in ONE job from the keyed counter rollup: ``(query_id, increase,
    rate_per_sec, cnt)`` per probe in input order (reset-aware seams
    fold per query_id — one series per probe)."""
    return stitch.per_query(COUNTER, *_probe_join(rollup, probes))


def keyed_range_m4_batch_df(
    rollup: DataFrame,
    probes: "list[tuple]",
    n_pixels: int,
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """N per-series M4 panels ``(key, start_ms, end_ms)`` in ONE job
    from the keyed OHLC rollup: ``(query_id, px_ms, open, high, low,
    close, cnt)`` ordered by (query_id, px_ms) — the keyed twin of
    range_m4_batch_df. Pixel geometry is computed IN-PLAN from each
    probe's own (run_s, run_e) span (slot-quantized, same contract as
    m4_downsample_df); empty probes emit no pixels."""
    assert n_pixels >= 1
    joined, _qids = _probe_join(rollup, probes)
    span = F.col("run_e") - F.col("run_s")
    px0 = F.floor((span + F.lit(n_pixels - 1)) / F.lit(n_pixels)).cast("long")
    px_w = (
        F.floor((px0 + F.lit(slot_ms - 1)) / F.lit(slot_ms)) * F.lit(slot_ms)
    ).cast("long")
    return stitch.pixel_candles(
        OHLC, joined, ["query_id"], F.col("run_s"), px_w
    ).orderBy("query_id", "px_ms")
