"""first/last/OHLC aggregator — the time-series candlestick family.

TimescaleDB's ``first(value, time)`` / ``last(value, time)`` and
continuous-aggregate OHLC (open-high-low-close) are the canonical
"aggregator whose partial carries its own timestamp": open/close do
not combine by sum or min — the partial must remember WHEN its value
occurred so coarser buckets can pick the earliest/latest (SURVEY §1.3
lift/combine/lower, the same contract as the wheel's 'all' partial).

Per-slot partial: ``(bucket_ms, open_ts_ms, open, high, low,
close_ts_ms, close, cnt)``.

- **lift**: a row lifts to (ts, v, v, v, ts, v, 1);
- **combine**: open of the merge = open of the partial with the
  smaller ``open_ts_ms`` (tie → smaller value, fully deterministic);
  close symmetric with larger ts; high/low/cnt are max/min/sum — all
  associative + commutative, so the A4 cascade (day from minute by
  re-aggregation) is exactly equal to a direct coarse build;
- **lower**: the candlestick columns themselves.

Determinism note: duplicate timestamps inside a bucket are real (ms
resolution), so open/close are defined as "min value among rows at the
earliest ts" (resp. max value at the latest ts) — expressible
identically in Spark (`min_by`/`max_by` over a (ts, value) struct) and
in the DuckDB oracle (window on (ts, value) ordering), which is what
makes the family hash-gateable.

Scale shape: one scan (watermark pushed to parquet stats) + one
shuffle; rollup rows = occupied slots; range/grouped serving touches
only covered slots (day-partition prunable via wheel._bucket_range_pred
on a persisted rollup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.time import MINUTE_MS
from uwheel_datafusion_spark.operators import stitch


def _partial(rows: DataFrame, group_cols: list) -> DataFrame:
    """Lift + first combine in a single aggregation: ``min_by/max_by``
    over a ``struct(ts, value)`` key implements the deterministic
    tie-break (earliest ts, then smallest value for open; latest ts,
    then largest value for close) — no window, no second pass. The key
    is projected once below the aggregate, not rebuilt per function."""
    rows = rows.withColumn(
        "key", F.struct(F.col("ts_ms").alias("t"), F.col("value").alias("v"))
    )
    key = F.col("key")
    return rows.groupBy(*group_cols, "bucket_ms").agg(
        F.min_by(F.col("ts_ms"), key).alias("open_ts_ms"),
        F.min_by(F.col("value"), key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by(F.col("ts_ms"), key).alias("close_ts_ms"),
        F.max_by(F.col("value"), key).alias("close"),
        F.count(F.lit(1)).alias("cnt"),
    )


def _combine(parts: DataFrame, group_cols: list) -> DataFrame:
    """Open from the earliest partial open, close from the latest
    partial close, on the same (ts, value) key as the build; order-free,
    so ``group_cols`` may be any column expressions."""
    okey = F.struct(
        F.col("open_ts_ms").alias("t"), F.col("open").alias("v")
    )
    ckey = F.struct(
        F.col("close_ts_ms").alias("t"), F.col("close").alias("v")
    )
    return parts.groupBy(*group_cols).agg(
        F.min_by(F.col("open_ts_ms"), okey).alias("open_ts_ms"),
        F.min_by(F.col("open"), okey).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by(F.col("close_ts_ms"), ckey).alias("close_ts_ms"),
        F.max_by(F.col("close"), ckey).alias("close"),
        F.sum("cnt").alias("cnt"),
    )


def _lower() -> list:
    return [F.col("open"), F.col("high"), F.col("low"), F.col("close")]


def build_ohlc_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    watermark_ms: int,
    advance_to_ms: int,
    slot_ms: int = MINUTE_MS,
    cache: bool = True,
) -> DataFrame:
    """Candle partial ``(bucket_ms, open_ts_ms, open, high, low,
    close_ts_ms, close, cnt)``: one scan, one shuffle on the bucket
    key. One cached partition: the rollup is tiny regardless of fact
    size; a range probe should be a single task (cf. WheelIndex
    build)."""
    rollup = stitch.build(OHLC, df, ts_col, value_col, None, watermark_ms,
                          advance_to_ms, slot_ms)
    return rollup.coalesce(1).cache() if cache else rollup


def cascade_ohlc(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """A4 tick/rotate: coarse candles combine fine partials — open from
    the earliest fine open, close from the latest fine close. Exactly
    equal to a direct coarse build (combine is associative; ties break
    on the same (ts, value) key at every level)."""
    return stitch.cascade(OHLC, rollup, slot_ms, [])


def m4_downsample_df(
    rollup: DataFrame,
    start_ms: int,
    end_ms: int,
    n_pixels: int,
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB'14 — the
    standard error-free line-chart downsampler: per pixel column keep
    first/last/min/max, which is exactly an OHLC candle) served from
    the rollup: re-combine slot partials into pixel buckets — the
    dashboard never touches the fact table.

    Pixel width is ``(end−start)/n_pixels`` rounded UP to a multiple
    of the rollup grain (slot-quantized, like detect_gaps_df: a
    non-multiple width would split slots across pixels, which a
    partial can't express). The trailing pixel may therefore cover
    less time; the produced buckets are exact M4 for the quantized
    width. Output: one row per non-empty pixel,
    ``(px_ms, open, high, low, close, cnt)``."""
    return stitch.m4(OHLC, rollup, start_ms, end_ms, n_pixels, slot_ms, [])


def m4_downsample_keyed_df(
    rollup: DataFrame,
    start_ms: int,
    end_ms: int,
    n_pixels: int,
    slot_ms: int = MINUTE_MS,
) -> DataFrame:
    """Per-series M4: one pixel column per (series, pixel) — the
    multi-line dashboard shape (every symbol's chart from ONE query).
    Same quantization contract as :func:`m4_downsample_df`; the
    re-combine groups by ``(grp, px_ms)`` so the single shuffle is
    over rollup rows (occupied slots × series), never fact rows.
    Output: ``(grp, px_ms, open, high, low, close, cnt)``."""
    return stitch.m4(
        OHLC, rollup, start_ms, end_ms, n_pixels, slot_ms, ["grp"]
    )


def range_ohlc_df(rollup: DataFrame, start_ms: int, end_ms: int) -> DataFrame:
    """Candlestick of the bucket-aligned ``[start, end)``: combine the
    covered slots' partials (A5 combine+lower). 1-row; nulls/0 for an
    empty range."""
    return stitch.range_df(OHLC, rollup, start_ms, end_ms)


def build_keyed_ohlc_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    watermark_ms: int,
    advance_to_ms: int,
    slot_ms: int = MINUTE_MS,
    cache: bool = True,
) -> DataFrame:
    """Keyed (per-series) candle partial ``(grp, bucket_ms, open_ts_ms,
    open, high, low, close_ts_ms, close, cnt)`` — one candle wheel per
    series sharing a single build shuffle (the keyed_wheel pattern
    applied to the OHLC family; per-symbol candlesticks are the
    canonical multi-series workload). NOT coalesced: keyed rollups
    scale with key cardinality × slots."""
    rollup = stitch.build(OHLC, df, ts_col, value_col, key_col,
                          watermark_ms, advance_to_ms, slot_ms)
    return rollup.cache() if cache else rollup


def cascade_keyed_ohlc(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """A4 tick/rotate per series: same associative combine as
    cascade_ohlc, grouped by (grp, coarse bucket)."""
    return stitch.cascade(OHLC, rollup, slot_ms, ["grp"])


OHLC = stitch.Family(
    name="ohlc",
    partial=_partial,
    combine=_combine,
    lower=_lower,
    roles=(("OPEN", "open"), ("HIGH", "high"), ("LOW", "low"),
           ("CLOSE", "close"), ("CNT", "cnt")),
    build=build_ohlc_rollup,
    build_keyed=build_keyed_ohlc_rollup,
)
