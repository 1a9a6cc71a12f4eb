"""Time-weighted average — the boundary-stitching aggregator family.

TimescaleDB's ``time_weight('LOCF', ts, value)`` integrates the
last-observation-carried-forward step function over irregular samples.
Unlike sum/min/max (plain monoid) and unlike distinct/quantile (set or
histogram partial), the TWA partial must remember its TEMPORAL EDGES:
merging two buckets adds the area of the gap BETWEEN them
(``last_value₁ × (first_ts₂ − last_ts₁)``). The partial is

    (bucket_ms, first_ts_ms, first_v, last_ts_ms, last_v,
     area  — Σ v_i · (ts_{i+1} − ts_i) inside the bucket, exact,
     cnt)

and the ordered combine

    area₁₂ = area₁ + area₂ + vm(last_v₁) · (first_ts₂ − last_ts₁)
    first₁₂ = first₁;  last₁₂ = last₂

is associative over time-ordered sequences, so the A4 cascade (day
from minute) is EXACTLY the direct day computation — every pair of
time-consecutive samples contributes its segment exactly once.

Determinism policy: segment areas are ``round(v·1e6)`` micros ×
Δt_ms, summed as DECIMAL(38,0) (exact integers; a DOUBLE sum would be
partitioning-order-dependent), lowered to double once at the end —
the same discipline as functions.quant, extended to products. Sample
order within a bucket is (ts, value); duplicate timestamps contribute
zero-width segments, and the degenerate "all samples at one ts" case
lowers to the first value (both pinned in the oracle).

Scale shape: build = one window (partitioned by bucket — parallel) +
one groupBy; rollup rows = occupied slots; cascade/serving are
window+agg over SLOT rows only (≤ horizon/slot), never fact rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.quant import value_to_micros
from uwheel_datafusion_spark.functions.time import MINUTE_MS
from uwheel_datafusion_spark.operators import stitch


def _seam(prev_v, prev_ts, _cur_v, cur_ts):
    """LOCF segment ``vm(prev_v) × (cur_ts − prev_ts)`` between two
    consecutive samples — inside a slot and across partials alike."""
    return value_to_micros(prev_v).cast(stitch.DEC) * (
        cur_ts - prev_ts
    ).cast(stitch.DEC)


def _partial(rows: DataFrame, group_cols: list) -> DataFrame:
    return stitch.edge_partial(rows, group_cols, "value", "v", _seam, "area")


def _combine(parts: DataFrame, group_cols: list) -> DataFrame:
    return stitch.ordered_edge_combine(parts, group_cols, "v", _seam, "area")


def _lower() -> list:
    """area(micros·ms) → double TWA; all-one-ts buckets lower to the
    first value (zero-duration integral)."""
    dur = F.col("last_ts_ms") - F.col("first_ts_ms")
    return [
        F.when(dur == 0, F.col("first_v")).otherwise(
            F.col("area").cast("double") / F.lit(1e6) / dur.cast("double")
        ).alias("twa")
    ]


def build_twa_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    watermark_ms: int,
    advance_to_ms: int,
    slot_ms: int = MINUTE_MS,
    cache: bool = True,
) -> DataFrame:
    """TWA partial ``(bucket_ms, first/last edges, area, cnt)``. One
    cached partition: the rollup is tiny regardless of fact size; a
    range probe should be a single task (cf. WheelIndex build)."""
    rollup = stitch.build(TWA, df, ts_col, value_col, None, watermark_ms,
                          advance_to_ms, slot_ms)
    return rollup.coalesce(1).cache() if cache else rollup


def cascade_twa(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """Coarse-grain partials from fine ones (A4) — exactly the direct
    coarse build (segment-once invariant)."""
    return stitch.cascade(TWA, rollup, slot_ms, [])


def grouped_twa_df(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """Per-coarse-bucket time-weighted average
    ``(bucket_ms, twa double, cnt)``."""
    return stitch.grouped(TWA, rollup, slot_ms, [])


def range_twa_df(rollup: DataFrame, start_ms: int, end_ms: int) -> DataFrame:
    """TWA over the bucket-aligned ``[start, end)``: combine covered
    slots in bucket order. 1-row ``(twa double, cnt)``; null/0 when the
    range has no samples. Integration is sample-extent-based (first to
    last observation inside the range — TimescaleDB semantics)."""
    return stitch.range_df(TWA, rollup, start_ms, end_ms)


def build_keyed_twa_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    watermark_ms: int,
    advance_to_ms: int,
    slot_ms: int = MINUTE_MS,
    cache: bool = True,
) -> DataFrame:
    """Keyed (per-series) TWA partial ``(grp, bucket_ms, first/last
    edges, area, cnt)`` — TimescaleDB's per-series ``time_weight``
    (one ``time_weight(...) GROUP BY series`` cagg): every series
    shares ONE build shuffle (the keyed_wheel pattern); the LOCF
    segments integrate strictly WITHIN a series — no cross-series
    seams. NOT coalesced to one partition: keyed rollups scale with
    key cardinality × slots."""
    rollup = stitch.build(TWA, df, ts_col, value_col, key_col,
                          watermark_ms, advance_to_ms, slot_ms)
    return rollup.cache() if cache else rollup


def cascade_keyed_twa(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """A4 per series: the ordered boundary-stitch runs PARTITIONED BY
    the series key — each series' seams fold independently in its own
    partition (one hash shuffle, collect-free at any cardinality)."""
    return stitch.cascade(TWA, rollup, slot_ms, ["grp"])


def keyed_grouped_twa_df(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """Per-(series, coarse bucket) TWA ``(grp, bucket_ms, twa, cnt)``."""
    return stitch.grouped(TWA, rollup, slot_ms, ["grp"])


TWA = stitch.Family(
    name="twa",
    partial=_partial,
    combine=_combine,
    lower=_lower,
    roles=(("TWA", "twa"), ("CNT", "cnt")),
    build=build_twa_rollup,
    build_keyed=build_keyed_twa_rollup,
)
