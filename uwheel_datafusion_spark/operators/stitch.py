"""One build / combine / lower body for the edge-carrying rollup families.

OHLC (operators/ohlc), TWA (operators/twa) and counter increase
(operators/counter) keep per-slot partials that carry their own
timestamps. Each family is written once, as a :class:`Family`
descriptor with four parts:

- ``partial(rows, group_cols)`` — the slot partial aggregation over
  ``(grp?, bucket_ms, ts_ms, value)`` rows, grouped by
  ``group_cols + ["bucket_ms"]``;
- ``combine(parts, group_cols)`` — the fold of partials within each
  group: OHLC's order-free min_by/max_by fold, or
  :func:`ordered_edge_combine` with the family's seam;
- ``lower()`` — the lowered value columns (``cnt`` rides along);
- ``roles`` — the served roles, e.g. ``(("OPEN", "open"), …,
  ("CNT", "cnt"))``: the router's item roles and the batch columns.

Build, cascade, grouped, range, M4 and the per-query batch fold run
once below, with ``group_cols`` ``[]`` (unkeyed) or ``["grp"]``
(keyed): "keyed" is one more grouping column. The public operator
functions of each family are one-line calls into these bodies; they
keep the placement policy (an unkeyed rollup is coalesced into one
cached partition, a keyed one scales with key cardinality and is not).

TWA and counter combine in bucket order by adding a family-specific
SEAM term between consecutive partials (LOCF area for TWA, reset-aware
step for counters). The seam between two partials is the same term as
the step between two consecutive samples inside a slot, so one
function serves the build and the combine, and seam ordering and
empty-group edge cases cannot drift apart between the families."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.time import (
    bucket_ms,
    ts_range_pred,
    ts_to_ms,
)
from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

DEC = "decimal(38,0)"


@dataclass(frozen=True)
class Family:
    """A rollup family: its four parts plus its two public builders
    (which own the placement policy)."""

    name: str
    partial: Callable[[DataFrame, list], DataFrame]
    combine: Callable[[DataFrame, list], DataFrame]
    lower: Callable[[], list]
    roles: tuple
    build: Callable[..., DataFrame]
    build_keyed: Callable[..., DataFrame]


def build(fam: Family, df: DataFrame, ts_col: str, value_col: str,
          key_col: "str | None", watermark_ms: int, advance_to_ms: int,
          slot_ms: int) -> DataFrame:
    """Lift + first combine: one scan, one shuffle on
    ``(grp?, bucket_ms)``."""
    ms = ts_to_ms(F.col(ts_col))
    keys = [] if key_col is None else [F.col(key_col).alias("grp")]
    rows = df.filter(
        ts_range_pred(df, ts_col, watermark_ms, advance_to_ms)
    ).select(
        *keys,
        bucket_ms(ms, slot_ms).alias("bucket_ms"),
        ms.alias("ts_ms"),
        F.col(value_col).cast("double").alias("value"),
    )
    return fam.partial(rows, ["grp"] if keys else [])


def cascade(fam: Family, rollup: DataFrame, slot_ms: int,
            group_cols: list) -> DataFrame:
    """A4 tick/rotate: coarse partials from fine ones, per group —
    exactly the direct coarse build (every combine is associative over
    time-ordered partials)."""
    coarse = F.col("bucket_ms") - F.col("bucket_ms") % F.lit(slot_ms)
    return fam.combine(
        rollup.withColumn("_cb", coarse), [*group_cols, "_cb"]
    ).withColumnRenamed("_cb", "bucket_ms")


def grouped(fam: Family, rollup: DataFrame, slot_ms: int,
            group_cols: list) -> DataFrame:
    """Per-(group, coarse bucket) lowered rows ``(grp?, bucket_ms,
    <lowered>, cnt)``."""
    return cascade(fam, rollup, slot_ms, group_cols).select(
        *group_cols, "bucket_ms", *fam.lower(), "cnt"
    )


def _cnt_or_zero() -> F.Column:
    return F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt")


def range_df(fam: Family, rollup: DataFrame, start_ms: int,
             end_ms: int) -> DataFrame:
    """The bucket-aligned ``[start, end)`` combined over covered slots
    and lowered: 1 row, nulls/0 for an empty range."""
    part = rollup.filter(_bucket_range_pred(rollup, start_ms, end_ms))
    return fam.combine(part, []).select(*fam.lower(), _cnt_or_zero())


def per_query(fam: Family, tagged: DataFrame, qids: DataFrame) -> DataFrame:
    """Batch fold: ``tagged`` rollup rows carry the ``query_id`` whose
    range (or keyed probe) covers them; one combine per query id, then
    a left join back onto every query id so an empty range still emits
    its nulls/0 row, in input order."""
    names = [name for _role, name in fam.roles if name != "cnt"]
    per_q = fam.combine(tagged, ["query_id"]).select(
        "query_id", *fam.lower(), "cnt"
    )
    return (
        qids.join(per_q, "query_id", "left")
        .select("query_id", *names, _cnt_or_zero())
        .orderBy("query_id")
    )


def pixel_width(span_ms: int, n_pixels: int, slot_ms: int) -> int:
    """M4 pixel width: ``span / n_pixels`` rounded UP to a multiple of
    the rollup grain (a non-multiple width would split slots across
    pixels, which a partial cannot express)."""
    assert n_pixels >= 1
    px_ms = max(1, -(-span_ms // n_pixels))  # ceil division
    return -(-px_ms // slot_ms) * slot_ms  # round up to slot multiple


def pixel_candles(fam: Family, parts: DataFrame, group_cols: list,
                  origin: F.Column, width: F.Column) -> DataFrame:
    """M4: re-combine slot partials into pixel buckets of ``width``
    starting at ``origin`` — ``(group…, px_ms, <lowered>, cnt)``, one
    row per non-empty (group, pixel). Takes an order-free combine
    (OHLC's), which groups by any column expression."""
    px = (
        origin
        + F.floor((F.col("bucket_ms") - origin) / width).cast("long") * width
    ).alias("px_ms")
    return fam.combine(parts, [*group_cols, px]).select(
        *group_cols, "px_ms", *fam.lower(), "cnt"
    )


def m4(fam: Family, rollup: DataFrame, start_ms: int, end_ms: int,
       n_pixels: int, slot_ms: int, group_cols: list) -> DataFrame:
    """M4 over ``[start, end)``: pixel width from :func:`pixel_width`;
    the trailing pixel may cover less time."""
    px_ms = pixel_width(end_ms - start_ms, n_pixels, slot_ms)
    part = rollup.filter(_bucket_range_pred(rollup, start_ms, end_ms))
    return pixel_candles(
        fam, part, group_cols, F.lit(start_ms), F.lit(px_ms)
    )


def edge_partial(rows: DataFrame, group_cols: list, edge_col: str,
                 suffix: str, seam, acc_col: str) -> DataFrame:
    """Slot partial ``(group…, bucket_ms, first_ts_ms, first_<s>,
    last_ts_ms, last_<s>, <acc> DECIMAL(38,0), cnt)`` of an edge
    family. ``edge_col`` is the value the partial keeps at its edges;
    the accumulator sums ``seam`` over consecutive samples of a slot in
    (ts, value) order — the same term :func:`ordered_edge_combine`
    adds between partials."""
    w = Window.partitionBy(*group_cols, "bucket_ms").orderBy("ts_ms", "value")
    step = seam(
        F.lag(edge_col).over(w),
        F.lag("ts_ms").over(w),
        F.col(edge_col),
        F.col("ts_ms"),
    ).cast(DEC)
    okey = F.struct(F.col("ts_ms").alias("t"), F.col("value").alias("v"))
    return rows.withColumn("_step", step).groupBy(*group_cols, "bucket_ms").agg(
        F.min_by(F.col("ts_ms"), okey).alias("first_ts_ms"),
        F.min_by(F.col(edge_col), okey).alias(f"first_{suffix}"),
        F.max_by(F.col("ts_ms"), okey).alias("last_ts_ms"),
        F.max_by(F.col(edge_col), okey).alias(f"last_{suffix}"),
        F.coalesce(F.sum("_step"), F.lit(0).cast(DEC)).alias(acc_col),
        F.count(F.lit(1)).alias("cnt"),
    )


def ordered_edge_combine(
    parts: DataFrame,
    group_cols: list,
    val_suffix: str,
    seam,
    acc_col: str,
) -> DataFrame:
    """Fold edge-carrying partials within each group, in bucket order.

    ``seam(prev_last_val, prev_last_ts, cur_first_val, cur_first_ts)``
    returns the inter-partial accumulator term (must be NULL for the
    first partial of a group — lag yields nulls there). Edges fold via
    min_by/max_by on (ts, value) structs — the deterministic tie-break
    every family in this engine uses."""
    first_c, last_c = f"first_{val_suffix}", f"last_{val_suffix}"
    w = Window.partitionBy(*group_cols).orderBy("bucket_ms")
    seam_col = seam(
        F.lag(last_c).over(w),
        F.lag("last_ts_ms").over(w),
        F.col(first_c),
        F.col("first_ts_ms"),
    ).cast(DEC)
    okey = F.struct(
        F.col("first_ts_ms").alias("t"), F.col(first_c).alias("v")
    )
    ckey = F.struct(F.col("last_ts_ms").alias("t"), F.col(last_c).alias("v"))
    zero = F.lit(0).cast(DEC)
    return parts.withColumn("_seam", seam_col).groupBy(*group_cols).agg(
        F.min_by(F.col("first_ts_ms"), okey).alias("first_ts_ms"),
        F.min_by(F.col(first_c), okey).alias(first_c),
        F.max_by(F.col("last_ts_ms"), ckey).alias("last_ts_ms"),
        F.max_by(F.col(last_c), ckey).alias(last_c),
        (
            F.coalesce(F.sum(acc_col), zero) + F.coalesce(F.sum("_seam"), zero)
        ).alias(acc_col),
        F.sum("cnt").alias("cnt"),
    )
