"""Counter increase / rate — monotonic-counter aggregation with reset
handling (PromQL ``increase()``/``rate()``, TimescaleDB counter_agg).

A counter sample sequence increases monotonically except at RESETS
(process restart → value drops toward 0). The increase over a range is

    Σ over consecutive samples:  v₁ ≥ v₀ ?  v₁ − v₀  :  v₁
                                 (a drop means the counter restarted;
                                  the post-reset value is all growth)

Like TWA (operators/twa), the partial must carry its temporal edges so
merging buckets can account for the seam pair: per slot we keep
``(first_ts, first_v, last_ts, last_v, inc — exact increase inside the
slot, cnt)`` and the ordered combine adds the seam step
``first_v₂ ≥ last_v₁ ? first_v₂ − last_v₁ : first_v₂`` — associative
over time-ordered sequences, so the cascade equals the direct coarse
computation exactly (every consecutive pair contributes once).

Determinism: values quantized to micros (round(v·1e6) BIGINT), per-step
increments are integer, summed as DECIMAL(38,0); ordering ties on
(ts, value) like the other ts-carrying families. ``rate`` lowers as
increase / elapsed-seconds over the observed extent.

Scale shape: identical to TWA — one bucket-partitioned window + one
groupBy to build; cascade/serving touch slot rows only.

Streaming note (why there is NO StreamingCounterWheel, deliberately):
the combine above is associative over TIME-ORDERED partials only —
two partials of the SAME slot built from different micro-batches
interleave in event time, and stitching them at one seam undercounts
any reset that happened between interleaved samples. The families with
order-free merges (sum/count/min/max, HLL, bottom-k, histogram, OHLC)
stream via declarative state; counter/TWA instead extend by appending
closed slots (`WheelIndex.extend`-style batch ingest), which is how
PromQL-class TSDBs ingest counters too (append-only per-series order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.quant import value_to_micros
from uwheel_datafusion_spark.functions.time import MINUTE_MS
from uwheel_datafusion_spark.operators import stitch


def _step(prev_vm, _prev_ts, cur_vm, _cur_ts):
    """Reset-aware per-step increase in micros (exact integers), inside
    a slot and across partials alike. A null predecessor (first sample
    of a bucket / first partial of a group) must yield NULL — a naive
    ``when(cur >= prev)`` would fall through to the reset branch and
    count the first value as growth (caught by the cascade-vs-direct
    differential)."""
    return (
        F.when(prev_vm.isNull(), F.lit(None).cast("long"))
        .when(cur_vm >= prev_vm, cur_vm - prev_vm)
        .otherwise(cur_vm)
    )


def _partial(rows: DataFrame, group_cols: list) -> DataFrame:
    rows = rows.withColumn("vm", value_to_micros(F.col("value")))
    return stitch.edge_partial(rows, group_cols, "vm", "vm", _step, "inc")


def _combine(parts: DataFrame, group_cols: list) -> DataFrame:
    return stitch.ordered_edge_combine(parts, group_cols, "vm", _step, "inc")


def _lower() -> list:
    """increase (null for an empty group) and rate per second — null
    for zero-duration extents (single observation)."""
    inc = F.col("inc").cast("double") / F.lit(1e6)
    dur_s = (
        F.col("last_ts_ms") - F.col("first_ts_ms")
    ).cast("double") / F.lit(1e3)
    rate = F.when(
        F.col("last_ts_ms") == F.col("first_ts_ms"), F.lit(None).cast("double")
    ).otherwise(inc / dur_s)
    return [
        F.when(F.col("cnt").isNull(), F.lit(None).cast("double"))
        .otherwise(inc)
        .alias("increase"),
        rate.alias("rate_per_sec"),
    ]


def build_counter_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    watermark_ms: int,
    advance_to_ms: int,
    slot_ms: int = MINUTE_MS,
    cache: bool = True,
) -> DataFrame:
    """Counter partial ``(bucket_ms, first/last edges in micros, inc,
    cnt)``. One cached partition: the rollup is tiny regardless of fact
    size; a range probe should be a single task (cf. WheelIndex
    build)."""
    rollup = stitch.build(COUNTER, df, ts_col, value_col, None,
                          watermark_ms, advance_to_ms, slot_ms)
    return rollup.coalesce(1).cache() if cache else rollup


def cascade_counter(rollup: DataFrame, slot_ms: int) -> DataFrame:
    return stitch.cascade(COUNTER, rollup, slot_ms, [])


def grouped_increase_df(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """Per-coarse-bucket ``(bucket_ms, increase, rate_per_sec, cnt)``;
    rate is null for zero-duration extents (single observation)."""
    return stitch.grouped(COUNTER, rollup, slot_ms, [])


def range_increase_df(
    rollup: DataFrame, start_ms: int, end_ms: int
) -> DataFrame:
    """Increase + rate over the bucket-aligned ``[start, end)``; 1-row,
    nulls/0 for an empty range."""
    return stitch.range_df(COUNTER, rollup, start_ms, end_ms)


def build_keyed_counter_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    key_col: str,
    watermark_ms: int,
    advance_to_ms: int,
    slot_ms: int = MINUTE_MS,
    cache: bool = True,
) -> DataFrame:
    """Keyed (per-series) counter partial ``(grp, bucket_ms, first/last
    edges in micros, inc, cnt)`` — PromQL's per-series
    ``increase()``/``rate()`` (every Prometheus counter is a labeled
    series): one shared build shuffle; resets detect strictly WITHIN a
    series. NOT coalesced (scales with cardinality × slots)."""
    rollup = stitch.build(COUNTER, df, ts_col, value_col, key_col,
                          watermark_ms, advance_to_ms, slot_ms)
    return rollup.cache() if cache else rollup


def cascade_keyed_counter(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """A4 per series: reset-aware seams fold PARTITIONED BY the series
    key (one hash shuffle, collect-free at any cardinality)."""
    return stitch.cascade(COUNTER, rollup, slot_ms, ["grp"])


def keyed_grouped_increase_df(rollup: DataFrame, slot_ms: int) -> DataFrame:
    """Per-(series, coarse bucket) ``(grp, bucket_ms, increase,
    rate_per_sec, cnt)``."""
    return stitch.grouped(COUNTER, rollup, slot_ms, ["grp"])


COUNTER = stitch.Family(
    name="counter",
    partial=_partial,
    combine=_combine,
    lower=_lower,
    roles=(("INCREASE", "increase"), ("RATE", "rate_per_sec"),
           ("CNT", "cnt")),
    build=build_counter_rollup,
    build_keyed=build_keyed_counter_rollup,
)
