"""Streaming maintenance for the boundary-stitching families (TWA /
counter) — the one aggregator class whose partial CANNOT be maintained
by Spark's built-in windowed aggregation.

Why not ``groupBy(window)`` like every other wheel: the TWA partial
integrates v·Δt over the TIME-ORDERED samples of a bucket, and the
counter partial folds reset-aware deltas over the same ordering. Both
are order-sensitive folds: two update-mode partials of the SAME bucket
arriving in different micro-batches can interleave in event time, and
no associative merge of the two partials can recover the interleaved
segments. (The batch cascade is safe because slot partials never
interleave — combine only stitches the seam BETWEEN slots.)

The correct streaming treatment is the custom-stateful extension point
(``applyInPandasWithState`` — the same machinery as
streaming/stateful.StreamingSessionizer): state per (series,) bucket
buffers that bucket's raw ``(ts, value)`` samples while the bucket is
open, and when the event-time watermark passes the bucket's end the
EXACT partial is computed from the fully ordered buffer and emitted
once. Emitted partials are final — the sink appends them to the
rollup; serving (range_twa_df / grouped_increase_df / the batch and
keyed batch twins) is identical to the batch-built rollup.

State cost is honest and bounded: raw samples of OPEN buckets only,
i.e. rows within (slot width + watermark delay) × ingest rate —
the unavoidable price of an exact order-sensitive integral (Spark's
own session windows buffer the same way). At 100 TB the state store
shards by the group key across executors.

Determinism: samples sort by (epoch-ms, value) — exactly the batch
build's window order — and areas/steps use the same round(v·1e6)
micros integers, so a finalized streaming partial is BIT-IDENTICAL to
the batch rollup's row for that bucket (pinned in test_streaming.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from uwheel_datafusion_spark.functions.quant import py_value_to_micros
from uwheel_datafusion_spark.functions.time import (
    MINUTE_MS,
    ensure_event_time,
)
from uwheel_datafusion_spark.streaming.wheel_stream import _StreamQuery

#: buffered raw samples of one open bucket
STATE_SCHEMA = StructType(
    [
        StructField("ms", ArrayType(LongType())),
        StructField("v", ArrayType(DoubleType())),
    ]
)


def _sorted_samples(state_row, new_ms, new_v):
    ms = (list(state_row[0]) if state_row is not None else []) + new_ms
    v = (list(state_row[1]) if state_row is not None else []) + new_v
    pairs = sorted(zip(ms, v))
    return [p[0] for p in pairs], [p[1] for p in pairs]


def _twa_partial(ms, v):
    """Exact TWA partial from the ordered samples — the streaming twin
    of build_twa_rollup's window+agg (same micros×ms integer areas)."""
    area = 0
    for i in range(1, len(ms)):
        area += py_value_to_micros(v[i - 1]) * (ms[i] - ms[i - 1])
    return {
        "first_ts_ms": ms[0],
        "first_v": v[0],
        "last_ts_ms": ms[-1],
        "last_v": v[-1],
        "area": area,
        "cnt": len(ms),
    }


def _counter_partial(ms, v):
    """Exact counter partial (reset-aware steps in micros)."""
    vm = [py_value_to_micros(x) for x in v]
    inc = 0
    for i in range(1, len(vm)):
        inc += vm[i] - vm[i - 1] if vm[i] >= vm[i - 1] else vm[i]
    return {
        "first_ts_ms": ms[0],
        "first_vm": vm[0],
        "last_ts_ms": ms[-1],
        "last_vm": vm[-1],
        "inc": inc,
        "cnt": len(ms),
    }


_FINALIZE = {"twa": _twa_partial, "counter": _counter_partial}

_VALUE_FIELDS = {
    "twa": [
        StructField("first_ts_ms", LongType()),
        StructField("first_v", DoubleType()),
        StructField("last_ts_ms", LongType()),
        StructField("last_v", DoubleType()),
        StructField("area", LongType()),
        StructField("cnt", LongType()),
    ],
    "counter": [
        StructField("first_ts_ms", LongType()),
        StructField("first_vm", LongType()),
        StructField("last_ts_ms", LongType()),
        StructField("last_vm", LongType()),
        StructField("inc", LongType()),
        StructField("cnt", LongType()),
    ],
}


def _make_finalizer(family: str, slot_ms: int, keyed: bool):
    finalize = _FINALIZE[family]

    def fold(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        bucket = int(key[-1])

        def out_row(part: dict) -> dict:
            row = {"bucket_ms": bucket, **part}
            if keyed:
                row["grp"] = key[0]
            return row

        if state.hasTimedOut:
            ms, v = _sorted_samples(state.get, [], [])
            state.remove()
            yield pd.DataFrame([out_row(finalize(ms, v))])
            return

        new_ms: list[int] = []
        new_v: list[float] = []
        for pdf in pdfs:
            new_ms.extend(int(x) for x in pdf["_ms"])
            new_v.extend(float(x) for x in pdf["_v"])
        ms, v = _sorted_samples(state.get if state.exists else None,
                                new_ms, new_v)
        end_ms = bucket + slot_ms
        if end_ms <= state.getCurrentWatermarkMs():
            # watermark already past this bucket's end — finalize now
            # (a timeout timestamp in the past is rejected by Spark)
            if state.exists:
                state.remove()
            yield pd.DataFrame([out_row(finalize(ms, v))])
            return
        state.update((ms, v))
        state.setTimeoutTimestamp(end_ms)
        return

    return fold


class StreamingStitchWheel(_StreamQuery):
    """Maintain the TWA or counter minute rollup from a stream —
    unkeyed, or per-series with ``key_col`` (the streaming twin of
    build_[keyed_]twa_rollup / build_[keyed_]counter_rollup).

    Buckets are finalized EXACTLY ONCE when the event-time watermark
    passes their end; ``slots``/``snapshot_rollup`` then hold partials
    bit-identical to the batch build's rows for those buckets. Feed a
    sentinel event past the horizon (or use a real unbounded stream)
    to flush the final buckets — with ``processAllAvailable`` the
    watermark stops at max(event) − delay, which leaves the last
    bucket open by design."""

    def __init__(
        self,
        stream_df: DataFrame,
        ts_col: str,
        value_col: str,
        family: str = "twa",
        key_col: str | None = None,
        slot_ms: int = MINUTE_MS,
        watermark_delay: str = "0 seconds",
    ) -> None:
        assert family in _FINALIZE, f"family must be one of {set(_FINALIZE)}"
        # the finalizer closure references this package by module name;
        # executor Python workers don't inherit the driver's sys.path
        # (the multimodal mapInPandas kernels hit the same boundary)
        from uwheel_datafusion_spark.shipping import ensure_package_shipped

        ensure_package_shipped(stream_df.sparkSession)
        self.family = family
        self.key_col = key_col
        #: bucket_ms (or (grp, bucket_ms)) → finalized partial dict
        self.slots: dict = {}
        keyed = key_col is not None
        out_fields = [StructField("bucket_ms", LongType())]
        group_cols = []
        if keyed:
            out_fields.insert(0, StructField("grp", StringType()))
            group_cols.append(F.col(key_col).cast("string").alias("grp"))
        self._out_schema = StructType(out_fields + _VALUE_FIELDS[family])
        prepared = (
            ensure_event_time(stream_df, ts_col)
            .withWatermark(ts_col, watermark_delay)
            .select(
                *group_cols,
                F.col(ts_col).alias("ts"),
                (F.unix_micros(F.col(ts_col)) / 1000)
                .cast("long")
                .alias("_ms"),
                F.col(value_col).cast("double").alias("_v"),
            )
            .withColumn(
                "bucket_ms",
                (F.col("_ms") - F.col("_ms") % F.lit(slot_ms)),
            )
        )
        gcols = (["grp", "bucket_ms"] if keyed else ["bucket_ms"])
        self._finalized = prepared.groupBy(*gcols).applyInPandasWithState(
            _make_finalizer(family, slot_ms, keyed),
            outputStructType=self._out_schema,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    def start(self, checkpoint_dir: str, table_dir: str | None = None):
        """Without ``table_dir``: finalized partials land in the
        driver-side ``slots`` dict (testing/small scale). With
        ``table_dir``: partials stream into a dt-partitioned parquet
        TABLE via Spark's built-in file sink — finalized buckets are
        APPEND-ONLY (each emitted exactly once by the stateful
        operator), so no MERGE is needed and the sink's
        ``_spark_metadata`` commit log gives exactly-once across
        crash/restart for free (batch reads consult the log and skip
        orphan files from failed epochs). No driver memory at any
        scale; serve with :meth:`table_rollup` (day-pruned by ``dt``)."""
        if table_dir is not None:
            out = self._finalized.withColumn(
                "dt", F.to_date(F.timestamp_millis(F.col("bucket_ms")))
            )
            self._query = (
                out.writeStream.outputMode("append")
                .format("parquet")
                .option("checkpointLocation", checkpoint_dir)
                .option("path", table_dir)
                .partitionBy("dt")
                .start()
            )
            return self._query
        slots = self.slots
        keyed = self.key_col is not None

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            # buckets finalize exactly once; a crash-replayed epoch
            # re-inserts identical values (idempotent)
            for r in batch_df.collect():
                d = r.asDict()
                k = (
                    (d.pop("grp"), d.pop("bucket_ms"))
                    if keyed
                    else d.pop("bucket_ms")
                )
                slots[k] = d

        self._query = (
            self._finalized.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink)
            .start()
        )
        return self._query

    def snapshot_rollup(self, spark) -> DataFrame:
        """Finalized partials as the SAME frame the batch builder
        produces (area/inc as DECIMAL(38,0)) — ready for range_twa_df /
        grouped_increase_df / the batch serving twins / save_rollup."""
        acc = "area" if self.family == "twa" else "inc"
        keyed = self.key_col is not None
        rows = []
        for k, d in sorted(self.slots.items()):
            base = (
                {"grp": k[0], "bucket_ms": k[1]}
                if keyed
                else {"bucket_ms": k}
            )
            rows.append({**base, **d})
        df = spark.createDataFrame(rows, self._out_schema)
        return df.withColumn(acc, F.col(acc).cast("decimal(38,0)"))

    def table_rollup(self, spark, table_dir: str) -> DataFrame:
        """The table-sink rollup as the same serving-ready frame
        :meth:`snapshot_rollup` returns (area/inc as DECIMAL(38,0)),
        read through the file sink's ``_spark_metadata`` log (only
        committed epochs are visible). ``dt`` stays on the frame for
        partition pruning; the serving twins ignore extra columns."""
        acc = "area" if self.family == "twa" else "inc"
        df = spark.read.parquet(table_dir)
        return df.withColumn(acc, F.col(acc).cast("decimal(38,0)"))


def stream_stitch_rollup_parity_frame(wheel, spark, horizon_end_ms=None):
    """Snapshot limited to in-horizon buckets (drops the sentinel
    bucket used to flush the watermark past the horizon)."""
    df = wheel.snapshot_rollup(spark)
    if horizon_end_ms is not None:
        df = df.filter(F.col("bucket_ms") < horizon_end_ms)
    return df
