"""Custom stateful streaming operator — per-key sessionization via
``applyInPandasWithState`` (SURVEY §2.9 last row: arbitrary stateful
ops; the Spark-native extension point for operators the built-in
windowed aggregations can't express).

Semantics (mirror of ``operators.windows.session_window_agg`` so batch
and streaming can be differentially tested):

- per key, consecutive events belong to one session while the gap
  between them is < ``gap_ms``; a session closes when the event-time
  watermark passes ``last_event + gap`` (GroupStateTimeout.EventTimeTimeout);
- closed sessions are emitted exactly once with
  ``session_end_ms = last_event_ms + gap_ms`` — identical lowering to
  the batch operator;
- sums use the exact scaled-long policy (int64 micros) so streaming
  results are bit-identical to batch.

Ordering contract: events for one key may arrive out of order *within
a micro-batch* (they are sorted before folding); across micro-batches
an event older than the current open session's span merges into it
when it falls inside ``[start - gap, last + gap)`` — but an event
behind the watermark cannot resurrect an already-emitted session
(standard streaming-sessionization semantics; Spark's built-in
``session_window`` aggregation has the same once-emitted limitation in
append mode).

State layout per key: (start_us, last_us, cnt, sum_micros) — a few
dozen bytes in the state store; scales to millions of concurrent keys
per executor. The Arrow boundary transfers only each micro-batch's
rows for keys present in that batch.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from uwheel_datafusion_spark.functions.quant import (
    QUANT_SCALE,
    py_value_to_micros,
)
from uwheel_datafusion_spark.functions.time import ensure_event_time
from uwheel_datafusion_spark.streaming.wheel_stream import _StreamQuery

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_ms", LongType()),
        StructField("session_end_ms", LongType()),
        StructField("cnt", LongType()),
        StructField("sum_micros", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("cnt", LongType()),
        StructField("sum_micros", LongType()),
    ]
)


def _make_sessionizer(gap_ms: int):
    gap_us = gap_ms * 1000

    def sessionize(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        def closed_row(start_us: int, last_us: int, cnt: int, sm: int) -> dict:
            return {
                "user_id": int(key[0]),
                "session_start_ms": start_us // 1000,
                "session_end_ms": last_us // 1000 + gap_ms,
                "cnt": int(cnt),
                "sum_micros": int(sm),
            }

        if state.hasTimedOut:
            start_us, last_us, cnt, sm = state.get
            state.remove()
            yield pd.DataFrame([closed_row(start_us, last_us, cnt, sm)])
            return

        events: list[tuple[int, int]] = []  # (us, value_micros)
        for pdf in pdfs:
            for us, v in zip(pdf["us"], pdf["value"]):
                events.append((int(us), py_value_to_micros(float(v))))
        events.sort()

        if state.exists:
            cur = list(state.get)
        else:
            cur = None
        out: list[dict] = []
        for us, vm in events:
            if cur is None:
                cur = [us, us, 1, vm]
            elif us - cur[1] >= gap_us:
                out.append(closed_row(*cur))
                cur = [us, us, 1, vm]
            else:
                cur[1] = max(cur[1], us)
                if us < cur[0]:  # in-watermark disorder reaching back
                    cur[0] = us
                cur[2] += 1
                cur[3] += vm
        if cur is not None:
            end_ms = cur[1] // 1000 + gap_ms
            wm_ms = state.getCurrentWatermarkMs()
            if end_ms <= wm_ms:
                # watermark already passed this session's end: no later
                # event can extend it — close now (a timeout timestamp
                # in the past is rejected by Spark)
                out.append(closed_row(*cur))
                if state.exists:
                    state.remove()
            else:
                state.update(tuple(cur))
                # close when the event-time watermark passes last + gap
                state.setTimeoutTimestamp(end_ms)
        if out:
            yield pd.DataFrame(out)

    return sessionize


class StreamingSessionizer(_StreamQuery):
    """Maintain per-user sessions from a streaming source; emit closed
    sessions to a driver list (production: any append sink)."""

    def __init__(
        self,
        stream_df: DataFrame,
        key_col: str = "user_id",
        ts_col: str = "ts",
        value_col: str = "value",
        gap_ms: int = 1_800_000,
        watermark_delay: str = "0 seconds",
    ) -> None:
        self.closed: list[dict] = []
        prepared = (
            ensure_event_time(stream_df, ts_col)
            .withWatermark(ts_col, watermark_delay)
            .select(
                F.col(key_col).cast("long").alias("user_id"),
                F.col(ts_col).alias("ts"),
                F.unix_micros(F.col(ts_col)).alias("us"),
                F.col(value_col).cast("double").alias("value"),
            )
        )
        self._sessions = prepared.groupBy("user_id").applyInPandasWithState(
            _make_sessionizer(gap_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    def start(self, checkpoint_dir: str):
        closed = self.closed

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            closed.extend(r.asDict() for r in batch_df.collect())

        self._query = (
            self._sessions.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink)
            .start()
        )
        return self._query

    def closed_sessions(self) -> list[dict]:
        """Closed sessions emitted so far, lowered to user columns."""
        return [
            {
                "user_id": d["user_id"],
                "session_start_ms": d["session_start_ms"],
                "session_end_ms": d["session_end_ms"],
                "cnt": d["cnt"],
                "sum_value": d["sum_micros"] / QUANT_SCALE,
            }
            for d in self.closed
        ]
