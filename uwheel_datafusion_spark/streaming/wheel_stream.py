"""Streaming wheel maintenance — µWheel's insert/advance as a
Structured Streaming job (SURVEY §2.9, build-plan step 5).

Semantics mapping (reference → ``StreamingWheel``):

- ``wheel.insert(entry)`` with out-of-order tolerance inside the
  write-ahead horizon (/root/reference/src/main.rs:102,137) → each
  micro-batch aggregates its OWN minute partials (one stateless
  ``groupBy``, collected: at most the touched slots), and the driver
  merges them into the ``RollupStore`` with add / add / min / max. The
  wheel is the state: Spark holds none (append mode, no
  ``withWatermark``, no streaming aggregate, no state store).
- late entries rejected below the low watermark [uwheel-pub] → the
  store carries the event-time watermark: max event time (µs floored
  to ms, as Spark's tracker takes it) of all EARLIER micro-batches
  minus the delay, never moving back. A partial whose minute window
  ends at or before it is dropped and its row count added to
  ``n_late_rows`` — the exact number of late SOURCE rows (SURVEY §2.9).
- ``wheel.advance(d)`` finalizing slots (/root/reference/src/main.rs:140)
  → after each merge the watermark advances to the batch's max event
  time minus the delay; a slot behind it is final.

The late rule is Spark's own (a window is late iff its end ≤ the
watermark; pinned against an inline stateful aggregate in
tests/test_streaming.py) with one deliberate difference: Spark filters
a batch's late rows against the watermark of the batch BEFORE the
previous one when batches queue up back to back, and against the
latest one when a no-data batch ran in between. Files at minutes
{0, 100}, {200} and {150, 50, 195} with a 10-minute delay: landed
together, Spark keeps minute 150 (filtered against 90); one trigger per
file, Spark drops it (filtered against 190). This fold always filters
against the latest watermark and drops it either way — answers no
longer depend on trigger timing.

The micro-batch sink merges into a driver store here; on a production
cluster the same ``foreachBatch`` body would MERGE the touched slots'
totals into a Delta/Iceberg rollup table — the serving side
(DriverWheelIndex / distributed rollup queries) is identical either
way, which is the point: batch and streaming build the SAME index.

LIFETIME CONTRACT (every driver-folded wheel, here and in
dedup_stream): one shell, ``_DriverFoldStream``, owns the micro-batch
lifecycle; a family supplies only its streaming frame, output mode,
per-batch ``_fold`` and serving methods. Rollup state lives in a
driver-side dict while the checkpoint marks micro-batches committed.
After a driver RESTART the dict is empty but committed batches are NOT
replayed — snapshots would silently undercount. Pass ``state_dir`` to
``start()`` to make a wheel RESTART-SAFE: the sink persists the state
atomically after every folded epoch (write-temp + rename, tagged with
the epoch id and the checkpoint), and a restarted wheel given the same
(checkpoint_dir, state_dir) pair restores it. Persist-then-commit
ordering makes the state exactly-once: a crash after persist but
before the checkpoint commit replays the epoch, and the epoch guard
skips its fold — required because the delta-merging wheels (MG,
``StreamingWheel``) are not idempotent under replay. The skipped batch
is still DRAINED through a no-op write: an update-mode wheel's batch
plan carries the streaming aggregation, and a replayed batch whose
plan never runs fails the state-store commit check. A restore REPLACES
the in-memory state; without a snapshot the in-memory state stands at
its last folded epoch, which ``start()`` resets on a new checkpoint, so
one object can be restarted on any checkpoint. Without ``state_dir``
the wheels remain single-process (tests, notebooks, always-on
serving) — or swap the sink body for a Delta/Iceberg MERGE keyed on
the window; the serving side is unchanged either way.

``StreamingWheel`` keeps one epoch guard PER SINK: each of
``table_dir`` / ``manifest_root`` writes an epoch only past its own
marker. The sinks write before ``state_dir`` (manifest commit, table
marker, table swaps, then the pickle), so after a crash the store is
the party that lags: a replayed epoch merges into the store and is
rewritten only to the sinks that lack it. Both sinks write the store's
merged totals for the batch's touched slots (replace-upserts,
idempotent under replay), and each saves what a restart needs beside
its epoch, in O(touched slots) per trigger: ``state_dir`` pickles the
slots, late count and watermark; the table's ``_sink_meta.json`` is a
redo record of the epoch (watermark, late count, touched totals),
whose swaps a restart redoes before reading the open slots (window
end > watermark) back from the table; the manifest commit carries the
watermark and late count in its ``extra``, and its open slots are read
back from its own generations, which commit atomically with the
epoch. Without ``state_dir`` the store restores from the sink whose
epoch lags and keeps only open slots, evicting a slot once the
watermark passes it — the bound Spark's state store had. An epoch
that touches no open slot commits nothing to the manifest, so in
manifest-only mode the late rows of such an epoch are not in the
count restored after a restart.
"""

from __future__ import annotations

import operator
import os
import pickle
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from uwheel_datafusion_spark.functions.quant import value_to_micros
from uwheel_datafusion_spark.functions.time import (
    MINUTE_MS,
    bucket_ms,
    ensure_event_time,
    ts_to_ms,
)


def _state_file(state_dir: str) -> str:
    return os.path.join(state_dir, "wheel_state.pkl")


def _persist_state(
    state_dir: str, slots, epoch_id: int, extra=None, checkpoint: str | None = None
) -> None:
    """Atomic (temp + rename) driver-state snapshot, tagged with the
    last applied epoch id AND the checkpoint identity it was built
    against. Runs INSIDE foreachBatch, i.e. before the checkpoint
    commits the epoch — so crash-replayed epochs find their effects
    already persisted and the epoch guard skips them."""
    os.makedirs(state_dir, exist_ok=True)
    tmp = _state_file(state_dir) + ".tmp"
    with open(tmp, "wb") as f:
        pickle.dump(
            {
                "slots": slots,
                "epoch": epoch_id,
                "checkpoint": checkpoint,
                **(extra or {}),
            },
            f,
        )
    os.replace(tmp, _state_file(state_dir))


def _load_state(state_dir: str, checkpoint: str | None = None):
    """Restore a persisted state snapshot; None when the dir is fresh.

    The epoch guard compares micro-batch epoch ids, which restart at 0
    under a DIFFERENT checkpoint dir — pairing a populated state_dir
    with a fresh checkpoint would then silently skip all early batches
    as "replays" (undercounted state). Enforce the pairing here: the
    snapshot records the checkpoint it was built against, and a
    mismatch raises instead of corrupting."""
    p = _state_file(state_dir)
    if not os.path.exists(p):
        return None
    with open(p, "rb") as f:
        st = pickle.load(f)
    saved = st.get("checkpoint")
    if checkpoint is not None and saved is not None and saved != checkpoint:
        raise ValueError(
            f"state_dir {state_dir!r} was built against checkpoint "
            f"{saved!r} but is being restored under {checkpoint!r}; "
            "epoch ids are only comparable within one checkpoint — use "
            "a fresh state_dir with a fresh checkpoint"
        )
    return st


def _sink_meta_file(table_dir: str) -> str:
    # leading underscore: ignored by Spark/DuckDB parquet listings
    return f"{table_dir}/_sink_meta.json"


def _persist_sink_meta(
    spark, table_dir: str, epoch_id: int, checkpoint: str, state: dict
) -> None:
    """Atomic epoch marker for the table sink — a redo record written
    BEFORE the epoch's partition upsert. ``state`` carries the
    watermark, the late count and the epoch's touched slots with their
    merged totals; the swaps are not atomic with this file, so a
    restart redoes them from it (replace-upserts: idempotent) and then
    reads the store's open slots back from the table. It lives
    NEXT TO the table, written through the Hadoop FS API (round 11: a
    driver-local write would strand the guard on the driver's disk
    while the table lives on HDFS/S3 — every resuming driver would
    then re-apply epoch 0)."""
    import json

    from uwheel_datafusion_spark.operators.util import fs_write_text

    fs_write_text(
        spark,
        _sink_meta_file(table_dir),
        json.dumps({"epoch": epoch_id, "checkpoint": checkpoint, **state}),
    )


def _load_sink_meta(spark, table_dir: str, checkpoint: str):
    """Restore the table sink's epoch marker; same checkpoint-identity
    guard as _load_state (epoch ids restart at 0 under a different
    checkpoint)."""
    import json

    from uwheel_datafusion_spark.operators.util import fs_read_text

    text = fs_read_text(spark, _sink_meta_file(table_dir))
    if text is None:
        return None
    meta = json.loads(text)
    saved = meta.get("checkpoint")
    if saved is not None and saved != checkpoint:
        raise ValueError(
            f"rollup table {table_dir!r} was maintained under checkpoint "
            f"{saved!r} but is being resumed under {checkpoint!r}; "
            "epoch ids are only comparable within one checkpoint"
        )
    return meta


def _slots_from_json(pairs) -> dict:
    """``[[slot, partial], ...]`` → slots: unkeyed slots are int
    buckets; keyed slots round-trip JSON as [key, bucket] lists —
    coerce back to tuples."""
    return {
        ((b[0], int(b[1])) if isinstance(b, list) else int(b)): tuple(v)
        for b, v in pairs
    }


def _bucket(slot) -> int:
    return slot[1] if isinstance(slot, tuple) else slot


def _nullsafe(op, a, b):
    """``op`` with NULL as its identity — Spark's sum/min/max skip
    NULLs, so an all-NULL minute's partial is (None, cnt, None, None)."""
    return b if a is None else a if b is None else op(a, b)


@dataclass
class RollupStore:
    """Driver-side rollup state: (bucket_ms | (key, bucket_ms)) →
    (sum_micros, cnt, min_value, max_value), plus the event-time
    watermark that decides which slots still take rows. Production
    swap-in: Delta MERGE keyed on the slot.

    IMPORTANT (learned from a restart probe): the Spark checkpoint
    makes the *source* exactly-once — a restarted query will NOT replay
    micro-batches this store already consumed. The store must therefore
    be persisted alongside the checkpoint (``save``/``load``, or the
    Delta table in production); a fresh store + old checkpoint silently
    serves an empty index."""

    slots: dict[int, tuple[int, int, float, float]] = field(default_factory=dict)
    #: source rows dropped because their minute window had closed (its
    #: end ≤ the watermark) when their micro-batch arrived
    n_late_rows: int = 0
    #: epoch ms: max event time of the folded micro-batches minus the
    #: delay (0 before any, like Spark's); a slot whose window ends at
    #: or before it is final
    watermark_ms: int = 0

    def is_open(self, slot) -> bool:
        return _bucket(slot) + MINUTE_MS > self.watermark_ms

    def merge(self, parts, max_event_ms: int | None, delay_ms: int) -> list:
        """Fold one micro-batch's ``(slot, partial)`` pairs: a partial
        of a closed slot is dropped and its rows counted late, every
        other one merges with add / add / min / max (NULL-safe). Then
        the watermark advances to ``max_event_ms - delay_ms``. Returns
        the slots the batch changed."""
        touched = []
        for slot, (s, c, mn, mx) in parts:
            if not self.is_open(slot):
                self.n_late_rows += c
                continue
            old = self.slots.get(slot)
            if old is not None:
                s = _nullsafe(operator.add, old[0], s)
                c += old[1]
                mn = _nullsafe(min, old[2], mn)
                mx = _nullsafe(max, old[3], mx)
            self.slots[slot] = (s, c, mn, mx)
            touched.append(slot)
        if max_event_ms is not None:
            self.watermark_ms = max(self.watermark_ms, max_event_ms - delay_ms)
        return touched

    def evict_closed(self) -> None:
        for slot in [s for s in self.slots if not self.is_open(s)]:
            del self.slots[slot]

    def save(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump(
                {
                    "slots": list(self.slots.items()),
                    "n_late_rows": self.n_late_rows,
                    "watermark_ms": self.watermark_ms,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "RollupStore":
        import json

        with open(path) as f:
            d = json.load(f)
        return cls(
            slots=_slots_from_json(d["slots"]),
            n_late_rows=int(d["n_late_rows"]),
            watermark_ms=int(d.get("watermark_ms", 0)),
        )

    def to_driver_index(self, watermark_ms: int, advanced_ms: int):
        from uwheel_datafusion_spark.operators.driver_index import DriverWheelIndex

        rows = [
            {
                "bucket_ms": b,
                "sum_micros": s,
                "cnt": c,
                "min_value": mn,
                "max_value": mx,
            }
            for b, (s, c, mn, mx) in self.slots.items()
            if not isinstance(b, tuple)
        ]
        return DriverWheelIndex.from_minute_rows(rows, watermark_ms, advanced_ms)

    def to_keyed_indexes(self, watermark_ms: int, advanced_ms: int) -> dict:
        """Keyed store → {key: DriverWheelIndex} — the same serving
        structure KeyedWheelIndex.build collects from its batch rollup."""
        from uwheel_datafusion_spark.operators.driver_index import DriverWheelIndex

        by_key: dict = {}
        for slot, (s, c, mn, mx) in self.slots.items():
            if not isinstance(slot, tuple):
                continue
            k, b = slot
            by_key.setdefault(k, []).append(
                {
                    "bucket_ms": b,
                    "sum_micros": s,
                    "cnt": c,
                    "min_value": mn,
                    "max_value": mx,
                }
            )
        return {
            k: DriverWheelIndex.from_minute_rows(rows, watermark_ms, advanced_ms)
            for k, rows in by_key.items()
        }


class _StreamQuery:
    """The one running query of a streaming maintainer."""

    _query = None

    def process_available(self) -> None:
        """Drain everything currently available (test/smoke path);
        production runs with a processing-time trigger instead."""
        assert self._query is not None, "call start() first"
        self._query.processAllAvailable()

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None


class _DriverFoldStream(_StreamQuery):
    """The micro-batch lifecycle of every driver-folded wheel (module
    docstring, LIFETIME CONTRACT): restore, epoch guard, fold, persist.

    A family sets ``_stream`` (its streaming frame) and ``_mode``, and
    folds each micro-batch into ``_state()``. In ``update`` mode every
    row is its slot's CURRENT partial, so the default ``_fold`` is a
    replace-upsert of ``_entry(row)`` — idempotent by construction;
    ``append`` families fold per-batch partials in their own ``_fold``."""

    _mode = "update"
    _checkpoint = None
    _last_epoch = -1  # last epoch folded into the in-memory state

    def start(self, checkpoint_dir: str, state_dir: str | None = None):
        if checkpoint_dir != self._checkpoint:
            self._last_epoch = -1  # epoch ids restart under a new checkpoint
        self._checkpoint, self._state_dir = checkpoint_dir, state_dir
        self._last_epoch = self._resume()

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            if epoch_id <= self._last_epoch:
                # replayed epoch already folded into the persisted state:
                # skip the fold, but run the plan so its state commits
                batch_df.write.format("noop").mode("overwrite").save()
                return
            self._fold(batch_df, epoch_id)
            self._last_epoch = epoch_id
            self._persist(epoch_id)

        self._query = (
            self._stream.writeStream.outputMode(self._mode)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(sink)
            .start()
        )
        return self._query

    def _state(self) -> dict:
        return self.slots

    def _extra(self) -> dict | None:
        return None

    def _restore(self, st: dict) -> None:
        # replace, not update: a slot first made by an epoch the snapshot
        # lacks must not survive to be folded again when it replays
        state = self._state()
        state.clear()
        state.update(st["slots"])

    def _resume(self) -> int:
        """Restore the ``state_dir`` snapshot; returns the last epoch
        already folded in. Without a snapshot the in-memory state
        stands, at its last folded epoch (-1 unless this object already
        ran on this checkpoint)."""
        st = (
            _load_state(self._state_dir, self._checkpoint)
            if self._state_dir is not None
            else None
        )
        if st is None:
            return self._last_epoch
        self._restore(st)
        return st["epoch"]

    def _fold(self, batch_df: DataFrame, epoch_id: int) -> None:
        self._state().update(self._entry(r) for r in batch_df.collect())

    def _persist(self, epoch_id: int) -> None:
        if self._state_dir is not None:
            _persist_state(
                self._state_dir,
                self._state(),
                epoch_id,
                self._extra(),
                checkpoint=self._checkpoint,
            )


class StreamingDistinctWheel(_DriverFoldStream):
    """Streaming maintenance of the HLL distinct rollup — the
    distinct-count twin of StreamingWheel (operators/distinct is the
    batch side). The streaming aggregation keeps one HLL++ sketch per
    minute window in the state store (hll_sketch_agg is a declarative
    aggregate, so update-mode emits the window's CURRENT sketch each
    trigger — the upsert is idempotent); register-max associativity
    makes the maintained sketches estimate-identical to a batch
    build over the same rows (pinned in tests/test_streaming.py).

    At scale the sink MERGEs sketch binaries into a Delta/Iceberg
    rollup keyed on bucket_ms; serving (range_distinct_hll /
    cascade_hll) is identical either way."""

    def __init__(
        self,
        stream_df: DataFrame,
        ts_col: str,
        key_col: str,
        watermark_delay: str = "1 hour",
        lg_k: int = 12,
    ) -> None:
        self.slots: dict[int, bytes] = {}  # bucket_ms → sketch binary
        self._stream = (
            ensure_event_time(stream_df, ts_col)
            .withWatermark(ts_col, watermark_delay)
            .groupBy(F.window(ts_col, "1 minute").alias("w"))
            .agg(F.hll_sketch_agg(key_col, lg_k).alias("hll"))
            .select(ts_to_ms(F.col("w.start")).alias("bucket_ms"), "hll")
        )

    @staticmethod
    def _entry(r):
        return r["bucket_ms"], bytes(r["hll"])

    def snapshot_rollup(self, spark) -> DataFrame:
        """Freeze the maintained sketches into the same
        ``(bucket_ms, hll)`` frame build_hll_rollup produces — ready
        for cascade_hll / range_distinct_hll / rollup_io.save_rollup."""
        return spark.createDataFrame(
            list(self.slots.items()), "bucket_ms long, hll binary"
        )


class StreamingBottomKWheel(_DriverFoldStream):
    """Streaming maintenance of the bottom-k sample rollup
    (operators/bottomk is the batch side). Each micro-batch computes
    its OWN bottom-k partial per touched minute slot (≤ k rows/slot,
    the WindowGroupLimit shape), and the sink merges it into the
    maintained store by set-union + re-truncate — the mergeable-
    summary property that makes batch and streaming builds
    bit-identical regardless of how rows split across triggers (the
    same exactness argument as the batch cascade, operators/bottomk
    docstring). The merge is idempotent and commutative: a re-
    delivered or out-of-order micro-batch unions the same (h, key)
    pairs, so no watermark is needed for correctness — late rows
    simply merge in (the batch horizon filter is applied at snapshot/
    serve time, as in the batch build).

    At scale the sink MERGEs into a Delta/Iceberg rollup keyed on
    (bucket_ms, h, key) with a per-slot rank re-truncation; serving
    (range_sample_df / cascade_bottomk) is identical either way."""

    _mode = "append"

    def __init__(
        self,
        stream_df: DataFrame,
        ts_col: str,
        key_col: str,
        k: int = 20,
        slot_ms: int = MINUTE_MS,
    ) -> None:
        from uwheel_datafusion_spark.functions.time import bucket_ms
        from uwheel_datafusion_spark.operators.sampling import _mix_sql

        self.k = k
        #: bucket_ms → ascending-sorted list of (h, key), ≤ k entries
        self.slots: dict[int, list[tuple[int, int]]] = {}
        self._stream = stream_df.select(
            bucket_ms(ts_to_ms(F.col(ts_col)), slot_ms).alias("bucket_ms"),
            F.col(key_col).cast("long").alias("key"),
        ).withColumn("h", F.expr(_mix_sql("key")))

    def _merge(self, bucket: int, pairs) -> None:
        cur = set(self.slots.get(bucket, ()))
        cur.update(pairs)
        self.slots[bucket] = sorted(cur)[: self.k]

    def _fold(self, batch_df: DataFrame, epoch_id: int) -> None:
        from uwheel_datafusion_spark.operators.bottomk import _ranked_bottomk

        part = _ranked_bottomk(batch_df.distinct(), self.k)
        merged: dict[int, list] = {}
        for r in part.collect():  # ≤ k rows per touched slot
            merged.setdefault(r["bucket_ms"], []).append((r["h"], r["key"]))
        for bucket, pairs in merged.items():
            self._merge(bucket, pairs)

    def snapshot_rollup(self, spark) -> DataFrame:
        """Freeze the maintained samples into the same
        ``(bucket_ms, key, h)`` frame build_bottomk_rollup produces —
        ready for range_sample_df / cascade_bottomk /
        rollup_io.save_rollup."""
        rows = [
            (bucket, key, h)
            for bucket, pairs in self.slots.items()
            for (h, key) in pairs
        ]
        return spark.createDataFrame(rows, "bucket_ms long, key long, h long")


class StreamingMGWheel(_DriverFoldStream):
    """Streaming maintenance of the Misra-Gries heavy-hitter rollup
    (operators/mgsketch is the batch side), by the mergeable-summaries
    composition (Agarwal et al., PODS'12): each micro-batch truncates
    its OWN per-slot counts to an MG summary (≤ m rows + bound) on the
    cluster, and the sink merges same-slot summaries driver-side — sum
    per-key counts, add bounds, re-truncate to top-m (which adds the
    (m+1)-th merged count to the bound). Error ADDS per merge, so the
    maintained sketch is not bit-identical to a single-pass batch build
    — but the lower/upper-bound invariant survives every merge, and the
    candidates→exact-verify serving contract
    (range_heavy_hitters_verified) stays provably complete as long as
    the threshold exceeds the accumulated budget: with time-ordered
    sources a slot is touched by ≤ 2 micro-batches (boundary slots),
    so the budget multiplier is small and checkable (pinned in
    tests/test_streaming).

    The merge folds per-batch DELTAS (counts add), so the epoch guard
    is correctness here, not hygiene: a replayed epoch would otherwise
    double-count.

    At scale the sink MERGEs into a Delta/Iceberg rollup keyed on
    (bucket_ms, key) with the same re-truncation; serving is identical
    either way."""

    _mode = "append"

    def __init__(
        self,
        stream_df: DataFrame,
        ts_col: str,
        key_sql: str,
        m: int,
        slot_ms: int = MINUTE_MS,
    ) -> None:
        from uwheel_datafusion_spark.functions.time import bucket_ms

        self.m = m
        #: bucket_ms → ({key: cnt}, bound)
        self.slots: dict[int, tuple[dict[int, int], int]] = {}
        # NO streaming aggregation here: an update-mode streaming
        # groupBy would emit CUMULATIVE counts per trigger and the MG
        # merge needs per-batch DELTAS — the sink aggregates each
        # micro-batch itself (the StreamingBottomKWheel pattern)
        self._stream = ensure_event_time(stream_df, ts_col).select(
            bucket_ms(ts_to_ms(F.col(ts_col)), slot_ms).alias("bucket_ms"),
            F.expr(key_sql).cast("long").alias("key"),
        )

    def _merge(self, bucket: int, new_counts: dict, new_bound: int) -> None:
        cur_counts, cur_bound = self.slots.get(bucket, ({}, 0))
        merged = dict(cur_counts)
        for k, c in new_counts.items():
            merged[k] = merged.get(k, 0) + c
        bound = cur_bound + new_bound
        # re-truncate to top-m (cnt desc, key asc — the batch tie-break)
        ranked = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
        if len(ranked) > self.m:
            bound += ranked[self.m][1]  # the (m+1)-th merged count
            ranked = ranked[: self.m]
        self.slots[bucket] = (dict(ranked), bound)

    def _fold(self, batch_df: DataFrame, epoch_id: int) -> None:
        from uwheel_datafusion_spark.operators.mgsketch import _truncate_to_mg

        # aggregate THIS batch's pairs, then cluster-side MG truncation:
        # the collect is ≤ m rows per touched slot, never the batch's
        # raw key set
        counts_df = batch_df.groupBy("bucket_ms", "key").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        part = _truncate_to_mg(counts_df, self.m, F.lit(0))
        per_slot: dict[int, tuple[dict, int]] = {}
        for r in part.collect():
            counts, _ = per_slot.setdefault(r["bucket_ms"], ({}, 0))
            counts[r["key"]] = r["cnt"]
            per_slot[r["bucket_ms"]] = (counts, r["bound"])
        for bucket, (counts, bound) in per_slot.items():
            self._merge(bucket, counts, bound)

    def snapshot_rollup(self, spark) -> DataFrame:
        """Freeze into the same ``(bucket_ms, key, cnt, bound)`` frame
        build_mg_rollup produces (bound repeated per row) — ready for
        range_hh_candidates / range_heavy_hitters_verified /
        cascade_mg / rollup_io.save_rollup."""
        rows = [
            (b, k, c, bound)
            for b, (counts, bound) in self.slots.items()
            for k, c in counts.items()
        ]
        return spark.createDataFrame(
            rows, "bucket_ms long, key long, cnt long, bound long"
        )


class StreamingHistogramWheel(_DriverFoldStream):
    """Streaming maintenance of the equi-width histogram rollup
    (operators/quantile_rollup is the batch side) — the quantile
    family's mergeable partial is a plain additive (bucket, bin) count,
    so the streaming windowed aggregation is a COUNT keyed by
    (window, bin); update mode emits each touched pair's current count
    and the sink upsert (replace by (bucket, bin)) is idempotent.
    Bit-identical to the batch build over the same rows (counts are
    associative+commutative; binning is deterministic floor division) —
    pinned in tests/test_streaming.

    At scale the sink MERGEs into a Delta/Iceberg rollup keyed on
    (bucket_ms, bin); serving (range_quantile_df / cascade_histogram)
    is identical either way."""

    def __init__(
        self,
        stream_df: DataFrame,
        ts_col: str,
        value_col: str,
        watermark_delay: str = "1 hour",
        bin_width: float = 1.0,
    ) -> None:
        self.slots: dict[tuple[int, int], int] = {}  # (bucket_ms, bin) → cnt
        self._stream = (
            ensure_event_time(stream_df, ts_col)
            .withWatermark(ts_col, watermark_delay)
            .select(
                F.col(ts_col),
                F.floor(F.col(value_col) / F.lit(bin_width))
                .cast("long")
                .alias("bin"),
            )
            .groupBy(F.window(ts_col, "1 minute").alias("w"), F.col("bin"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                ts_to_ms(F.col("w.start")).alias("bucket_ms"), "bin", "cnt"
            )
        )

    @staticmethod
    def _entry(r):
        return (r["bucket_ms"], r["bin"]), r["cnt"]

    def snapshot_rollup(self, spark) -> DataFrame:
        """Freeze the maintained counts into the same
        ``(bucket_ms, bin, cnt)`` frame build_histogram_rollup
        produces — ready for range_quantile_df / cascade_histogram /
        rollup_io.save_rollup."""
        rows = [(b, bn, c) for (b, bn), c in self.slots.items()]
        return spark.createDataFrame(rows, "bucket_ms long, bin long, cnt long")


class StreamingOHLCWheel(_DriverFoldStream):
    """Streaming maintenance of the OHLC candle rollup
    (operators/ohlc is the batch side) — the aggregator whose partial
    CARRIES ITS OWN TIMESTAMP: open/close don't combine by sum, the
    state must remember when each value occurred. ``min_by``/``max_by``
    over the (ts, value) key are declarative aggregates, so the
    streaming windowed aggregation maintains the running candle
    per minute window in the state store directly; update mode emits
    each touched window's CURRENT candle, so the sink upsert (replace
    by bucket) is idempotent. Combine associativity + the fixed
    (ts, value) tie-break make the maintained candles bit-identical to
    a batch build over the same rows (pinned in tests/test_streaming).

    At scale the sink MERGEs into a Delta/Iceberg rollup keyed on
    bucket_ms; serving (range_ohlc_df / cascade_ohlc /
    m4_downsample_df) is identical either way."""

    def __init__(
        self,
        stream_df: DataFrame,
        ts_col: str,
        value_col: str,
        watermark_delay: str = "1 hour",
    ) -> None:
        #: bucket_ms → (open_ts_ms, open, high, low, close_ts_ms, close, cnt)
        self.slots: dict[int, tuple] = {}
        ms = ts_to_ms(F.col(ts_col))
        v = F.col(value_col).cast("double")
        key = F.struct(ms.alias("t"), v.alias("v"))
        self._stream = (
            ensure_event_time(stream_df, ts_col)
            .withWatermark(ts_col, watermark_delay)
            .select(
                F.col(ts_col),
                ms.alias("ts_ms"),
                v.alias("value"),
                key.alias("k"),
            )
            .groupBy(F.window(ts_col, "1 minute").alias("w"))
            .agg(
                F.min_by(F.col("ts_ms"), F.col("k")).alias("open_ts_ms"),
                F.min_by(F.col("value"), F.col("k")).alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by(F.col("ts_ms"), F.col("k")).alias("close_ts_ms"),
                F.max_by(F.col("value"), F.col("k")).alias("close"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .select(ts_to_ms(F.col("w.start")).alias("bucket_ms"), "*")
            .drop("w")
        )

    @staticmethod
    def _entry(r):
        return r["bucket_ms"], tuple(r)[1:]  # the candle, in slot order

    def snapshot_rollup(self, spark) -> DataFrame:
        """Freeze the maintained candles into the same partial frame
        build_ohlc_rollup produces — ready for range_ohlc_df /
        cascade_ohlc / m4_downsample_df / rollup_io.save_rollup."""
        rows = [(b, *p) for b, p in self.slots.items()]
        return spark.createDataFrame(
            rows,
            "bucket_ms long, open_ts_ms long, open double, high double, "
            "low double, close_ts_ms long, close double, cnt long",
        )


class StreamingWheel(_DriverFoldStream):
    """Maintain the minute rollup from a streaming source — unkeyed, or
    per-series when ``key_col`` is given (the streaming twin of
    KeyedWheelIndex: slots are (series, minute), the sinks upsert
    (key, bucket) totals). The store is the state (module docstring):
    each micro-batch's minute partials merge into it on the driver
    under its own watermark."""

    _mode = "append"

    def __init__(
        self,
        stream_df: DataFrame,
        ts_col: str,
        value_col: str,
        watermark_delay: str = "1 hour",
        store: RollupStore | None = None,
        key_col: str | None = None,
    ) -> None:
        self.store = store if store is not None else RollupStore()
        self.key_col = key_col
        # the delay through Spark's own interval parser, as withWatermark
        delay = stream_df.sparkSession.sql(f"SELECT INTERVAL {watermark_delay}")
        self._delay_ms = delay.first()[0] // timedelta(milliseconds=1)
        ms = ts_to_ms(F.col(ts_col))
        cols = [
            bucket_ms(ms, MINUTE_MS).alias("bucket_ms"),
            ms.alias("ts_ms"),
            F.col(value_col).alias("value"),
        ]
        if key_col is not None:
            cols.insert(0, F.col(key_col).alias("key"))
        self._stream = stream_df.where(F.col(ts_col).isNotNull()).select(*cols)
        self._slot_cols = ["key", "bucket_ms"] if key_col is not None else ["bucket_ms"]
        # the rollup rows the sinks write: slot columns, then the partial
        value_type = self._stream.schema["value"].dataType
        self._schema = StructType(
            [self._stream.schema[c] for c in self._slot_cols]
            + [
                StructField("sum_micros", LongType()),
                StructField("cnt", LongType()),
                StructField("min_value", value_type),
                StructField("max_value", value_type),
            ]
        )

    def start(
        self,
        checkpoint_dir: str,
        state_dir: str | None = None,
        table_dir: str | None = None,
        manifest_root: str | None = None,
    ):
        """``state_dir``: auto-persisted restart-safe driver state (slots,
        late count, watermark) — the hands-off alternative to the manual
        RollupStore.save/load lifecycle (which remains supported for
        explicit control).

        ``table_dir``: maintain the rollup as a dt-partitioned parquet
        TABLE instead of (or alongside) the driver dict — the 100 TB
        shape: each micro-batch's touched slots are MERGE-upserted with
        the store's merged totals via rollup_io.upsert_rollup (O(touched
        partitions) per trigger, per-partition atomic swap), under the
        table's own epoch guard in ``_sink_meta.json``, a redo record
        of the epoch (watermark, late count, touched totals) written
        before its swaps. Serving reads the
        table (rollup_io.load_rollup) — any session, any scale; the
        driver dict then holds only the open slots.

        ``manifest_root`` (round 13 — VERDICT r12 next #5): maintain
        the rollup as a MANIFEST-COMMITTED table instead — each epoch
        publishes one immutable generation dir + one atomic small-file
        commit (rollup_io.manifest_rollup_append), newest generation
        wins per slot key, and the epoch-replay guard, checkpoint
        identity and watermark ride the snapshot's ``extra`` ATOMICALLY
        with the data (the _sink_meta.json sidecar's torn-overwrite
        dance is structural here). Serving reads manifest_rollup_read;
        folding is manifest_rollup_compact + manifest_vacuum. No data
        rename ever happens — the S3A-safe sink shape.

        A restart resumes each of these at its own epoch (module
        docstring, LIFETIME CONTRACT)."""
        self._table_dir, self._manifest_root = table_dir, manifest_root
        return super().start(checkpoint_dir, state_dir)

    def _state(self) -> dict:
        return self.store.slots

    def _extra(self) -> dict:
        return {"late": self.store.n_late_rows, "watermark_ms": self.store.watermark_ms}

    def _restore(self, st: dict) -> None:
        super()._restore(st)
        self.store.n_late_rows = st.get("late", 0)
        self.store.watermark_ms = st.get("watermark_ms", 0)

    def _resume(self) -> int:
        """Read every configured party's epoch (each checkpoint-checked)
        and restore the store from ``state_dir``, or else from the sink
        whose epoch lags; returns the store's epoch. Every party writes
        an epoch before Spark commits it and ``state_dir`` writes last
        (``_persist``), so the store is the party that lags: every epoch
        that reaches ``_fold`` merges, and the sinks that hold it
        already skip it."""
        spark = self._stream.sparkSession
        saved = {}  # party → (epoch, loader of its saved store state | None)
        if self._state_dir is not None:
            st = _load_state(self._state_dir, self._checkpoint)
            saved["store"] = (-1, None) if st is None else (st["epoch"], lambda: st)
        if self._table_dir is not None:
            saved["table"] = self._table_mark(spark)
        if self._manifest_root is not None:
            saved["manifest"] = self._manifest_mark(spark)
        self._epochs = {party: e for party, (e, _) in saved.items() if party != "store"}
        if not saved:  # the store lives in memory only
            return self._last_epoch
        epoch, load = saved.get("store") or min(saved.values(), key=lambda m: m[0])
        if load is not None:
            self._restore(load())
        elif self._last_epoch >= 0:
            # this object folded epochs that its party never saved
            self._restore({"slots": {}})
        return epoch

    def _table_mark(self, spark):
        """The table's (epoch, loader of its store state). The marker
        precedes its epoch's swaps, so they are redone here first
        (replace-upserts: idempotent); the open slots are then read back
        from the table."""
        from uwheel_datafusion_spark.operators.rollup_io import (
            load_rollup,
            upsert_rollup,
        )

        meta = _load_sink_meta(spark, self._table_dir, self._checkpoint)
        if meta is None:
            return -1, None
        redo = _slots_from_json(meta.get("slots", []))
        if redo:
            upsert_rollup(
                spark,
                self._table_dir,
                self._frame(redo.items()),
                tuple(self._slot_cols),
            )
        wm = meta.get("watermark_ms", 0)
        return meta["epoch"], lambda: {
            **meta,
            "slots": self._open_slots(load_rollup(spark, self._table_dir), wm),
        }

    def _manifest_mark(self, spark):
        """The manifest's (epoch, loader of its store state): watermark
        and late count from the commit's ``extra``, open slots from its
        generations, which commit atomically with the epoch."""
        from uwheel_datafusion_spark.operators.manifest import manifest_latest
        from uwheel_datafusion_spark.operators.rollup_io import (
            manifest_rollup_read,
        )

        snap = manifest_latest(spark, self._manifest_root)
        extra = {} if snap is None else snap.extra
        saved = extra.get("checkpoint")
        if saved is not None and saved != self._checkpoint:
            raise ValueError(
                f"rollup manifest {self._manifest_root!r} was "
                f"maintained under checkpoint {saved!r} but is "
                f"being resumed under {self._checkpoint!r}"
            )
        epoch = int(extra.get("epoch", -1))
        if epoch < 0:
            return -1, None
        wm = int(extra.get("watermark_ms", 0))
        return epoch, lambda: {
            "slots": self._open_slots(
                manifest_rollup_read(spark, self._manifest_root, snapshot=snap), wm
            ),
            "late": int(extra.get("late", 0)),
            "watermark_ms": wm,
        }

    def _open_slots(self, rollup: DataFrame, watermark_ms: int) -> dict:
        """The slots of a sink's rollup whose window ends after
        ``watermark_ms`` (a table's closed days are pruned)."""
        pred = F.col("bucket_ms") + MINUTE_MS > watermark_ms
        if "dt" in rollup.columns:
            first = (watermark_ms - MINUTE_MS) / 1000  # the first open day
            day = datetime.fromtimestamp(first, timezone.utc).strftime("%Y-%m-%d")
            pred &= F.col("dt") >= day
        rows = rollup.where(pred).select(*self._schema.names).collect()
        return dict(self._parts(rows))

    def _parts(self, rows) -> list:
        """Rows of ``(slot cols, sum_micros, cnt, min, max, ...)`` →
        ``(slot, partial)`` pairs."""
        if self.key_col is not None:
            return [((r[0], r[1]), tuple(r[2:6])) for r in rows]
        return [(r[0], tuple(r[1:5])) for r in rows]

    def _frame(self, slots) -> DataFrame:
        rows = [
            (*slot, *v) if isinstance(slot, tuple) else (slot, *v)
            for slot, v in slots
        ]
        return self._stream.sparkSession.createDataFrame(rows, self._schema)

    def _fold(self, batch_df: DataFrame, epoch_id: int) -> None:
        rows = (
            batch_df.groupBy(*self._slot_cols)
            .agg(
                F.sum(value_to_micros(F.col("value"))).alias("sum_micros"),
                F.count(F.lit(1)).alias("cnt"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
                F.max("ts_ms").alias("max_ts_ms"),
            )
            .collect()
        )
        max_ts = max((r["max_ts_ms"] for r in rows), default=None)
        self._touched = self.store.merge(self._parts(rows), max_ts, self._delay_ms)

    def _persist(self, epoch_id: int) -> None:
        """Write the epoch's touched slots to each sink that lacks it,
        then ``state_dir`` last (``_resume``)."""
        store, spark = self.store, self._stream.sparkSession
        totals = [(slot, store.slots[slot]) for slot in self._touched]
        frame = self._frame(totals) if totals and self._epochs else None
        if self._manifest_root is not None and epoch_id > self._epochs["manifest"]:
            from uwheel_datafusion_spark.operators.rollup_io import (
                manifest_rollup_append,
            )

            if totals:
                manifest_rollup_append(
                    spark,
                    self._manifest_root,
                    frame,
                    tuple(self._slot_cols),
                    epoch=epoch_id,
                    checkpoint=self._checkpoint,
                    extra=self._extra(),
                )
            self._epochs["manifest"] = epoch_id
        if self._table_dir is not None and epoch_id > self._epochs["table"]:
            from uwheel_datafusion_spark.operators.rollup_io import upsert_rollup

            # the marker first: a restart redoes its swaps (_table_mark)
            _persist_sink_meta(
                spark,
                self._table_dir,
                epoch_id,
                self._checkpoint,
                {**self._extra(), "slots": totals},
            )
            if totals:
                upsert_rollup(spark, self._table_dir, frame, tuple(self._slot_cols))
            self._epochs["table"] = epoch_id
        super()._persist(epoch_id)
        if self._state_dir is None and self._epochs:
            store.evict_closed()  # the sinks hold the final slots

    # serving --------------------------------------------------------------

    def snapshot_index(self, watermark_ms: int, advanced_ms: int):
        """Freeze the current rollup into the O(1) serving index —
        same structure the batch build produces (A4/A5 equivalence)."""
        return self.store.to_driver_index(watermark_ms, advanced_ms)

    def snapshot_keyed_indexes(self, watermark_ms: int, advanced_ms: int) -> dict:
        """Keyed variant: {key: DriverWheelIndex}, the serving structure
        of the batch KeyedWheelIndex."""
        return self.store.to_keyed_indexes(watermark_ms, advanced_ms)
