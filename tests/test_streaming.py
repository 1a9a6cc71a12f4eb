"""Streaming wheel maintenance (SURVEY §2.9): the streaming build must
produce the SAME index as the batch build (insert/advance equivalence),
and late rows must be dropped with an observable metric."""

import os

import pytest
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.time import (
    MINUTE_MS,
    ensure_event_time,
    to_epoch_ms,
    ts_to_ms,
)
from uwheel_datafusion_spark.operators.wheel import WheelIndex
from uwheel_datafusion_spark.sources.registry import load_table
from uwheel_datafusion_spark.streaming.wheel_stream import StreamingWheel

from datetime import datetime, timedelta

WM = to_epoch_ms(datetime(2024, 1, 1))
ADV = to_epoch_ms(datetime(2024, 2, 1))


@pytest.fixture(scope="module")
def stream_dir(spark, sf_smoke, tmp_path_factory):
    """Split events into 4 time-ordered chunk files so the file source
    yields multiple micro-batches."""
    base = tmp_path_factory.mktemp("stream")
    src = str(base / "in")
    ev = load_table(spark, sf_smoke, "events")
    ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src)
    return src


def test_streaming_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    batch_idx = WheelIndex.build(
        load_table(spark, sf_smoke, "events"), "ts", "value", WM, ADV
    ).to_driver_index()

    schema = load_table(spark, sf_smoke, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "value")
    )
    sw = StreamingWheel(stream, "ts", "value", watermark_delay="31 days")
    sw.start(str(tmp_path / "ckpt"))
    sw.process_available()
    sw.stop()

    stream_idx = sw.snapshot_index(WM, ADV)

    # full-history and random range equivalence
    assert stream_idx.landmark() == batch_idx.landmark()
    import random

    rng = random.Random(7)
    n_min = (ADV - WM) // MINUTE_MS
    for _ in range(20):
        a = rng.randrange(0, n_min)
        b = rng.randrange(a + 1, n_min + 1)
        s, e = WM + a * MINUTE_MS, WM + b * MINUTE_MS
        assert stream_idx.query_sum(s, e) == batch_idx.query_sum(s, e)
        assert stream_idx.query_count(s, e) == batch_idx.query_count(s, e)


def test_streaming_drops_late_rows(spark, tmp_path):
    """Rows arriving behind the watermark are dropped and counted —
    µWheel's late-insert rejection, observably."""
    src = str(tmp_path / "late_in")
    os.makedirs(src)
    df1 = spark.createDataFrame(
        [("2024-01-10 12:00:00", 1.0), ("2024-01-10 12:01:00", 2.0)],
        "ts_s string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "value")
    df2 = spark.createDataFrame(
        [("2024-01-01 00:00:00", 100.0),  # 9.5 days late vs watermark
         ("2024-01-10 12:02:00", 3.0)],
        "ts_s string, value double",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "value")
    df1.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sw = StreamingWheel(stream, "ts", "value", watermark_delay="10 minutes")
    sw.start(str(tmp_path / "ckpt2"))
    sw.process_available()
    # second file arrives after the watermark advanced past 2024-01-01
    df2.coalesce(1).write.mode("append").parquet(src)
    sw.process_available()
    sw.stop()

    idx = sw.snapshot_index(WM, ADV)
    lm = idx.landmark()
    assert lm["cnt"] == 3  # the late 100.0 row is NOT in the index
    assert lm["sum"] == 6.0
    assert sw.store.n_late_rows == 1


def test_late_row_counter_counts_each_batch_once(spark, tmp_path):
    """``n_late_rows`` counts late SOURCE rows — 5 late rows in one
    minute of one file count 5. Every micro-batch is counted once,
    however many ``process_available()`` calls follow."""
    src = str(tmp_path / "late_once")
    os.makedirs(src)

    def write(stamps):
        spark.createDataFrame(
            [(s, 1.0) for s in stamps], "ts_s string, value double"
        ).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src)

    files = [
        ["2024-01-10 12:00:00", "2024-01-10 12:01:00"],
        [f"2024-01-01 00:00:{s:02d}" for s in (0, 10, 20, 30, 40)]
        + ["2024-01-10 12:02:00"],
        ["2024-01-10 12:03:00"],
    ]
    write(files[0])
    stream = spark.readStream.schema("ts timestamp, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    sw = StreamingWheel(stream, "ts", "value", watermark_delay="10 minutes")
    sw.start(str(tmp_path / "ckpt_once"))
    seen = []
    sw.process_available()
    seen.append(sw.store.n_late_rows)
    for stamps in files[1:]:
        write(stamps)
        sw.process_available()
        seen.append(sw.store.n_late_rows)
    sw.process_available()  # nothing new: nothing re-counted
    seen.append(sw.store.n_late_rows)
    sw.stop()
    assert seen == [0, 5, 5, 5]
    assert sw.snapshot_index(WM, ADV).landmark()["cnt"] == 4


def test_streaming_keyed_wheel_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    """Per-series streaming rollup == batch KeyedWheelIndex: every key's
    landmark and random ranges agree — KeyedWheelIndex's insert/advance
    semantics maintained incrementally by Structured Streaming."""
    from uwheel_datafusion_spark.operators.keyed_wheel import KeyedWheelIndex

    ev = load_table(spark, sf_smoke, "events")
    batch = KeyedWheelIndex.build(ev, "event_type", "ts", "value", WM, ADV)

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "value", "event_type")
    )
    sw = StreamingWheel(
        stream, "ts", "value", watermark_delay="31 days", key_col="event_type"
    )
    sw.start(str(tmp_path / "ckpt_keyed"))
    sw.process_available()
    sw.stop()

    keyed = sw.snapshot_keyed_indexes(WM, ADV)
    assert set(keyed) == set(batch.keys())
    import random

    rng = random.Random(11)
    n_min = (ADV - WM) // MINUTE_MS
    for k in batch.keys():
        assert keyed[k].landmark() == batch.query_all(k, WM, ADV)
        for _ in range(5):
            a = rng.randrange(0, n_min)
            b = rng.randrange(a + 1, n_min + 1)
            s, e = WM + a * MINUTE_MS, WM + b * MINUTE_MS
            assert keyed[k].query_all(s, e) == batch.query_all(k, s, e)


def test_streaming_restart_resumes_exactly_once(spark, sf_smoke, tmp_path):
    """Kill-and-restart lifecycle: the Spark checkpoint makes the source
    exactly-once (consumed micro-batches are NOT replayed), so the
    RollupStore must be persisted alongside the checkpoint and reloaded
    on restart — the contract documented on RollupStore. A restarted
    StreamingWheel with (old checkpoint + loaded store) must converge to
    the same index as the batch build; a fresh store with the old
    checkpoint would silently lose chunk-1's slots."""
    from uwheel_datafusion_spark.streaming.wheel_stream import RollupStore

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "restart_in")
    os.makedirs(src)
    ckpt = str(tmp_path / "restart_ckpt")
    store_path = str(tmp_path / "rollup_store.json")
    split = "2024-01-16 00:00:00"

    # run 1: first half, then a clean shutdown (store saved)
    ev.filter(F.col("ts") < F.lit(split).cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("ts", "value")
    )
    sw1 = StreamingWheel(stream, "ts", "value", watermark_delay="31 days")
    sw1.start(ckpt)
    sw1.process_available()
    sw1.stop()
    sw1.store.save(store_path)
    n_slots_run1 = len(sw1.store.slots)
    assert n_slots_run1 > 0

    # run 2: restart from the same checkpoint with the LOADED store,
    # feed the second half
    ev.filter(F.col("ts") >= F.lit(split).cast("timestamp")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("ts", "value")
    )
    sw2 = StreamingWheel(
        stream2, "ts", "value", watermark_delay="31 days",
        store=RollupStore.load(store_path),
    )
    sw2.start(ckpt)
    sw2.process_available()
    sw2.stop()

    batch_idx = WheelIndex.build(ev, "ts", "value", WM, ADV).to_driver_index()
    stream_idx = sw2.snapshot_index(WM, ADV)
    assert stream_idx.landmark() == batch_idx.landmark()
    # spot ranges across the restart boundary
    for s, e in [
        (WM, WM + 10 * 86_400_000),
        (WM + 14 * 86_400_000, WM + 18 * 86_400_000),
        (WM + 20 * 86_400_000, ADV),
    ]:
        assert stream_idx.query_sum(s, e) == batch_idx.query_sum(s, e)
        assert stream_idx.query_count(s, e) == batch_idx.query_count(s, e)


def test_stateful_sessionizer_matches_batch(spark, sf_smoke, tmp_path):
    """applyInPandasWithState sessionizer == batch session_window_agg.
    Chunks are fed strictly in time order (one write + drain per chunk)
    — the operator's documented ordering contract across micro-batches;
    far-future sentinel events then advance the watermark so every
    event-time timeout fires."""
    from uwheel_datafusion_spark.operators.windows import session_window_agg
    from uwheel_datafusion_spark.streaming.stateful import StreamingSessionizer

    GAP_MS = 1_800_000
    ev = load_table(spark, sf_smoke, "events").select("user_id", "ts", "value")
    batch = {
        (r["user_id"], r["session_start_ms"]): (
            r["session_end_ms"],
            r["cnt"],
            r["sum_value"],
        )
        for r in session_window_agg(ev, gap_ms=GAP_MS).collect()
    }

    src = str(tmp_path / "sess_in")
    os.makedirs(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ss = StreamingSessionizer(stream, gap_ms=GAP_MS)
    ss.start(str(tmp_path / "ckpt_sess"))

    bounds = [f"2024-01-{d:02d} 00:00:00" for d in (1, 9, 17, 25)] + [
        "2024-02-01 00:00:00"
    ]
    for lo, hi in zip(bounds, bounds[1:]):
        chunk = ev.filter(
            (F.col("ts") >= F.lit(lo).cast("timestamp"))
            & (F.col("ts") < F.lit(hi).cast("timestamp"))
        )
        chunk.coalesce(1).write.mode("append").parquet(src)
        ss.process_available()

    # sentinels: watermark must pass every session end, and timeouts
    # fire in the trigger AFTER the watermark advances — hence two
    for ts in ("2024-03-01 00:00:00", "2024-03-02 00:00:00"):
        spark.createDataFrame(
            [(-1, ts, 0.0)], "user_id long, ts_s string, value double"
        ).select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src)
        ss.process_available()
    ss.stop()

    got = {
        (d["user_id"], d["session_start_ms"]): (
            d["session_end_ms"],
            d["cnt"],
            d["sum_value"],
        )
        for d in ss.closed_sessions()
        if d["user_id"] >= 0
    }
    assert got == batch


def test_streaming_sliding_window_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    """Streaming hopping-window aggregation (update mode, foreachBatch
    upsert) converges to the batch sliding_window_agg result."""
    from uwheel_datafusion_spark.operators.windows import sliding_window_agg
    from uwheel_datafusion_spark.functions.quant import value_to_micros

    ev = load_table(spark, sf_smoke, "events")
    batch = {
        r["w_start_ms"]: (r["cnt"], r["sum_value"])
        for r in sliding_window_agg(ev).collect()
    }

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "value")
    )
    agg = (
        ensure_event_time(stream, "ts")
        .withWatermark("ts", "31 days")
        .groupBy(F.window("ts", "3600 seconds", "900 seconds").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(value_to_micros(F.col("value"))).alias("sum_micros"),
        )
        .select(
            ts_to_ms(F.col("w.start")).alias("w_start_ms"),
            "cnt",
            "sum_micros",
        )
    )
    store: dict = {}

    def sink(bdf, epoch_id):
        for r in bdf.collect():
            store[r["w_start_ms"]] = (r["cnt"], r["sum_micros"] / 1_000_000)

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .foreachBatch(sink)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert store == batch


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """Streaming exact dedup (`dropDuplicatesWithinWatermark`) must
    keep one row per key across micro-batches — the streaming twin of
    the batch `dedup_exact_groups` operator; duplicates arrive in a
    LATER micro-batch but within the watermark delay."""
    src = str(tmp_path / "dedup_in")
    os.makedirs(src)

    def mk(rows):
        return spark.createDataFrame(
            rows, "ts_s string, k bigint, value double"
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "k", "value")

    chunk1 = mk([("2024-01-10 12:00:00", 1, 1.0), ("2024-01-10 12:01:00", 2, 2.0)])
    chunk2 = mk([("2024-01-10 12:05:00", 2, 9.0), ("2024-01-10 12:06:00", 3, 3.0)])
    chunk1.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(chunk1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["k"])
    )
    seen: list[int] = []
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(
            lambda b, _eid: seen.extend(r.k for r in b.select("k").collect())
        )
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # feed the duplicate-bearing chunk only after the first drained
    # (the file source does not order files chronologically)
    chunk2.coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()

    batch_keys = sorted(
        r.k
        for r in chunk1.unionByName(chunk2).dropDuplicates(["k"]).select("k").collect()
    )
    assert sorted(seen) == batch_keys == [1, 2, 3]


def test_stream_static_join_enrichment(spark, sf_smoke, stream_dir, tmp_path):
    """Stream-static broadcast join: enrich a stream with a static
    dimension (event_type -> weight), then a windowed weighted sum.
    The static side re-broadcasts per micro-batch; no stateful join
    state is needed — this is THE scale pattern for dimension
    enrichment (a stream-stream join would shuffle both sides and
    keep watermark state)."""
    from pyspark.sql import functions as SF

    weights = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 5), ("signup", 3), ("error", 0)],
        "event_type string, weight int",
    )

    ev = load_table(spark, sf_smoke, "events")
    # compare on epoch-ms keys: driver-side datetime conversion differs
    # between TIMESTAMP (session-tz) and TIMESTAMP_NTZ (naive) columns
    expected = {
        r["h"]: r["wsum"]
        for r in (
            ev.join(SF.broadcast(weights), "event_type")
            .groupBy(ts_to_ms(SF.date_trunc("hour", "ts")).alias("h"))
            .agg(SF.sum(SF.col("weight").cast("long")).alias("wsum"))
            .collect()
        )
    }

    schema = load_table(spark, sf_smoke, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "event_type")
    )
    enriched = (
        ensure_event_time(stream.join(SF.broadcast(weights), "event_type"), "ts")
        .withWatermark("ts", "31 days")
        .groupBy(SF.window("ts", "1 hour").alias("w"))
        .agg(SF.sum(SF.col("weight").cast("long")).alias("wsum"))
        .select(ts_to_ms(SF.col("w.start")).alias("h"), "wsum")
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("stream_static_enriched")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["h"]: r["wsum"]
        for r in spark.sql("SELECT * FROM stream_static_enriched").collect()
    }
    assert got == expected


def test_streaming_hll_distinct_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    """StreamingDistinctWheel: the micro-batch-maintained HLL rollup is
    estimate-IDENTICAL per minute bucket to the batch build over the
    same rows (register-max associativity), and range serving over the
    snapshot lands inside the 5% band vs the exact distinct count."""
    from uwheel_datafusion_spark.operators.distinct import (
        build_hll_rollup,
        range_distinct_hll,
    )
    from uwheel_datafusion_spark.streaming.wheel_stream import (
        StreamingDistinctWheel,
    )

    ev = load_table(spark, sf_smoke, "events")
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "user_id")
    )
    sdw = StreamingDistinctWheel(stream, "ts", "user_id", watermark_delay="31 days")
    sdw.start(str(tmp_path / "ckpt_hll"))
    sdw.process_available()
    sdw.stop()

    snap = sdw.snapshot_rollup(spark)
    batch = build_hll_rollup(ev, "ts", "user_id", WM, ADV, cache=False)
    est_s = {
        r["bucket_ms"]: r["e"]
        for r in snap.select(
            "bucket_ms", F.hll_sketch_estimate("hll").alias("e")
        ).collect()
    }
    est_b = {
        r["bucket_ms"]: r["e"]
        for r in batch.select(
            "bucket_ms", F.hll_sketch_estimate("hll").alias("e")
        ).collect()
    }
    assert est_s == est_b and len(est_b) > 0

    s, e = WM, WM + 14 * 86_400_000
    approx = range_distinct_hll(snap, s, e).first()["n_distinct_approx"]
    exact = (
        ev.filter(
            (F.col("ts") >= F.timestamp_millis(F.lit(s)).cast("timestamp_ntz"))
            & (F.col("ts") < F.timestamp_millis(F.lit(e)).cast("timestamp_ntz"))
        )
        .select("user_id")
        .distinct()
        .count()
    )
    assert abs(approx - exact) <= 0.05 * exact


def test_stream_stream_interval_join_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    """Stream-stream interval join (streaming/join_stream): clicks
    within 5 min after a purchase by the same user, as an unbounded
    inner join with watermark-bounded state — must emit EXACTLY the
    batch binned_interval_join pairs once both sides are drained
    (the streaming-equals-batch evidence style of the other §2.9
    paths)."""
    from uwheel_datafusion_spark.operators.rangejoin import binned_interval_join
    from uwheel_datafusion_spark.streaming.join_stream import interval_join_stream

    W_MS = 300_000
    ev = load_table(spark, sf_smoke, "events")
    expected = sorted(
        (r["user_id"], r["purchase_event_id"], r["click_event_id"], r["gap_ms"])
        for r in binned_interval_join(
            ev.filter(F.col("event_type") == "purchase").withColumnRenamed(
                "event_id", "purchase_event_id"
            ),
            ev.filter(F.col("event_type") == "click").withColumnRenamed(
                "event_id", "click_event_id"
            ),
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            window_ms=W_MS,
            left_id="purchase_event_id",
            right_id="click_event_id",
        ).collect()
    )
    assert len(expected) > 0

    schema = ev.schema

    def side(event_type: str, id_alias: str):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
            .filter(F.col("event_type") == event_type)
            .withColumnRenamed("event_id", id_alias)
            .select(id_alias, "user_id", "ts")
        )

    joined = interval_join_stream(
        side("purchase", "purchase_event_id"),
        side("click", "click_event_id"),
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        window_ms=W_MS,
        left_id="purchase_event_id",
        right_id="click_event_id",
        watermark_delay="31 days",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_pairs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["user_id"], r["purchase_event_id"], r["click_event_id"], r["gap_ms"])
        for r in spark.sql("SELECT * FROM ssj_pairs").collect()
    )
    assert got == expected


def test_streaming_bottomk_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    """Streaming bottom-k maintenance: the foreachBatch set-union +
    re-truncate merge must yield a rollup BIT-IDENTICAL to the batch
    build over the same rows (merge exactness), and serve the same
    sample."""
    from uwheel_datafusion_spark.operators.bottomk import (
        build_bottomk_rollup,
        range_sample_df,
    )
    from uwheel_datafusion_spark.streaming.wheel_stream import (
        StreamingBottomKWheel,
    )

    K = 10
    ev = load_table(spark, sf_smoke, "events")
    batch = build_bottomk_rollup(
        ev, "ts", "user_id", WM, ADV, k=K, cache=False
    )

    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "user_id")
    )
    sbk = StreamingBottomKWheel(stream, "ts", "user_id", k=K)
    sbk.start(str(tmp_path / "ckpt_bk"))
    sbk.process_available()
    sbk.stop()
    snap = sbk.snapshot_rollup(spark)

    got = {
        (r["bucket_ms"], r["h"], r["key"]) for r in snap.collect()
    }
    want = {
        (r["bucket_ms"], r["h"], r["key"]) for r in batch.collect()
    }
    assert got == want and len(want) > 0

    s, e = WM, WM + 14 * 86_400_000
    got_sample = [
        (r["h"], r["key"]) for r in range_sample_df(snap, s, e, K).collect()
    ]
    want_sample = [
        (r["h"], r["key"]) for r in range_sample_df(batch, s, e, K).collect()
    ]
    assert got_sample == want_sample


def test_streaming_ohlc_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    """StreamingOHLCWheel: the ts-carrying candle partial maintained in
    the streaming state store is BIT-IDENTICAL per minute bucket to the
    batch build over the same rows (min_by/max_by associativity + the
    fixed (ts, value) tie-break), and the cascade serves day candles
    from the snapshot exactly as from the batch rollup."""
    from uwheel_datafusion_spark.functions.time import DAY_MS
    from uwheel_datafusion_spark.operators.ohlc import (
        build_ohlc_rollup,
        cascade_ohlc,
    )
    from uwheel_datafusion_spark.streaming.wheel_stream import StreamingOHLCWheel

    ev = load_table(spark, sf_smoke, "events")
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "value")
    )
    sow = StreamingOHLCWheel(stream, "ts", "value", watermark_delay="31 days")
    sow.start(str(tmp_path / "ckpt_ohlc"))
    sow.process_available()
    sow.stop()

    snap = sow.snapshot_rollup(spark)
    batch = build_ohlc_rollup(ev, "ts", "value", WM, ADV, cache=False)
    cols = [
        "bucket_ms", "open_ts_ms", "open", "high", "low",
        "close_ts_ms", "close", "cnt",
    ]
    got = {tuple(r) for r in snap.select(*cols).collect()}
    want = {tuple(r) for r in batch.select(*cols).collect()}
    assert got == want and len(want) > 0

    day_s = {tuple(r) for r in cascade_ohlc(snap, DAY_MS).select(*cols).collect()}
    day_b = {tuple(r) for r in cascade_ohlc(batch, DAY_MS).select(*cols).collect()}
    assert day_s == day_b and len(day_b) > 0


def test_streaming_histogram_equals_batch(spark, sf_smoke, stream_dir, tmp_path):
    """StreamingHistogramWheel: the maintained (bucket, bin) counts are
    bit-identical to the batch histogram build, and median serving from
    the snapshot equals serving from the batch rollup."""
    from uwheel_datafusion_spark.operators.quantile_rollup import (
        build_histogram_rollup,
        range_quantile_df,
    )
    from uwheel_datafusion_spark.streaming.wheel_stream import (
        StreamingHistogramWheel,
    )

    ev = load_table(spark, sf_smoke, "events")
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "value")
    )
    shw = StreamingHistogramWheel(stream, "ts", "value", watermark_delay="31 days")
    shw.start(str(tmp_path / "ckpt_hist"))
    shw.process_available()
    shw.stop()

    snap = shw.snapshot_rollup(spark)
    batch = build_histogram_rollup(ev, "ts", "value", WM, ADV, cache=False)
    got = {(r["bucket_ms"], r["bin"]): r["cnt"] for r in snap.collect()}
    want = {(r["bucket_ms"], r["bin"]): r["cnt"] for r in batch.collect()}
    assert got == want and len(want) > 0

    s, e = WM, WM + 14 * 86_400_000
    med_s = range_quantile_df(snap, s, e, 0.5).first()
    med_b = range_quantile_df(batch, s, e, 0.5).first()
    assert tuple(med_s) == tuple(med_b)


def test_streaming_mg_verified_equals_truth(spark, sf_smoke, stream_dir, tmp_path):
    """StreamingMGWheel: the streamed-and-merged MG sketch differs from
    a single-pass build (error adds per merge) but (1) per-slot
    lower/upper bounds still sandwich the true counts and (2) the
    candidates→exact-verify serving contract returns EXACTLY the direct
    GROUP BY/HAVING heavy hitters, with the merge budget covered by
    cascade_levels=1 (time-ordered files touch each slot ≤ 2×)."""
    from pyspark.sql import functions as F

    from uwheel_datafusion_spark.functions.time import MINUTE_MS
    from uwheel_datafusion_spark.operators.mgsketch import (
        range_heavy_hitters_verified,
    )
    from uwheel_datafusion_spark.streaming.wheel_stream import StreamingMGWheel

    key_sql = "CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END"
    m = 39
    ev = load_table(spark, sf_smoke, "events")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select("ts", "user_id")
    )
    smg = StreamingMGWheel(stream, "ts", key_sql, m=m)
    smg.start(str(tmp_path / "ckpt_mg"))
    smg.process_available()
    smg.stop()
    snap = smg.snapshot_rollup(spark)

    # (1) sandwich invariant per (slot, kept key): served ≤ true ≤ served+bound
    truth_slot = {
        (r["bucket_ms"], r["key"]): r["cnt"]
        for r in ev.select(
            (
                F.floor(
                    F.unix_millis(F.col("ts").cast("timestamp")) / MINUTE_MS
                ).cast("long") * MINUTE_MS
            ).alias("bucket_ms"),
            F.expr(key_sql).cast("long").alias("key"),
        )
        .groupBy("bucket_ms", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    rows = snap.collect()
    assert rows
    for r in rows:
        t = truth_slot[(r["bucket_ms"], r["key"])]
        assert r["cnt"] <= t <= r["cnt"] + r["bound"], (tuple(r), t)

    # (2) exact verified heavy hitters over a 2-week range == direct truth
    s, e = WM, WM + 14 * 86_400_000
    got = {
        (r["key"], r["cnt"])
        for r in range_heavy_hitters_verified(
            ev, "ts", F.expr(key_sql), snap, s, e,
            m=m, count_frac_den=5, cascade_levels=1,
        ).collect()
    }
    pred = (
        (F.col("ts") >= F.timestamp_millis(F.lit(s)).cast("timestamp_ntz"))
        & (F.col("ts") < F.timestamp_millis(F.lit(e)).cast("timestamp_ntz"))
    )
    d = ev.filter(pred).select(F.expr(key_sql).cast("long").alias("key"))
    n = d.count()
    want = {
        (r["key"], r["cnt"])
        for r in d.groupBy("key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * 5 >= F.lit(n))
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_mg_restart_with_state_dir(spark, sf_smoke, tmp_path):
    """Restart-safe state (ADVICE r4): an MG wheel killed after its
    state was persisted and restarted with the SAME (checkpoint,
    state_dir) pair must converge to exactly the sketch a never-killed
    wheel builds over the full stream — the delta-merging MG fold is
    the non-idempotent wheel the epoch guard exists for."""
    from uwheel_datafusion_spark.streaming.wheel_stream import StreamingMGWheel

    key_sql = "CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END"
    m = 39
    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "mg_restart_in")
    os.makedirs(src)
    ckpt = str(tmp_path / "mg_restart_ckpt")
    state = str(tmp_path / "mg_restart_state")
    split = "2024-01-16 00:00:00"

    def mk_stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("ts", "user_id")
        )

    # run 1: first half, clean shutdown (state auto-persisted per epoch)
    ev.filter(F.col("ts") < F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(src)
    w1 = StreamingMGWheel(mk_stream(), "ts", key_sql, m=m)
    w1.start(ckpt, state_dir=state)
    w1.process_available()
    w1.stop()
    assert w1.slots

    # run 2: fresh object, same checkpoint + state_dir, second half
    ev.filter(F.col("ts") >= F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(src)
    w2 = StreamingMGWheel(mk_stream(), "ts", key_sql, m=m)
    w2.start(ckpt, state_dir=state)
    w2.process_available()
    w2.stop()

    # reference: never-killed wheel over both chunks, fresh checkpoint
    w3 = StreamingMGWheel(mk_stream(), "ts", key_sql, m=m)
    w3.start(str(tmp_path / "mg_ref_ckpt"))
    w3.process_available()
    w3.stop()
    assert w2.slots == w3.slots


def test_streaming_wheel_state_dir_restart(spark, sf_smoke, tmp_path):
    """StreamingWheel with state_dir: restart converges to the batch
    index without any manual save/load call."""
    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "sw_restart_in")
    os.makedirs(src)
    ckpt = str(tmp_path / "sw_restart_ckpt")
    state = str(tmp_path / "sw_restart_state")
    split = "2024-01-16 00:00:00"

    def mk_stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("ts", "value")
        )

    ev.filter(F.col("ts") < F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(src)
    w1 = StreamingWheel(mk_stream(), "ts", "value", watermark_delay="31 days")
    w1.start(ckpt, state_dir=state)
    w1.process_available()
    w1.stop()

    ev.filter(F.col("ts") >= F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(src)
    w2 = StreamingWheel(mk_stream(), "ts", "value", watermark_delay="31 days")
    w2.start(ckpt, state_dir=state)
    w2.process_available()
    w2.stop()

    batch_idx = WheelIndex.build(ev, "ts", "value", WM, ADV).to_driver_index()
    stream_idx = w2.snapshot_index(WM, ADV)
    assert stream_idx.landmark() == batch_idx.landmark()
    for s, e in [(WM, WM + 10 * 86_400_000), (WM + 14 * 86_400_000, ADV)]:
        assert stream_idx.query_sum(s, e) == batch_idx.query_sum(s, e)
        assert stream_idx.query_count(s, e) == batch_idx.query_count(s, e)


CRASH_SCHEMA = "ts timestamp, value double, user_id long, doc_id long, text string"


def _crash_file(src, i):
    """File i: six rows over minutes 2i and 2i+1 of 2024-01-01."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = range(6 * i, 6 * i + 6)
    os.makedirs(src, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(
                    [datetime(2024, 1, 1, 0, 2 * i + j // 3, j % 3 * 20)
                     for j in range(6)],
                    pa.timestamp("us"),
                ),
                "value": [float(x % 5) for x in n],
                "user_id": pa.array([x % 4 for x in n], pa.int64()),
                "doc_id": pa.array(list(n), pa.int64()),
                "text": [f"doc {x % 5}" for x in n],
            }
        ),
        os.path.join(src, f"part-{i}.parquet"),
    )


def _crash_cases():
    from uwheel_datafusion_spark.streaming.dedup_stream import (
        StreamingExactDedup,
    )
    from uwheel_datafusion_spark.streaming.wheel_stream import (
        StreamingBottomKWheel,
        StreamingDistinctWheel,
        StreamingHistogramWheel,
        StreamingMGWheel,
        StreamingOHLCWheel,
    )

    # kind → (wheel over the stream, its folded state)
    return {
        "distinct": (
            lambda s: StreamingDistinctWheel(s, "ts", "user_id"),
            lambda w: w.slots,
        ),
        "bottomk": (
            lambda s: StreamingBottomKWheel(s, "ts", "user_id", k=2),
            lambda w: w.slots,
        ),
        "mg": (
            lambda s: StreamingMGWheel(s, "ts", "user_id", m=2),
            lambda w: w.slots,
        ),
        "histogram": (
            lambda s: StreamingHistogramWheel(s, "ts", "value"),
            lambda w: w.slots,
        ),
        "ohlc": (
            lambda s: StreamingOHLCWheel(s, "ts", "value"),
            lambda w: w.slots,
        ),
        "wheel": (
            lambda s: StreamingWheel(s, "ts", "value"),
            lambda w: w.store.slots,
        ),
        "dedup": (
            lambda s: StreamingExactDedup(s.select("doc_id", "text")),
            lambda w: w.store,
        ),
    }


@pytest.mark.parametrize(
    "kind",
    ["distinct", "bottomk", "mg", "histogram", "ohlc", "wheel", "dedup",
     "wheel_table", "wheel_manifest"],
)
def test_crash_replay_resumes_every_wheel(
    spark, tmp_path, uncommit_last_batch, kind
):
    """A crash after the sink persisted an epoch but before Spark
    committed it replays that epoch on restart. The epoch guard skips
    the fold but still runs the batch's plan, so a fresh object on the
    same (checkpoint, state_dir) — or table_dir, or manifest_root —
    resumes and ends with the slots of one uninterrupted run. Skipping
    the plan as well made every update-mode wheel die with
    STATE_STORE_COMMIT_VALIDATION_FAILED."""
    make, state_of = _crash_cases()[kind.partition("_")[0]]
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    table = str(tmp_path / "table")
    sink = {
        "wheel_table": {"table_dir": table},
        "wheel_manifest": {"manifest_root": table},
    }.get(kind, {"state_dir": str(tmp_path / "state")})

    def run(checkpoint, **kw):
        w = make(
            spark.readStream.schema(CRASH_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        w.start(checkpoint, **kw)
        w.process_available()
        w.stop()
        return w

    _crash_file(src, 0)
    _crash_file(src, 1)
    run(ckpt, **sink)
    assert uncommit_last_batch(ckpt) >= 1
    _crash_file(src, 2)
    resumed = run(ckpt, **sink)
    whole = state_of(run(str(tmp_path / "whole_ckpt")))
    got = (
        _sink_slots(spark, sink) if kind.startswith("wheel_")
        else state_of(resumed)
    )
    assert whole and got == whole


def _sink_slots(spark, sink):
    """The minute slots a StreamingWheel table or manifest sink holds."""
    from uwheel_datafusion_spark.operators.rollup_io import (
        load_rollup,
        manifest_rollup_read,
    )

    if "table_dir" in sink:
        df = load_rollup(spark, sink["table_dir"])
    else:
        df = manifest_rollup_read(spark, sink["manifest_root"])
    return {
        r["bucket_ms"]: (r["sum_micros"], r["cnt"], r["min_value"], r["max_value"])
        for r in df.collect()
    }


def test_crash_between_sinks_refolds_the_lagging_sink(
    spark, tmp_path, monkeypatch
):
    """StreamingWheel with state_dir AND manifest_root, crashed after an
    epoch's manifest commit but before its state_dir persist: the
    restart replays that epoch into the lagging driver store instead of
    taking the manifest's newer epoch as proof that every sink has it."""
    from pyspark.errors import StreamingQueryException

    from uwheel_datafusion_spark.operators.rollup_io import (
        manifest_rollup_read,
    )
    from uwheel_datafusion_spark.streaming import wheel_stream as ws

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "manifest")
    sinks = {"state_dir": str(tmp_path / "state"), "manifest_root": root}
    persist = ws._persist_state

    def crash_at_epoch_1(state_dir, slots, epoch_id, *args, **kw):
        if epoch_id == 1:
            raise RuntimeError("crash between the manifest commit and the persist")
        persist(state_dir, slots, epoch_id, *args, **kw)

    def wheel():
        return StreamingWheel(
            spark.readStream.schema(CRASH_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            "ts",
            "value",
        )

    _crash_file(src, 0)
    _crash_file(src, 1)
    monkeypatch.setattr(ws, "_persist_state", crash_at_epoch_1)
    w = wheel()
    w.start(ckpt, **sinks)
    with pytest.raises(StreamingQueryException):
        w.process_available()
    w.stop()
    monkeypatch.undo()

    w = wheel()
    w.start(ckpt, **sinks)
    w.process_available()
    w.stop()
    table = {
        r["bucket_ms"]: (r["sum_micros"], r["cnt"], r["min_value"], r["max_value"])
        for r in manifest_rollup_read(spark, root).collect()
    }
    assert len(table) == 4 and w.store.slots == table


@pytest.mark.parametrize("site", ["marker", "swap"])
def test_table_crash_between_swap_and_marker_refolds(
    spark, tmp_path, monkeypatch, site
):
    """Table-only StreamingWheel crashed in epoch 1's ``_sink_meta.json``
    write (``marker``: nothing of the epoch landed) or in its partition
    upsert after the marker (``swap``): the restart redoes the marked
    epoch's swaps, restores the store from the table, and the table
    equals one uninterrupted run."""
    from pyspark.errors import StreamingQueryException

    from uwheel_datafusion_spark.operators import rollup_io
    from uwheel_datafusion_spark.streaming import wheel_stream as ws

    src = str(tmp_path / "in")
    sink = {"table_dir": str(tmp_path / "table")}
    module, name = (ws, "_persist_sink_meta") if site == "marker" else (
        rollup_io, "upsert_rollup"
    )
    write, calls = getattr(module, name), []

    def crash_at_epoch_1(*args):
        calls.append(args)
        if len(calls) == 2:  # one write per epoch
            raise RuntimeError(f"crash in {name} at epoch 1")
        write(*args)

    def run(checkpoint, **kw):
        w = StreamingWheel(
            spark.readStream.schema(CRASH_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            "ts",
            "value",
        )
        w.start(checkpoint, **kw)
        w.process_available()
        w.stop()
        return w

    _crash_file(src, 0)
    _crash_file(src, 1)
    monkeypatch.setattr(module, name, crash_at_epoch_1)
    with pytest.raises(StreamingQueryException):
        run(str(tmp_path / "ckpt"), **sink)
    monkeypatch.undo()
    resumed = run(str(tmp_path / "ckpt"), **sink)
    whole = run(str(tmp_path / "whole_ckpt")).store.slots
    assert len(whole) == 4 and _sink_slots(spark, sink) == whole
    assert resumed.store.slots == whole  # a 1-hour delay: every slot open


@pytest.mark.parametrize(
    "kind, party",
    [("wheel", "state_dir"), ("wheel", "table_dir"), ("wheel", None),
     ("mg", "state_dir")],
)
def test_same_object_restart_folds_each_epoch_once(
    spark, tmp_path, monkeypatch, uncommit_last_batch, kind, party
):
    """ONE object folds an epoch into its state, then loses it:
    ``state_dir`` (with a manifest for the wheel) crashes in the pickle
    at epoch 1, ``table_dir`` in its first marker (epoch 0: the table
    has saved nothing), and with no party epoch 1's commit is lost.
    Restarted with ``start()`` on the same checkpoint, the object folds
    the replayed epoch exactly once — a merge family would otherwise
    count its minutes twice — and equals one uninterrupted run."""
    from pyspark.errors import StreamingQueryException

    from uwheel_datafusion_spark.streaming import wheel_stream as ws

    make, state_of = _crash_cases()[kind]
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    sinks = {
        "state_dir": {"state_dir": str(tmp_path / "state")},
        "table_dir": {"table_dir": str(tmp_path / "table")},
        None: {},
    }[party]
    if kind == "wheel" and party == "state_dir":
        sinks["manifest_root"] = str(tmp_path / "manifest")

    def stream():
        return (
            spark.readStream.schema(CRASH_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    _crash_file(src, 0)
    _crash_file(src, 1)
    w = make(stream())
    if party is None:
        w.start(ckpt)
        w.process_available()
        w.stop()
        assert uncommit_last_batch(ckpt) == 1
    else:
        name = "_persist_state" if party == "state_dir" else "_persist_sink_meta"
        write, epoch = getattr(ws, name), int(party == "state_dir")

        def crash(*args, **kw):
            if args[2] == epoch:  # the epoch id of both writers
                raise RuntimeError(f"crash in {name} at epoch {epoch}")
            write(*args, **kw)

        monkeypatch.setattr(ws, name, crash)
        w.start(ckpt, **sinks)
        with pytest.raises(StreamingQueryException):
            w.process_available()
        w.stop()
        monkeypatch.undo()
    w.start(ckpt, **sinks)
    w.process_available()
    w.stop()
    whole = make(stream())
    whole.start(str(tmp_path / "whole_ckpt"))
    whole.process_available()
    whole.stop()
    assert len(state_of(whole)) == 4 and state_of(w) == state_of(whole)
    if kind == "wheel":
        assert (w.store.n_late_rows, w.store.watermark_ms) == (
            whole.store.n_late_rows,
            whole.store.watermark_ms,
        )
    if "table_dir" in sinks or "manifest_root" in sinks:
        assert _sink_slots(spark, sinks) == state_of(whole)


LATE_SCHEMA = "ts timestamp, value double, k long"


def _late_file(src, i, rows, mtime=None):
    """File i of ``(datetime, value, key)`` rows; ``mtime`` fixes the
    order in which the file source picks up files landed together."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src, exist_ok=True)
    ts, val, key = zip(*rows)
    path = os.path.join(src, f"part-{i}.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(ts, pa.timestamp("us")),
                "value": pa.array(val, pa.float64()),
                "k": pa.array(key, pa.int64()),
            }
        ),
        path,
    )
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def _stateful_oracle(stream, delay, key_col, checkpoint):
    """The stateful minute aggregate StreamingWheel used to run:
    ``withWatermark`` + windowed ``groupBy`` in update mode, upserting
    Spark's current totals; late drops are Spark's
    ``numRowsDroppedByWatermark``, each batch counted once."""
    from uwheel_datafusion_spark.functions.quant import value_to_micros

    group = [F.window("ts", "1 minute").alias("w")]
    slot = [ts_to_ms(F.col("w.start")).alias("bucket_ms")]
    if key_col is not None:
        group.append(F.col(key_col).alias("key"))
        slot.insert(0, F.col("key"))
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(*group)
        .agg(
            F.sum(value_to_micros(F.col("value"))).alias("sum_micros"),
            F.count(F.lit(1)).alias("cnt"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(*slot, "sum_micros", "cnt", "min_value", "max_value")
    )
    slots = {}
    n = len(slot)

    def sink(df, _epoch):
        for r in df.collect():
            slots[tuple(r[:n]) if n == 2 else r[0]] = tuple(r[n:])

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(sink)
        .start()
    )

    def late():
        batches = {p["batchId"]: p for p in q.recentProgress}
        return sum(
            int(op.get("numRowsDroppedByWatermark", 0))
            for p in batches.values()
            for op in p.get("stateOperators", [])
        )

    return q, slots, late


def _late_stream(spark, src):
    return (
        spark.readStream.schema(LATE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@pytest.mark.parametrize("key_col", [None, "k"])
def test_late_rule_matches_spark_stateful_aggregate(spark, tmp_path, key_col):
    """One ``process_available`` per file: the stateless fold keeps and
    drops exactly the slots Spark's own stateful aggregate does — a
    window ending AT the watermark is dropped, one ending a minute later
    is kept — and counts the same late rows (one row per late slot, so
    Spark's dropped partial aggregates are source rows)."""
    src = str(tmp_path / "in")
    t = lambda m, s=0: datetime(2024, 1, 1, 12, 0) + timedelta(minutes=m, seconds=s)  # noqa: E731
    files = [
        # max event 12:10 → watermark 12:00
        [(t(0), 1.0, 1), (t(10), 2.0, 2)],
        # [11:59, 12:00) ends at the watermark: dropped; [12:00, 12:01)
        # is kept; [11:30, 11:31) dropped. Watermark → 12:10
        [(t(-1, 30), 4.0, 1), (t(0, 30), 5.0, 1), (t(0, 40), 6.0, 2),
         (t(-30), 7.0, 2), (t(20), 8.0, 1)],
        # [12:09, 12:10) ends at the watermark: dropped
        [(t(9, 59), 9.0, 1), (t(10, 30), 3.0, 2)],
    ]
    _late_file(src, 0, files[0])
    w = StreamingWheel(
        _late_stream(spark, src), "ts", "value",
        watermark_delay="10 minutes", key_col=key_col,
    )
    w.start(str(tmp_path / "ckpt"))
    q, oracle, oracle_late = _stateful_oracle(
        _late_stream(spark, src), "10 minutes", key_col,
        str(tmp_path / "oracle_ckpt"),
    )
    try:
        for i, rows in enumerate(files):
            if i:
                _late_file(src, i, rows)
            w.process_available()
            q.processAllAvailable()
        # the wheel's plan keeps no Spark state; the oracle's does
        assert w._query.lastProgress["stateOperators"] == []
        assert q.lastProgress["stateOperators"]
    finally:
        w.stop()
        q.stop()
    assert w.store.n_late_rows == oracle_late() == 3
    assert w.store.slots == oracle and len(oracle) == (4 if key_col else 3)


def test_late_rule_ignores_trigger_timing(spark, tmp_path):
    """Files at minutes {0, 100}, {200} and {150, 50, 195}, 10-minute
    delay. Landed together, Spark's stateful aggregate filters the third
    file against the watermark of two batches back (90 min) and keeps
    minute 150; the fold filters against the latest one (190 min) and
    drops 150 and 50 whether the files land together or one trigger
    apart."""
    base = datetime(2024, 1, 1)
    files = [
        [(base + timedelta(minutes=m), float(m), 0) for m in ms]
        for ms in ([0, 100], [200], [150, 50, 195])
    ]
    want = {
        to_epoch_ms(base + timedelta(minutes=m)) for m in (0, 100, 200, 195)
    }

    def fold(tag, together):
        src = str(tmp_path / tag)
        for i, rows in enumerate(files[: 3 if together else 1]):
            _late_file(src, i, rows, mtime=1_700_000_000 + i)
        w = StreamingWheel(
            _late_stream(spark, src), "ts", "value", watermark_delay="10 minutes"
        )
        w.start(str(tmp_path / f"{tag}_ckpt"))
        w.process_available()
        for i in range(1, 1 if together else 3):
            _late_file(src, i, files[i])
            w.process_available()
        w.stop()
        return w.store

    for together in (True, False):
        store = fold(f"fold_{together}", together)
        assert set(store.slots) == want and store.n_late_rows == 2

    q, oracle, oracle_late = _stateful_oracle(
        _late_stream(spark, str(tmp_path / "fold_True")), "10 minutes", None,
        str(tmp_path / "oracle_ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert set(oracle) == want | {to_epoch_ms(base + timedelta(minutes=150))}
    assert oracle_late() == 1


def test_streaming_merge_is_null_safe(spark, tmp_path):
    """Spark's sum/min/max skip NULLs, so an all-NULL minute's partial
    is (None, cnt, None, None). Merging it with a later 2.0 — and with
    another all-NULL partial — must give the batch rollup's rows."""
    src = str(tmp_path / "in")
    m = lambda i: datetime(2024, 1, 1, 0, i)  # noqa: E731
    files = [
        [(m(0), None, 0), (m(1), None, 0), (m(2), 1.0, 0)],
        [(m(0), 2.0, 0), (m(1), None, 0), (m(2), None, 0)],
    ]
    _late_file(src, 0, files[0])
    w = StreamingWheel(_late_stream(spark, src), "ts", "value")
    w.start(str(tmp_path / "ckpt"))
    w.process_available()
    _late_file(src, 1, files[1])
    w.process_available()
    w.stop()
    batch = WheelIndex.build(
        spark.read.schema(LATE_SCHEMA).parquet(src), "ts", "value", WM, ADV,
        cache=False,
    )
    want = {
        r["bucket_ms"]: (r["sum_micros"], r["cnt"], r["min_value"], r["max_value"])
        for r in batch.rollups["minute"].collect()
    }
    assert w.store.slots == want
    assert want[to_epoch_ms(m(0))] == (2_000_000, 2, 2.0, 2.0)
    assert want[to_epoch_ms(m(1))] == (None, 2, None, None)


_RESTART_FILES = [
    # watermark → 2023-12-31 23:51:10
    [(datetime(2024, 1, 1, 0, 0, 10), 1.0, 0),
     (datetime(2024, 1, 1, 0, 1, 10), 2.0, 0)],
    # one late row; watermark → 00:21:00
    [(datetime(2023, 12, 31, 23, 50), 3.0, 0),
     (datetime(2024, 1, 1, 0, 30), 4.0, 0),
     (datetime(2024, 1, 1, 0, 31), 5.0, 0)],
    # minute 5 is late only against the pre-restart watermark
    [(datetime(2024, 1, 1, 0, 5), 6.0, 0),
     (datetime(2024, 1, 1, 0, 29), 7.0, 0),
     (datetime(2024, 1, 1, 0, 40), 8.0, 0)],
]


@pytest.fixture(scope="module")
def uninterrupted_wheel(spark, tmp_path_factory):
    """One uninterrupted in-memory run over ``_RESTART_FILES``."""
    base = tmp_path_factory.mktemp("uninterrupted")
    src = str(base / "in")
    for i, rows in enumerate(_RESTART_FILES):
        _late_file(src, i, rows, mtime=1_700_000_000 + i)
    w = StreamingWheel(
        _late_stream(spark, src), "ts", "value", watermark_delay="10 minutes"
    )
    w.start(str(base / "ckpt"))
    w.process_available()
    w.stop()
    return w.store


@pytest.mark.parametrize(
    "party", ["save_load", "state_dir", "table_dir", "manifest_root"]
)
def test_watermark_survives_restart(spark, tmp_path, uninterrupted_wheel, party):
    """Stop after two files, restart a FRESH object, then feed a row
    that is late only against the pre-restart watermark: every place
    the store is saved carries the watermark, so the result equals one
    uninterrupted run — same slots, same late count."""
    from uwheel_datafusion_spark.streaming.wheel_stream import RollupStore

    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    saved = str(tmp_path / "saved")
    sink = {} if party == "save_load" else {party: saved}

    def run(store=None):
        w = StreamingWheel(
            _late_stream(spark, src), "ts", "value",
            watermark_delay="10 minutes", store=store,
        )
        w.start(ckpt, **sink)
        w.process_available()
        w.stop()
        return w

    for i in (0, 1):
        _late_file(src, i, _RESTART_FILES[i], mtime=1_700_000_000 + i)
    first = run()
    assert first.store.n_late_rows == 1
    if party == "save_load":
        first.store.save(saved)
    _late_file(src, 2, _RESTART_FILES[2], mtime=1_700_000_002)
    w = run(RollupStore.load(saved) if party == "save_load" else None)
    slots = (
        w.store.slots if party in ("save_load", "state_dir")
        else _sink_slots(spark, sink)
    )
    assert slots == uninterrupted_wheel.slots
    assert w.store.n_late_rows == uninterrupted_wheel.n_late_rows == 2


def test_state_dir_checkpoint_mismatch_raises(tmp_path):
    """Regression (ADVICE r5): a populated state_dir restored under a
    DIFFERENT checkpoint dir must raise — epoch ids restart at 0 under
    a fresh checkpoint, so the epoch guard would otherwise silently
    skip all early batches as replays (undercounted state)."""
    import pytest as _pt

    from uwheel_datafusion_spark.streaming.wheel_stream import (
        _load_state,
        _persist_state,
    )

    state = str(tmp_path / "state")
    _persist_state(state, {1: 2}, 7, checkpoint="/ckpt/a")
    # same pairing restores fine
    st = _load_state(state, "/ckpt/a")
    assert st["slots"] == {1: 2} and st["epoch"] == 7
    # legacy snapshot without identity still restores (no false alarm)
    assert _load_state(state) is not None
    with _pt.raises(ValueError, match="checkpoint"):
        _load_state(state, "/ckpt/B")


def test_streaming_table_sink_kill_and_resume(spark, sf_smoke, tmp_path):
    """The dt-partitioned parquet TABLE sink (rollup_io.upsert_rollup
    via StreamingWheel.start(table_dir=...)): state lives in a table,
    not driver memory. Kill after chunk 1, resume a FRESH wheel object
    with the same (checkpoint, table_dir) — the table must converge to
    the batch minute rollup bit-for-bit, and serving reads the TABLE
    with day-partition pruning."""
    from uwheel_datafusion_spark.operators.rollup_io import load_rollup

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "tbl_in")
    os.makedirs(src)
    ckpt = str(tmp_path / "tbl_ckpt")
    table = str(tmp_path / "tbl_rollup")
    split = "2024-01-16 00:00:00"

    def mk_stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("ts", "value")
        )

    ev.filter(F.col("ts") < F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(src)
    w1 = StreamingWheel(mk_stream(), "ts", "value", watermark_delay="31 days")
    w1.start(ckpt, table_dir=table)
    w1.process_available()
    w1.stop()
    assert os.path.exists(os.path.join(table, "_sink_meta.json"))

    # fresh object — NOTHING restored driver-side; the table is the state
    ev.filter(F.col("ts") >= F.lit(split).cast("timestamp")).coalesce(
        1
    ).write.mode("append").parquet(src)
    w2 = StreamingWheel(mk_stream(), "ts", "value", watermark_delay="31 days")
    w2.start(ckpt, table_dir=table)
    w2.process_available()
    w2.stop()

    got = {
        r["bucket_ms"]: (r["sum_micros"], r["cnt"], r["min_value"], r["max_value"])
        for r in load_rollup(spark, table).collect()
    }
    batch = WheelIndex.build(ev, "ts", "value", WM, ADV, cache=False)
    want = {
        r["bucket_ms"]: (r["sum_micros"], r["cnt"], r["min_value"], r["max_value"])
        for r in batch.rollups["minute"].collect()
    }
    assert got == want

    # serving from the table: a day-range probe prunes dt partitions
    tbl = load_rollup(spark, table)
    day_s = WM + 9 * 86_400_000
    day_e = WM + 11 * 86_400_000
    from uwheel_datafusion_spark.operators.wheel import _bucket_range_pred

    probe = tbl.filter(_bucket_range_pred(tbl, day_s, day_e)).groupBy().agg(
        F.sum("sum_micros").alias("sm"), F.sum("cnt").alias("c")
    )
    row = probe.first()
    di = batch.to_driver_index()
    assert row["c"] == di.query_count(day_s, day_e)
    assert row["sm"] == round(di.query_sum(day_s, day_e) * 1e6)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re as _re

    pfs = _re.findall(r"PartitionFilters: \[(.*?)(?:\]|, Pushed)", plan)
    assert pfs and all("dt" in p for p in pfs), plan[:500]

    # mismatched checkpoint refuses (epoch ids incomparable)
    w3 = StreamingWheel(mk_stream(), "ts", "value", watermark_delay="31 days")
    with pytest.raises(ValueError, match="checkpoint"):
        w3.start(str(tmp_path / "other_ckpt"), table_dir=table)


def test_upsert_rollup_idempotent_and_torn_swap_recovery(spark, tmp_path):
    """upsert_rollup: re-applying a batch is a no-op (idempotent
    MERGE), and a torn partition swap (dt=X__old left behind with no
    live dt=X) is repaired on the next call."""
    import shutil

    from uwheel_datafusion_spark.operators.rollup_io import (
        load_rollup,
        upsert_rollup,
    )

    path = str(tmp_path / "up_rollup")
    day = 86_400_000
    rows1 = [(WM, 100, 1, 1.0, 1.0), (WM + day, 200, 2, 2.0, 2.0)]
    schema = "bucket_ms long, sum_micros long, cnt long, min_value double, max_value double"
    b1 = spark.createDataFrame(rows1, schema)
    upsert_rollup(spark, path, b1)
    # update day 1's slot + add day 3
    rows2 = [(WM, 150, 3, 0.5, 1.5), (WM + 2 * day, 300, 1, 3.0, 3.0)]
    b2 = spark.createDataFrame(rows2, schema)
    upsert_rollup(spark, path, b2)
    upsert_rollup(spark, path, b2)  # replay: must converge, not double
    got = {
        r["bucket_ms"]: (r["sum_micros"], r["cnt"])
        for r in load_rollup(spark, path).collect()
    }
    assert got == {WM: (150, 3), WM + day: (200, 2), WM + 2 * day: (300, 1)}

    # simulate a torn swap: move a live partition aside
    import glob

    part = glob.glob(os.path.join(path, "dt=*"))[0]
    os.rename(part, part + "__old")
    upsert_rollup(spark, path, b2)  # recovery restores it first
    got2 = {
        r["bucket_ms"]: r["cnt"] for r in load_rollup(spark, path).collect()
    }
    assert set(got2) == {WM, WM + day, WM + 2 * day}


def test_streaming_keyed_table_sink(spark, sf_smoke, tmp_path):
    """Keyed StreamingWheel with table_dir: the dt-partitioned table
    upserts on (key, bucket_ms) and converges to the batch keyed
    rollup bit-for-bit."""
    from uwheel_datafusion_spark.operators.keyed_wheel import KeyedWheelIndex
    from uwheel_datafusion_spark.operators.rollup_io import load_rollup

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "ktbl_in")
    os.makedirs(src)
    ckpt = str(tmp_path / "ktbl_ckpt")
    table = str(tmp_path / "ktbl_rollup")

    ev.repartitionByRange(3, "ts").write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("ts", "value", "event_type")
    )
    w = StreamingWheel(
        stream, "ts", "value", watermark_delay="31 days",
        key_col="event_type",
    )
    w.start(ckpt, table_dir=table)
    w.process_available()
    w.stop()

    got = {
        (r["key"], r["bucket_ms"]): (r["sum_micros"], r["cnt"])
        for r in load_rollup(spark, table).collect()
    }
    batch = KeyedWheelIndex.build_rollup(
        ev, "event_type", "ts", "value", WM, ADV
    )
    want = {
        (r["key"], r["bucket_ms"]): (r["sum_micros"], r["cnt"])
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def _append_sentinel(spark, ev, src):
    """One event far past horizon + watermark delay: advances the
    watermark beyond ADV so every in-horizon bucket finalizes, while a
    31-day delay keeps arbitrary file-arrival order from dropping
    in-horizon rows as late (its own bucket is filtered out)."""
    from datetime import datetime as _dt

    spark.createDataFrame(
        [(0, _dt(2024, 3, 10), 0, "view", 0.0, "{}")], ev.schema
    ).write.mode("append").parquet(src)


def test_streaming_twa_stitch_parity(spark, sf_smoke, tmp_path):
    """StreamingStitchWheel('twa'): buckets finalized by the custom
    stateful operator are BIT-IDENTICAL to build_twa_rollup's rows —
    the order-sensitive integral is exact under micro-batched arrival
    (applyInPandasWithState buffers each open bucket's samples)."""
    from uwheel_datafusion_spark.operators.twa import build_twa_rollup
    from uwheel_datafusion_spark.streaming.stitch_stream import (
        StreamingStitchWheel,
    )

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "twa_in")
    os.makedirs(src)
    ev.repartitionByRange(3, "ts").write.mode("append").parquet(src)
    _append_sentinel(spark, ev, src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("ts", "value")
    )
    w = StreamingStitchWheel(
        stream, "ts", "value", family="twa", watermark_delay="31 days"
    )
    w.start(str(tmp_path / "twa_ckpt"))
    w.process_available()
    w.stop()
    snap = w.snapshot_rollup(spark).filter(F.col("bucket_ms") < ADV)
    got = {
        r["bucket_ms"]: (
            r["first_ts_ms"], r["first_v"], r["last_ts_ms"], r["last_v"],
            int(r["area"]), r["cnt"],
        )
        for r in snap.collect()
    }
    want = {
        r["bucket_ms"]: (
            r["first_ts_ms"], r["first_v"], r["last_ts_ms"], r["last_v"],
            int(r["area"]), r["cnt"],
        )
        for r in build_twa_rollup(ev, "ts", "value", WM, ADV,
                                  cache=False).collect()
    }
    assert got == want and len(want) > 0

    # serving from the streamed rollup == serving from the batch rollup
    from uwheel_datafusion_spark.operators.twa import range_twa_df

    s, e = WM, WM + 10 * 86_400_000
    batch_rollup = build_twa_rollup(ev, "ts", "value", WM, ADV, cache=False)
    assert (
        range_twa_df(snap, s, e).first()["twa"]
        == range_twa_df(batch_rollup, s, e).first()["twa"]
    )


def test_streaming_counter_stitch_keyed_parity(spark, sf_smoke, tmp_path):
    """Keyed StreamingStitchWheel('counter'): per-series reset-aware
    partials finalize bit-identical to build_keyed_counter_rollup."""
    from uwheel_datafusion_spark.operators.counter import (
        build_keyed_counter_rollup,
    )
    from uwheel_datafusion_spark.streaming.stitch_stream import (
        StreamingStitchWheel,
    )

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "ctr_in")
    os.makedirs(src)
    ev.repartitionByRange(3, "ts").write.mode("append").parquet(src)
    _append_sentinel(spark, ev, src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("ts", "value", "event_type")
    )
    w = StreamingStitchWheel(
        stream, "ts", "value", family="counter", key_col="event_type",
        watermark_delay="31 days",
    )
    w.start(str(tmp_path / "ctr_ckpt"))
    w.process_available()
    w.stop()
    snap = w.snapshot_rollup(spark).filter(F.col("bucket_ms") < ADV)
    got = {
        (r["grp"], r["bucket_ms"]): (
            r["first_ts_ms"], r["first_vm"], r["last_ts_ms"], r["last_vm"],
            int(r["inc"]), r["cnt"],
        )
        for r in snap.collect()
    }
    batch = build_keyed_counter_rollup(
        ev, "ts", "value", "event_type", WM, ADV, cache=False
    )
    # the sentinel's own (view, out-of-horizon) bucket is filtered; its
    # in-horizon series rows are identical
    want = {
        (r["grp"], r["bucket_ms"]): (
            r["first_ts_ms"], r["first_vm"], r["last_ts_ms"], r["last_vm"],
            int(r["inc"]), r["cnt"],
        )
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_streaming_twa_stitch_table_sink(spark, sf_smoke, tmp_path):
    """Stitch partials stream into a dt-partitioned parquet TABLE via
    the built-in file sink (append-only: each bucket finalizes exactly
    once) — killed mid-stream and resumed, the committed table equals
    the batch rollup bit-for-bit and serves identically (exactly-once
    from the sink's _spark_metadata log, no driver memory)."""
    from uwheel_datafusion_spark.operators.twa import (
        build_twa_rollup,
        range_twa_df,
    )
    from uwheel_datafusion_spark.streaming.stitch_stream import (
        StreamingStitchWheel,
    )

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "in")
    os.makedirs(src)
    ev.repartitionByRange(4, "ts").write.mode("append").parquet(src)
    ckpt, table = str(tmp_path / "ckpt"), str(tmp_path / "table")

    def make_wheel():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("ts", "value")
        )
        return StreamingStitchWheel(
            stream, "ts", "value", family="twa", watermark_delay="31 days"
        )

    # first run over the initial files, then KILL
    w1 = make_wheel()
    w1.start(ckpt, table_dir=table)
    w1.process_available()
    w1.stop()
    # late files + the flush sentinel arrive; RESUME from the same
    # checkpoint into the same table
    _append_sentinel(spark, ev, src)
    w2 = make_wheel()
    w2.start(ckpt, table_dir=table)
    w2.process_available()
    w2.stop()

    got_df = w2.table_rollup(spark, table).filter(F.col("bucket_ms") < ADV)
    cols = ("first_ts_ms", "first_v", "last_ts_ms", "last_v", "cnt")
    got = {
        r["bucket_ms"]: tuple(r[c] for c in cols) + (int(r["area"]),)
        for r in got_df.collect()
    }
    batch = build_twa_rollup(ev, "ts", "value", WM, ADV, cache=False)
    want = {
        r["bucket_ms"]: tuple(r[c] for c in cols) + (int(r["area"]),)
        for r in batch.collect()
    }
    assert got == want and len(want) > 0
    # no duplicate buckets slipped past the commit log
    assert got_df.count() == got_df.select("bucket_ms").distinct().count()
    # serving reads the TABLE
    s, e = WM, WM + 10 * 86_400_000
    assert (
        range_twa_df(got_df, s, e).first()["twa"]
        == range_twa_df(batch, s, e).first()["twa"]
    )


def test_streaming_counter_stitch_keyed_table_sink(spark, sf_smoke, tmp_path):
    """Keyed stitch + table sink: per-series counter partials stream
    into the dt-partitioned parquet table (grp column rides along),
    killed and resumed, equal to build_keyed_counter_rollup."""
    from uwheel_datafusion_spark.operators.counter import (
        build_keyed_counter_rollup,
    )
    from uwheel_datafusion_spark.streaming.stitch_stream import (
        StreamingStitchWheel,
    )

    ev = load_table(spark, sf_smoke, "events")
    src = str(tmp_path / "in")
    os.makedirs(src)
    ev.repartitionByRange(4, "ts").write.mode("append").parquet(src)
    ckpt, table = str(tmp_path / "ckpt"), str(tmp_path / "table")

    def make_wheel():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("ts", "value", "event_type")
        )
        return StreamingStitchWheel(
            stream, "ts", "value", family="counter", key_col="event_type",
            watermark_delay="31 days",
        )

    w1 = make_wheel()
    w1.start(ckpt, table_dir=table)
    w1.process_available()
    w1.stop()
    _append_sentinel(spark, ev, src)
    w2 = make_wheel()
    w2.start(ckpt, table_dir=table)
    w2.process_available()
    w2.stop()

    got_df = w2.table_rollup(spark, table).filter(F.col("bucket_ms") < ADV)
    got = {
        (r["grp"], r["bucket_ms"]): (
            r["first_ts_ms"], r["first_vm"], r["last_ts_ms"], r["last_vm"],
            int(r["inc"]), r["cnt"],
        )
        for r in got_df.collect()
    }
    want = {
        (r["grp"], r["bucket_ms"]): (
            r["first_ts_ms"], r["first_vm"], r["last_ts_ms"], r["last_vm"],
            int(r["inc"]), r["cnt"],
        )
        for r in build_keyed_counter_rollup(
            ev, "ts", "value", "event_type", WM, ADV, cache=False
        ).collect()
    }
    assert got == want and len(want) > 0
    assert got_df.count() == got_df.select("grp", "bucket_ms").distinct().count()
