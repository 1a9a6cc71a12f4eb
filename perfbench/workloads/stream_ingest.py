"""stream_ingest — writes beside reads on one wheel.

Event-time chunks (one day of the reference month each) land as parquet
files in a directory that a file-source stream reads one file per
micro-batch. ``StreamingWheel`` (minute windows, a watermark delay)
folds each file; after each micro-batch the client takes
``snapshot_index`` and answers a fixed set of ranges from it.

- latency: freshness, from the moment a file lands (its rename into the
  watched directory) to the moment a snapshot answers with its rows;
  median over the run's micro-batches.
- throughput: rows folded per second of ingest (land, fold, snapshot and
  reads), per micro-batch, median over the run's micro-batches.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import gen, oracle
from perfbench.common import Ctx, Result, median, overhead_pct

DELAY_MS = 10 * gen.MINUTE_MS
N_CHUNKS = 31  # one per day of the month
N_READS = 32
WARM_BATCHES = 3


def _land(chunk, k: int, stage: str, watched: str) -> float:
    """Write chunk k beside the watched directory, then rename it in;
    returns the landing time."""
    tmp = os.path.join(stage, f"part-{k:04d}.parquet")
    gen.write_chunk(chunk, tmp)
    os.rename(tmp, os.path.join(watched, f"part-{k:04d}.parquet"))
    return time.perf_counter()


class Ingest:
    """The running stream plus the rows landed so far."""

    def __init__(self, ctx: Ctx, chunks, reads):
        from uwheel_datafusion_spark.streaming.wheel_stream import StreamingWheel

        self.ctx = ctx
        self.chunks = chunks
        self.reads = reads
        self.stage = os.path.join(ctx.work, "stage")
        self.watched = os.path.join(ctx.work, "landing")
        os.makedirs(self.stage)
        os.makedirs(self.watched)
        stream_df = (
            ctx.spark.readStream.schema("ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.watched)
        )
        self.sw = StreamingWheel(
            stream_df, "ts", "value", watermark_delay=f"{DELAY_MS // 1000} seconds"
        )
        self.query = self.sw.start(os.path.join(ctx.work, "checkpoint"))
        ctx.cleanup.append(self.sw.stop)
        self.k = 0
        self.on_ts: list = []
        self.on_val: list = []
        self.expect = oracle.Slots(gen.WM_MS, gen.ADV_MS)
        self.n_late = 0

    def step(self, res: Result):
        """Land, fold and read one chunk; returns (freshness s, ingest s,
        rows) or None when the month is used up."""
        if self.k >= len(self.chunks):
            return None
        ch = self.chunks[self.k]
        t0 = time.perf_counter()
        landed = _land(ch, self.k, self.stage, self.watched)
        self.sw.process_available()
        t_fold = time.perf_counter()
        snap = self.sw.snapshot_index(gen.WM_MS, gen.ADV_MS)
        t_snap = time.perf_counter()
        answers = [
            (snap.query_sum(s, e), snap.query_count(s, e), snap.query_min(s, e), snap.query_max(s, e))
            for s, e in self.reads
        ]
        t1 = time.perf_counter()
        self.k += 1
        self.on_ts.append(ch.ts_ms[~ch.late])
        self.on_val.append(ch.value[~ch.late])
        self.expect.add(ch.ts_ms[~ch.late], ch.value[~ch.late])
        self.n_late += int(ch.late.sum())
        res.attempted += 1
        self._check(res, answers)
        self.timing = (t_fold - landed, t_snap - t_fold)
        return t1 - landed, t1 - t0, len(ch.ts_ms)

    def _check(self, res: Result, answers) -> None:
        for (s, e), got in zip(self.reads, answers):
            want = tuple(self.expect.answer(a, s, e) for a in ("SUM", "COUNT", "MIN", "MAX"))
            if not all(oracle.scalars_equal(g, w) for g, w in zip(got, want)):
                res.check(
                    "snapshots equal NumPy over the on-time rows landed",
                    False,
                    f"chunk {self.k - 1} [{s},{e}): got {got} want {want}",
                )
                return

    def loop(self, res: Result, deadline=None, n=None, keep: int = 0):
        """Step until ``deadline`` (or n steps), leaving ``keep`` chunks
        unused; returns freshness (ms) and rows/s per micro-batch."""
        fresh, rates, fold_ms, snap_ms = [], [], [], []
        while (deadline is None or time.perf_counter() < deadline) and (
            n is None or len(fresh) < n
        ) and self.k < len(self.chunks) - keep:
            out = self.step(res)
            fresh.append(out[0] * 1e3)
            rates.append(out[2] / out[1])
            fold_ms.append(self.timing[0] * 1e3)
            snap_ms.append(self.timing[1] * 1e3)
        return fresh, rates, fold_ms, snap_ms


def run(ctx: Ctx) -> Result:
    rows_per_chunk = 4_000 if ctx.smoke else 80_000
    n_chunks = 8 if ctx.smoke else N_CHUNKS
    chunks = gen.stream_chunks(ctx.seed, n_chunks, rows_per_chunk, DELAY_MS)
    rng = np.random.default_rng([ctx.seed, 30])
    reads = gen.ranges(rng, N_READS // 2, gen.MINUTE_MS) + gen.ranges(
        rng, N_READS // 2, gen.HOUR_MS
    )
    res = Result()
    L = ctx.layers

    with ctx.phase("setup") as ph:
        t0 = time.perf_counter()
        ing = Ingest(ctx, chunks, reads)
        ph.also_group(str(ing.query.runId))
        ing.step(res)  # the first file: the stream is ready to serve
        res.setup_s = time.perf_counter() - t0
    # unmeasured: the first watermark, a warm state store and JIT; the
    # per-batch time still falls ~30 % over the next 25 batches
    for _ in range(1 if ctx.smoke else WARM_BATCHES):
        ing.step(res)

    # chunks left for the traced pass
    keep = (2 if ctx.smoke else 6) if ctx.trace else 0
    fresh, rates, _, _ = ing.loop(res, deadline=ctx.deadline(1.0), keep=keep)
    res.latency_ms = fresh
    res.throughput = median(rates)
    res.throughput_values = rates
    res.check("snapshots equal NumPy over the on-time rows landed", True)

    if ctx.trace:
        with ctx.phase("throughput") as ph:
            ph.also_group(str(ing.query.runId))
            t_fresh, t_rates, fold_ms, snap_ms = ing.loop(res, n=keep)
        ctx.phases["latency"] = ph  # one loop serves both metrics
        L.set("wheel_stream.process_available_ms", median(fold_ms))
        L.set("wheel_stream.snapshot_index_ms", median(snap_ms))
        L.set("trace.overhead.latency_pct", overhead_pct(median(fresh), median(t_fresh), "lower"))
        L.set(
            "trace.overhead.throughput_pct",
            overhead_pct(res.throughput, median(t_rates), "higher"),
        )
        prog = ing.query.lastProgress or {}
        ops = prog.get("stateOperators", [])
        L.set("spark.state_rows", sum(op.get("numRowsTotal", 0) for op in ops))
        L.set("spark.state_memory_bytes", sum(op.get("memoryUsedBytes", 0) for op in ops))

    # the counter is recorded, not checked: see the README (late rows)
    L.set("wheel_stream.late_rows_reported", ing.sw.store.n_late_rows)
    L.set("wheel_stream.late_rows_true", ing.n_late)
    _check_against_batch(ctx, ing, res)
    if ctx.trace:
        # the LLM-data tier is not in the timed set: its layers are
        # traced here, after the stream has stopped
        from perfbench.workloads import hybrid_retrieval

        ing.sw.stop()
        hybrid_retrieval.trace_layers(ctx, res)
    return res


def _check_against_batch(ctx: Ctx, ing: Ingest, res: Result) -> None:
    """The final snapshot must equal a batch WheelIndex.build over the
    same on-time rows, slot by slot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from uwheel_datafusion_spark.operators.wheel import WheelIndex

    ts, val = np.concatenate(ing.on_ts), np.concatenate(ing.on_val)
    path = os.path.join(ctx.work, "ontime.parquet")
    pq.write_table(
        pa.table({"ts": pa.array(ts * 1000, type=pa.timestamp("us")), "value": val}), path
    )
    batch = WheelIndex.build(
        ctx.spark.read.parquet(path), "ts", "value", gen.WM_MS, gen.ADV_MS
    ).to_driver_index()
    snap = ing.sw.snapshot_index(gen.WM_MS, gen.ADV_MS)
    day_end = gen.WM_MS + ing.k * gen.DAY_MS
    bad = [
        s
        for s in range(gen.WM_MS, day_end, gen.MINUTE_MS)
        if snap.query_all(s, s + gen.MINUTE_MS) != batch.query_all(s, s + gen.MINUTE_MS)
    ]
    res.check(
        "final snapshot equals a batch WheelIndex.build over the same rows",
        not bad,
        f"{len(bad)} minute slots differ, first at {bad[:1]}",
    )
