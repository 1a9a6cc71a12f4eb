"""Streaming deduplication — the ingest-time twin of operators/dedup.

A 100 TB corpus is not deduped once; it is deduped *as it arrives*.
Two streaming maintenance paths cover the batch tier's contracts:

1.  **StreamingExactDedup** — the exact digest registry
    (digest → canonical doc_id + count) maintained by a Structured
    Streaming aggregation in update mode. Each trigger emits the
    CURRENT totals for every touched digest, so the foreachBatch
    upsert is idempotent (exactly-once results under at-least-once
    micro-batch delivery — same contract as StreamingOHLCWheel). State is
    one row per distinct digest: the information-theoretic minimum
    for exact dedup, so there is deliberately no watermark eviction;
    bounded-memory approximations are the Bloom gate / LSH tiers
    (operators/spans.bloom_gate, dedup.lsh_incremental_candidates).

2.  **LSH band-index maintenance** — the persisted band table that
    incremental dedup probes (dedup.save_lsh_index) is APPEND-ONLY
    and map-only per document, so it streams through the built-in
    exactly-once parquet file sink: no custom state, no MERGE, crash
    recovery comes from the sink's transaction log (same shape as
    stitch_stream's table sink). A restarted query resumes from the
    checkpoint and never double-writes a batch's bands.

Parity contracts (gated): the final exact-dedup store hash-matches
the batch GROUP BY oracle; the streamed band index is row-identical
to the batch-built ``dedup.lsh_band_table`` — streaming and batch
build the SAME index, which is the module's whole point.

Reference scope: the reference engine (src/main.rs) has no dedup
tier; this is beyond-parity training-data infrastructure
(SURVEY.md §2.12) mirroring the streaming guarantees of
streaming/wheel_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.dialect import SPARK
from uwheel_datafusion_spark.streaming.wheel_stream import _DriverFoldStream


class StreamingExactDedup(_DriverFoldStream):
    """digest → (canonical_id, n_docs) from a document stream.

    ``canonical_id`` is the MINIMUM doc_id ever seen for the digest —
    deterministic under any arrival order and any micro-batch
    boundaries (min and count are order-insensitive), so the final
    store is bit-comparable to the batch GROUP BY no matter how the
    stream was chopped.

    Restart contract (pinned in test_dedup_stream): the aggregation
    state itself lives in the CHECKPOINT's state store, so a fresh
    object resuming the same checkpoint receives correct cumulative
    totals for every digest later batches touch. What a bare restart
    loses is the driver dict's rows for digests never touched again —
    pass ``state_dir`` to persist/restore the dict itself (the
    epoch-guarded lifecycle shared with StreamingWheel,
    wheel_stream._DriverFoldStream) and close that gap.
    """

    def __init__(
        self,
        stream_df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.store: dict[str, tuple[int, int]] = {}
        self._stream = (
            stream_df.select(
                F.col(id_col).alias("doc_id"),
                F.expr(SPARK.md5(text_col)).alias("text_md5"),
            )
            .groupBy("text_md5")
            .agg(
                F.min("doc_id").alias("canonical_id"),
                F.count(F.lit(1)).alias("n_docs"),
            )
        )

    def _state(self) -> dict:
        return self.store

    @staticmethod
    def _entry(r):
        return r.text_md5, (r.canonical_id, r.n_docs)

    # -- serving ----------------------------------------------------------

    def groups_df(self, spark) -> DataFrame:
        """The registry as a DataFrame: (text_md5, canonical_id,
        n_docs) — directly comparable to the batch GROUP BY oracle."""
        rows = [
            (d, cid, n) for d, (cid, n) in sorted(self.store.items())
        ]
        return spark.createDataFrame(
            rows, "text_md5 string, canonical_id bigint, n_docs bigint"
        )

    def dup_groups_df(self, spark) -> DataFrame:
        """Only digests seen ≥2 times (the exact_dup_groups twin)."""
        return self.groups_df(spark).filter(F.col("n_docs") >= 2)


# --------------------------------------------------------------------------
# streaming LSH band-index maintenance
# --------------------------------------------------------------------------


def band_rows_stream(stream_docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band_idx, band_hash) band rows from a STREAMING
    document source — the same dual-dialect expressions as
    dedup.lsh_band_table, minus the batch-only fan-out repartition
    (a streaming source owns its partitioning)."""
    from uwheel_datafusion_spark.operators.dedup import (
        N_BANDS,
        _band_hash_expr,
        _minhash_exprs,
        _token_hashes_expr,
    )

    hashed = stream_docs.select(
        "doc_id", F.expr(_token_hashes_expr(SPARK, text_col)).alias("_hs")
    )
    sig = hashed.select(
        "doc_id",
        *[
            F.expr(e).alias(f"mh{i}")
            for i, e in enumerate(_minhash_exprs(SPARK, "_hs"))
        ],
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.expr(_band_hash_expr(j)).alias("band_hash"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")


def start_lsh_index_stream(
    stream_docs: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Maintain the persisted LSH band index from a document stream.

    Band rows are append-only and map-only, so the built-in parquet
    file sink gives exactly-once semantics for free (transaction log
    in the checkpoint; a resumed query never double-writes). The table
    is partitioned by band_idx — identical layout to
    dedup.save_lsh_index, so dedup.lsh_incremental_candidates probes
    a streamed index and a batch-built index interchangeably."""
    return (
        band_rows_stream(stream_docs, text_col)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("band_idx")
        .start()
    )
