"""Streaming ANN index maintenance — the ingest-time twin of the wide
IVF tier (operators/similarity.ivf_build_wide / ivf_search_wide).

A production vector corpus is not indexed once: new embeddings arrive
continuously, and FAISS-style serving separates the *trained* coarse
quantizer (centroids, rebuilt rarely, offline) from the *assignment*
of vectors to cells (append-only, per vector, online). This module
streams the assignment half:

- the coarse centroids come from a batch ``ivf_build_wide`` (frozen —
  exactly how FAISS `add()` works after `train()`);
- each embedding micro-batch is assigned via the SAME Arrow-batched
  exact-int64 kernel as the batch build (`_assign_cells_passthrough`,
  map-only — legal in a stream, no state);
- (vec_id, cell) rows append through the built-in exactly-once parquet
  file sink, PARTITIONED BY cell — the same layout a 100 TB corpus
  wants (a probe's equi-join on the cell key prunes to the probed
  cells' partitions), with crash recovery from the sink's transaction
  log (a resumed query never double-writes a batch).

Parity contract (gated): the streamed cells table is row-identical to
the batch assignment under the same centroids, so an ``IvfIndex``
rebuilt from the streamed table serves ``ivf_search_wide`` with
bit-identical results — streaming ingest and batch build are
interchangeable, same as the streamed LSH band index
(streaming/dedup_stream.py).

Reference scope: the reference engine (src/main.rs) has no vector
tier; beyond-parity training-data infrastructure (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uwheel_datafusion_spark.functions.dialect import SPARK
from uwheel_datafusion_spark.operators.similarity import (
    Q_SCALE,
    IvfIndex,
    _assign_cells_passthrough,
)


def cells_rows_stream(
    stream_vecs: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell) assignment rows from a STREAMING embedding
    source against FROZEN coarse centroids — quantization + the Arrow
    argmin kernel, both map-only (no batch-only fan-out repartition: a
    streaming source owns its partitioning)."""
    d = SPARK
    qv = stream_vecs.select(
        "vec_id", F.expr(d.quantize_vec(vec_col, Q_SCALE)).alias("qvec")
    )
    return _assign_cells_passthrough(qv, centroids).select("vec_id", "cell")


def start_ivf_cells_stream(
    stream_vecs: DataFrame,
    centroids: list,
    table_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
):
    """Maintain the persisted IVF cells table from an embedding stream.

    Assignment rows are append-only and map-only, so the built-in
    parquet file sink gives exactly-once semantics for free. The table
    is partitioned by cell, so a probe reading it prunes to its nprobe
    cells' partitions."""
    return (
        cells_rows_stream(stream_vecs, centroids, vec_col)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("cell")
        .start()
    )


def ivf_index_from_table(
    spark, centroids: list, table_dir: str
) -> IvfIndex:
    """Rehydrate a servable IvfIndex from the streamed cells table —
    the batch/stream interchange point: ivf_search_wide neither knows
    nor cares which path populated the cells."""
    cells = spark.read.parquet(table_dir).select(
        F.col("vec_id").cast("long"), F.col("cell").cast("long")
    )
    return IvfIndex(
        centroids=centroids, cells=cells, n_cells=len(centroids)
    )


# --------------------------------------------------------------------------
# serving-complete payload streaming (round 9): stream the VECTORS too
# --------------------------------------------------------------------------
#
# (vec_id, cell) alone is not servable — a search would still join the
# corpus on vec_id to recover the vectors (the r8 layout gap: cell
# pruning saved compute but not I/O). The payload stream appends
# (cell, vec_id, qvec, qnorm) through the same exactly-once file sink,
# PARTITIONED BY cell, so ivf_search_served (operators/ann_serving.py)
# answers queries from the streamed table alone — zero corpus access,
# probed-partition reads only.


def payload_rows_stream(
    stream_vecs: DataFrame,
    centroids: list,
    vec_col: str = "embedding",
    include_binary: bool = False,
    dim: int = 64,
) -> DataFrame:
    """(cell, vec_id, qvec, qnorm) serving-complete payload rows from a
    STREAMING embedding source against FROZEN coarse centroids — one
    map-only pass per micro-batch: quantize, exact integer self-dot for
    the cosine norm, and the batch build's exact-int64 argmin kernel
    (_assign_cells_passthrough: same tie-break, NULL embeddings
    dropped). The batch twin is ann_serving.ivf_payload_frame, minus
    its batch-only fan-out repartition."""
    d = SPARK
    qv = stream_vecs.select(
        "vec_id", F.expr(d.quantize_vec(vec_col, Q_SCALE)).alias("qvec")
    ).withColumn("qnorm", F.expr(d.dot_q("qvec", "qvec")))
    out = _assign_cells_passthrough(qv, centroids).select(
        "cell", "vec_id", "qvec", "qnorm"
    )
    if include_binary:
        # the packed sign words are a pure stateless expression over
        # qvec (dialect.sign_pack32) — legal in a stream unchanged,
        # same contract as the streamed positional index
        out = out.withColumn(
            "bvec", F.expr(d.sign_pack32("qvec", dim))
        )
    return out


def start_ivf_payload_stream(
    stream_vecs: DataFrame,
    centroids: list,
    table_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    include_binary: bool = False,
    dim: int = 64,
):
    """Maintain the SERVING-COMPLETE payload table from an embedding
    stream: append-only, map-only, exactly-once via the parquet file
    sink's transaction log, partitioned by cell so a probe reads only
    its nprobe cells' partitions — the streamed index is directly what
    ivf_search_served reads. ``include_binary`` streams the packed
    sign words too, so the binary-Hamming tier
    (ann_serving.ivf_binary_search_served) is stream-maintainable
    exactly like the batch save_ivf_payload(include_binary=True)."""
    return (
        payload_rows_stream(
            stream_vecs, centroids, vec_col,
            include_binary=include_binary, dim=dim,
        )
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("cell")
        .start()
    )


def served_index_from_table(
    centroids: list, table_dir: str, has_binary: bool = False
):
    """Rehydrate a ServedIvfIndex from the streamed payload table —
    batch save_ivf_payload and streaming ingest are interchangeable:
    ivf_search_served neither knows nor cares which wrote the table.
    Pass ``has_binary=True`` when the maintaining stream ran with
    include_binary=True — the binary-Hamming tier refuses a handle
    that does not declare the packed sign words (ADVICE r11 #2)."""
    from uwheel_datafusion_spark.operators.ann_serving import (
        ServedIvfIndex,
    )

    return ServedIvfIndex(
        centroids=centroids, path=table_dir, n_cells=len(centroids),
        has_binary=has_binary,
    )
