"""Streaming dedup maintenance: batch-boundary invariance, restart
safety, and streamed-index ≡ batch-index interchangeability.

The registry gates (streaming_dedup_exact_parity,
streaming_lsh_index_parity) already differential-test the end state
against DuckDB; these tests pin the streaming-specific guarantees.
"""

import os

import pyspark.sql.functions as F

from uwheel_datafusion_spark.operators import dedup as dd
from uwheel_datafusion_spark.streaming.dedup_stream import (
    StreamingExactDedup,
    start_lsh_index_stream,
)

DOCS_SCHEMA = "doc_id long, text string"


def _write_docs(spark, path, rows, n_files=1, mode="append"):
    spark.createDataFrame(rows, DOCS_SCHEMA).coalesce(n_files).write.mode(
        mode
    ).parquet(path)


def _mk_stream(spark, path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


ROWS = [(i, f"body text {i % 7}") for i in range(40)]  # 7 digests, dups


def _run_exact(spark, work, rows_parts, state=False):
    src = os.path.join(work, "in")
    ckpt = os.path.join(work, "ckpt")
    st = os.path.join(work, "state") if state else None
    d = None
    for part in rows_parts:
        _write_docs(spark, src, part)
        d = StreamingExactDedup(_mk_stream(spark, src))
        d.start(ckpt, state_dir=st)
        d.process_available()
        d.stop()
    return d.store


def test_exact_dedup_batch_boundary_invariance(spark, tmp_path):
    """One file vs four files vs two restarts — identical registry."""
    s1 = _run_exact(spark, str(tmp_path / "a"), [ROWS], state=True)
    mid = len(ROWS) // 2
    s2 = _run_exact(
        spark, str(tmp_path / "b"), [ROWS[:mid], ROWS[mid:]], state=True
    )
    assert s1 == s2
    # 7 digests, canonical = min doc_id = 0..6, counts sum to 40
    assert len(s1) == 7
    assert sorted(cid for cid, _ in s1.values()) == list(range(7))
    assert sum(n for _, n in s1.values()) == 40


def test_exact_dedup_restart_state_semantics(spark, tmp_path):
    """Restart semantics, pinned precisely: the AGGREGATION state lives
    in the checkpoint's state store, so update rows after a restart
    carry correct cumulative totals for every digest the new batches
    TOUCH — but digests untouched post-restart never reach the fresh
    driver dict. state_dir closes exactly that gap."""
    first = [(1, "alpha digest"), (2, "beta digest")]
    second = [(3, "beta digest")]  # touches beta only

    bare = _run_exact(spark, str(tmp_path / "c1"), [first, second], state=False)
    # beta's total is correct (checkpoint state), alpha is missing
    assert sum(n for _, n in bare.values()) == 2
    assert [cid for cid, n in bare.values() if n == 2] == [2]

    full = _run_exact(spark, str(tmp_path / "c2"), [first, second], state=True)
    assert len(full) == 2
    assert sum(n for _, n in full.values()) == 3


def test_exact_dedup_same_object_restarts(spark, tmp_path, uncommit_last_batch):
    """One object, restarted twice. First after a crash between persist
    and commit: the replayed epoch is skipped but its plan still runs,
    so the state store commits. Then on a FRESH checkpoint without
    state_dir: ``start()`` resets the epoch guard, so the new query's
    early epochs are folded instead of skipped as replays (either case
    used to die with STATE_STORE_COMMIT_VALIDATION_FAILED)."""
    work = str(tmp_path / "g")
    src = os.path.join(work, "in")
    ckpt = os.path.join(work, "ckpt")
    state = os.path.join(work, "state")
    mid = len(ROWS) // 2
    _write_docs(spark, src, ROWS[:mid])
    _write_docs(spark, src, ROWS[mid:])
    want = _run_exact(spark, str(tmp_path / "whole"), [ROWS])
    d = StreamingExactDedup(_mk_stream(spark, src))

    def run(checkpoint, state_dir=None):
        d.start(checkpoint, state_dir=state_dir)
        d.process_available()
        d.stop()
        assert d.store == want

    run(ckpt, state)
    uncommit_last_batch(ckpt)
    run(ckpt, state)  # replays the uncommitted epoch
    run(os.path.join(work, "fresh_ckpt"))


def test_exact_dedup_dup_groups_df(spark, tmp_path):
    work = str(tmp_path / "d")
    rows = [(1, "unique one"), (2, "twin"), (3, "twin"), (4, "unique two")]
    src = os.path.join(work, "in")
    _write_docs(spark, src, rows)
    d = StreamingExactDedup(_mk_stream(spark, src))
    d.start(os.path.join(work, "ckpt"))
    d.process_available()
    d.stop()
    dups = d.dup_groups_df(spark).collect()
    assert len(dups) == 1
    assert dups[0].canonical_id == 2 and dups[0].n_docs == 2


def test_streamed_band_index_equals_batch(spark, tmp_path):
    work = str(tmp_path / "e")
    src = os.path.join(work, "in")
    rows = [(i, f"some document body {i % 5} with shared tokens") for i in range(25)]
    _write_docs(spark, src, rows, n_files=3)
    table = os.path.join(work, "bands")
    q = start_lsh_index_stream(
        _mk_stream(spark, src), table, os.path.join(work, "ckpt")
    )
    q.processAllAvailable()
    q.stop()

    streamed = {
        (r.doc_id, r.band_idx, r.band_hash)
        for r in spark.read.parquet(table).collect()
    }
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    batch = {
        (r.doc_id, r.band_idx, r.band_hash)
        for r in dd.lsh_band_table(docs).collect()
    }
    assert streamed == batch


def test_streamed_index_serves_incremental_candidates(spark, tmp_path):
    """A streamed index is interchangeable with a batch-built one for
    lsh_incremental_candidates — including after an append-extend
    micro-batch (the always-on ingest shape)."""
    work = str(tmp_path / "f")
    src = os.path.join(work, "in")
    corpus = [(i, f"corpus doc {i % 4} repeated body text") for i in range(20)]
    _write_docs(spark, src, corpus, n_files=2)
    table = os.path.join(work, "bands")
    ckpt = os.path.join(work, "ckpt")
    q = start_lsh_index_stream(_mk_stream(spark, src), table, ckpt)
    q.processAllAvailable()
    q.stop()

    # extend: a later micro-batch appends more corpus
    more = [(100 + i, f"corpus doc {i % 4} repeated body text") for i in range(4)]
    _write_docs(spark, src, more)
    q = start_lsh_index_stream(_mk_stream(spark, src), table, ckpt)
    q.processAllAvailable()
    q.stop()

    new_docs = spark.createDataFrame(
        [(500, "corpus doc 1 repeated body text"), (501, "novel text wholly new")],
        DOCS_SCHEMA,
    )
    streamed_idx = spark.read.parquet(table)
    all_corpus = spark.createDataFrame(corpus + more, DOCS_SCHEMA)
    got = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in dd.lsh_incremental_candidates(new_docs, streamed_idx).collect()
    }
    want = {
        (r.new_doc_id, r.corpus_doc_id)
        for r in dd.lsh_incremental_candidates(
            new_docs, dd.lsh_band_table(all_corpus)
        ).collect()
    }
    assert got == want
    assert any(n == 500 for n, _ in got)  # the exact-dup doc hits
    assert all(n != 501 for n, _ in got)  # the novel doc doesn't


def test_streamed_cells_serve_identically_to_batch(spark, sf_correctness):
    """Batch/stream interchange for the IVF tier: an IvfIndex
    rehydrated from the STREAMED cells table must serve
    ivf_search_wide bit-identically to the batch-built index."""
    import os
    import shutil
    import tempfile

    from uwheel_datafusion_spark.operators import similarity as sim
    from uwheel_datafusion_spark.sources.registry import load_table
    from uwheel_datafusion_spark.streaming.ann_stream import (
        ivf_index_from_table,
        start_ivf_cells_stream,
    )

    emb = load_table(spark, sf_correctness, "embeddings").select(
        "vec_id", "embedding"
    )
    idx = sim.ivf_build_wide(emb, n_cells=8)
    work = tempfile.mkdtemp(prefix="ann_interchange_")
    try:
        src = os.path.join(work, "in")
        os.makedirs(src)
        table = os.path.join(work, "cells")
        emb.repartitionByRange(3, "vec_id").write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = start_ivf_cells_stream(
            stream, idx.centroids, table, os.path.join(work, "ckpt")
        )
        q.processAllAvailable()
        q.stop()
        streamed = ivf_index_from_table(spark, idx.centroids, table)
        a = sorted(
            tuple(r)
            for r in sim.ivf_search_wide(
                idx, emb, (0, 1, 2), k=5, nprobe=2
            ).collect()
        )
        b = sorted(
            tuple(r)
            for r in sim.ivf_search_wide(
                streamed, emb, (0, 1, 2), k=5, nprobe=2
            ).collect()
        )
        assert a == b and a
    finally:
        shutil.rmtree(work, ignore_errors=True)
