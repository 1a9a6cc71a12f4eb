"""Shared rollup persistence — ONE on-disk contract for every
mergeable-partial family (wheel 'all', distinct pairs/HLL, histogram
quantile, OHLC): parquet partitioned by UTC date of the slot start.

Any frame with a ``bucket_ms`` column qualifies. Serving probes that
filter with ``wheel._bucket_range_pred`` automatically conjoin static
``dt`` bounds on a reopened rollup, so range queries list
O(days-touched) partitions at any scale — the same layout/pruning
story WheelIndex.save pioneered, factored out so new aggregator
families inherit it instead of re-implementing it.

Every maintenance filesystem step (compaction swap, torn-partition
recovery, upsert swap) goes through the Hadoop FileSystem API
(operators.util), so the maintenance side works on file:/, hdfs://
and s3a:// roots exactly like the read side — round 11, closing the
VERDICT r10 gap for the rollup family too. See util.fs_rename for the
S3A non-atomic-rename caveat."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uwheel_datafusion_spark.operators.util import (
    fs_delete,
    fs_exists,
    fs_list_names,
    fs_rename,
)


def save_rollup(rollup: DataFrame, path: str) -> None:
    """Persist a rollup (any mergeable-partial frame keyed by
    ``bucket_ms``) as parquet partitioned by UTC date."""
    (
        rollup.withColumn(
            "dt",
            F.date_format(F.timestamp_millis(F.col("bucket_ms")), "yyyy-MM-dd"),
        )
        .repartition("dt")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(path)
    )


def load_rollup(spark, path: str) -> DataFrame:
    """Reopen a persisted rollup; the ``dt`` partition column is KEPT
    so ``_bucket_range_pred`` prunes day partitions at planning time.

    Repairs a torn :func:`upsert_rollup` swap BEFORE serving (ADVICE
    r06 #4): a crash between the swap's two renames leaves a
    ``dt=X__old`` dir and no live ``dt=X``; waiting for the next
    upsert to repair it would make every reader in the window silently
    see that day's rollup rows absent rather than the pre-crash data."""
    _recover_torn_partitions(spark, path)
    return spark.read.parquet(path)


def _parquet_files(spark, path: str) -> "list[tuple[str, int]]":
    """(path, bytes) of every parquet file under ``path``, via the
    Hadoop recursive listFiles iterator."""
    from uwheel_datafusion_spark.operators.util import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out, it = [], fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().toString()
        if name.endswith(".parquet"):
            out.append((name, int(st.getLen())))
    return out


def compact_parquet(
    spark,
    path: str,
    target_mb: int = 128,
    partition_col: str | None = None,
) -> dict:
    """Small-file compaction — the maintenance job every append-heavy
    layout eventually needs (streaming sinks, incremental LSH index
    appends, per-trigger rollup upserts all produce file counts that
    grow without bound; at 100 TB the NameNode/listing cost and
    per-file task overhead dominate long before data size does).

    Rewrites ``path`` to ≈ ``target_mb``-sized files: bin count =
    ceil(bytes / target), `repartition(n)` (or per-partition-column
    repartition when the layout is partitioned), write to a sibling
    temp dir, atomic swap. Plain parquet has no transaction log, so
    the swap is directory-level (the Delta/Iceberg OPTIMIZE command is
    the production drop-in); readers opened BEFORE the swap must be
    re-opened after.

    Returns {"files_before", "files_after", "bytes"}.
    """
    import math

    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    # recover from an interrupted prior run: a leftover __compact_old
    # with no live `path` means the crash hit between the two renames —
    # restore it; leftover tmp/old next to a live `path` are stale
    # partial state — drop them so the renames below can't collide
    if fs_exists(spark, old) and not fs_exists(spark, path):
        fs_rename(spark, old, path)
    for stale in (tmp, old):
        fs_delete(spark, stale)

    before = _parquet_files(spark, path)
    total = sum(sz for _, sz in before)
    n = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    w = (
        df.repartition(n, partition_col)
        if partition_col is not None
        else df.repartition(n)
    )
    writer = w.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(tmp)
    # tmp is written next to `path` (same directory ⇒ same filesystem),
    # so the two renames are atomic moves on HDFS/file:; a crash
    # between them is recovered by the entry check above
    fs_rename(spark, path, old)
    try:
        fs_rename(spark, tmp, path)
    except OSError:
        fs_rename(spark, old, path)  # roll back: the original data wins
        raise
    fs_delete(spark, old)
    return {
        "files_before": len(before),
        "files_after": len(_parquet_files(spark, path)),
        "bytes": total,
    }


def _dt_col() -> F.Column:
    return F.date_format(
        F.timestamp_millis(F.col("bucket_ms")), "yyyy-MM-dd"
    )


def _recover_torn_partitions(spark, path: str) -> None:
    """Repair a crash that hit mid-swap in :func:`upsert_rollup`: a
    ``dt=X__old`` dir with no live ``dt=X`` means the old partition was
    moved aside but its replacement never landed — restore it. A stale
    ``__old`` NEXT TO a live partition lost the race after the new dir
    landed — drop it. (Same two-rename recovery contract as
    compact_parquet. The ``dt`` partition values are strings, so a
    transient ``dt=X__old`` name still parses if a raw reader races
    the repair — unlike numeric cell/bucket partitions, whose asides
    must live outside the table, see ann_serving.)"""
    for name in fs_list_names(spark, path, "dt="):
        if not name.endswith("__old"):
            continue
        live = f"{path}/{name[: -len('__old')]}"
        if fs_exists(spark, live):
            fs_delete(spark, f"{path}/{name}")
        else:
            fs_rename(spark, f"{path}/{name}", live)


def upsert_rollup(
    spark,
    path: str,
    batch: DataFrame,
    key_cols: "tuple[str, ...]" = ("bucket_ms",),
) -> None:
    """MERGE-style upsert into a dt-partitioned parquet rollup: rows
    of ``batch`` REPLACE table rows with equal ``key_cols`` (slot
    identity), other rows are kept. This is the plain-parquet stand-in
    for the Delta/Iceberg ``MERGE`` a production cluster would run
    from a streaming ``foreachBatch`` — the rollup lives in a TABLE,
    not driver memory, so it survives restarts and is readable by any
    session at any scale.

    Cost per call is O(touched dt partitions), never the whole table:
    only the partitions ``batch`` touches are read (partition-pruned),
    anti-joined against the batch's slot keys, unioned with the batch,
    staged to a temp dir, and swapped in with per-partition atomic
    renames. Crash safety: a torn swap is repaired on the next call
    (:func:`_recover_torn_partitions`); re-applying the same batch is
    IDEMPOTENT (batch rows carry each touched slot's merged TOTAL, as
    StreamingWheel's driver store holds it), so an epoch replayed after
    a partial apply converges."""
    _recover_torn_partitions(spark, path)
    tagged = batch.withColumn("dt", _dt_col())
    if not fs_list_names(spark, path, "dt="):
        # no partition yet; append keeps a sink marker already in the dir
        (
            tagged.repartition("dt")
            .write.mode("append")
            .partitionBy("dt")
            .parquet(path)
        )
        return
    # touched days only — bounded by the batch's slot span, not table size
    dts = [r["dt"] for r in tagged.select("dt").distinct().collect()]
    if not dts:
        return
    old = spark.read.parquet(path).filter(F.col("dt").isin(dts))
    merged = old.join(
        tagged.select(*key_cols).distinct(), list(key_cols), "left_anti"
    ).unionByName(tagged.select(*old.columns))
    tmp = path.rstrip("/") + "__upsert_tmp"
    fs_delete(spark, tmp)
    (
        merged.repartition("dt")
        .write.mode("overwrite")
        .partitionBy("dt")
        .parquet(tmp)
    )
    for dt in dts:
        src = f"{tmp}/dt={dt}"
        dst = f"{path}/dt={dt}"
        old_dir = dst + "__old"
        if fs_exists(spark, dst):
            fs_rename(spark, dst, old_dir)
        fs_rename(spark, src, dst)
        fs_delete(spark, old_dir)
    fs_delete(spark, tmp)


# --------------------------------------------------------------------------
# manifest-committed rollup tables (round 13 — VERDICT r12 next #5)
# --------------------------------------------------------------------------
#
# upsert_rollup's MERGE is per-partition-atomic via dir renames — the
# S3A caveat util.fs_rename documents. The manifest endpoint replaces
# it for the rollup family exactly as it did for the ANN/keyword
# indexes: every micro-batch epoch publishes ONE immutable dt-
# partitioned generation dir + ONE small-file commit; a slot's current
# value is the row from the HIGHEST generation that carries its key
# (each batch carries its touched slots' merged TOTALS, so
# newest-generation-wins IS the MERGE). The epoch-replay guard and the
# checkpoint-identity check ride the snapshot's ``extra`` — atomically
# with the data, which the _sink_meta.json sidecar could not give
# (ADVICE r11 #3's torn-overwrite dance exists because of that gap).
# Compaction folds latest-per-key into one generation; vacuum reclaims
# folded dirs; a commit-point crash leaves an unreferenced orphan dir
# and an unchanged epoch guard, so the replay re-applies cleanly —
# exactly-once without any marker recovery protocol.


def manifest_rollup_append(
    spark,
    root: str,
    batch: DataFrame,
    key_cols: "tuple[str, ...]" = ("bucket_ms",),
    epoch: "int | None" = None,
    checkpoint: "str | None" = None,
    note: str = "epoch",
    extra: "dict | None" = None,
):
    """Publish one micro-batch (merged TOTALS per touched slot key) as
    a new rollup generation. Returns the committed Snapshot, or None
    when ``epoch`` is ≤ the snapshot's recorded epoch (a replayed epoch
    — the foreachBatch guard, now read from the commit log itself).
    Raises when the table was maintained under a different checkpoint
    (epoch ids are only comparable within one checkpoint). ``extra``
    keys ride the commit's ``extra`` atomically with the data (a
    streaming maintainer's watermark)."""
    from uwheel_datafusion_spark.operators.manifest import (
        _commit_with_retry,
        _token,
        manifest_latest,
    )

    snap = manifest_latest(spark, root)
    if snap is not None:
        saved = snap.extra.get("checkpoint")
        if (
            checkpoint is not None
            and saved is not None
            and saved != checkpoint
        ):
            raise ValueError(
                f"rollup manifest {root!r} was maintained under "
                f"checkpoint {saved!r} but is being resumed under "
                f"{checkpoint!r}; epoch ids are only comparable within "
                "one checkpoint"
            )
        if epoch is not None and epoch <= int(snap.extra.get("epoch", -1)):
            return None  # replayed epoch: already committed
        if tuple(snap.extra.get("key_cols", key_cols)) != tuple(key_cols):
            raise ValueError(
                f"{root}: key_cols {key_cols} differ from the table's "
                f"{tuple(snap.extra.get('key_cols'))}"
            )
    # persist: the emptiness probe and the generation write must not
    # recompute the micro-batch aggregation twice per trigger
    # (code-review r13 #5 — foreachBatch frames are not cached)
    batch = batch.persist()
    try:
        if batch.isEmpty():
            # a trigger can fire with zero changed rows (e.g. a
            # watermark-only advance); an empty generation dir
            # would carry no parquet footer to read a schema from, and
            # there is nothing to commit — the epoch guard
            # intentionally stays put so a replay of the same empty
            # epoch is another no-op
            return None
        dname = f"data-{_token()}"
        (
            batch.withColumn("dt", _dt_col())
            .repartition("dt")
            .write.partitionBy("dt")
            .parquet(f"{root}/{dname}")
        )
    finally:
        batch.unpersist()

    def mutate(s):
        if s is not None and epoch is not None and epoch <= int(
            s.extra.get("epoch", -1)
        ):
            # a concurrent commit already recorded this epoch
            raise _EpochReplayed
        dirs = (s.data_dirs if s else ()) + (dname,)
        commit_extra = {**(s.extra if s else {}), **(extra or {})}
        commit_extra["key_cols"] = list(key_cols)
        if epoch is not None:
            commit_extra["epoch"] = int(epoch)
        if checkpoint is not None:
            commit_extra["checkpoint"] = checkpoint
        return dirs, (), note, commit_extra

    try:
        return _commit_with_retry(spark, root, mutate)
    except _EpochReplayed:
        return None


class _EpochReplayed(Exception):
    pass


def manifest_rollup_read(spark, root: str, snapshot=None) -> DataFrame:
    """The table's current slots: newest-generation-wins per slot key.
    Each generation dir is read independently (dt partition pruning
    holds per dir; a pushed-down day predicate prunes every union
    branch), tagged with its position in the snapshot's dir order, and
    one window keeps the highest-generation row per key. After
    compaction the union is a single dir and the window is a no-op
    pass over distinct keys."""
    from pyspark.sql import Window as W

    from uwheel_datafusion_spark.operators.manifest import manifest_latest

    snap = snapshot or manifest_latest(spark, root)
    if snap is None or not snap.data_dirs:
        raise ValueError(f"{root}: no committed rollup generations")
    key_cols = [str(c) for c in snap.extra.get("key_cols", ("bucket_ms",))]
    out = None
    for i, d in enumerate(snap.data_dirs):
        df = spark.read.parquet(f"{root}/{d}").withColumn(
            "_gen", F.lit(i)
        )
        out = df if out is None else out.unionByName(df)
    w = W.partitionBy(*key_cols).orderBy(F.col("_gen").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_gen")
    )


def manifest_rollup_compact(
    spark,
    root: str,
    steal_lock: bool = False,
    stale_lock_after_sec: "float | None" = None,
    _before_commit=None,
):
    """Fold the snapshot's generations into ONE latest-per-key dir and
    commit a snapshot referencing only it (+ any generations appended
    since the fold, which stay NEWER in dir order so their rows keep
    winning). Physical reclamation at manifest_vacuum. Same lock +
    heartbeat discipline as manifest_table_compact."""
    from uwheel_datafusion_spark.operators.manifest import (
        _commit_with_retry,
        _token,
        manifest_latest,
    )
    from uwheel_datafusion_spark.operators.util import (
        fs_acquire_lock,
        fs_heartbeat,
        fs_release_lock,
    )

    lock = f"{root}__maintenance_lock"
    fs_acquire_lock(
        spark, lock, steal_lock, stale_lock_after_sec,
        what=f"rollup compaction of {root}",
    )
    try:
        base = manifest_latest(spark, root)
        if base is None:
            raise ValueError(f"{root}: nothing to compact (no commits)")
        folded = f"data-{_token()}"
        fs_heartbeat(spark, lock)
        (
            manifest_rollup_read(spark, root, snapshot=base)
            .repartition("dt")
            .write.partitionBy("dt")
            .parquet(f"{root}/{folded}")
        )
        fs_heartbeat(spark, lock)
        if _before_commit is not None:
            _before_commit()

        def mutate(snap):
            new_data = (folded,) + tuple(
                d for d in snap.data_dirs if d not in base.data_dirs
            )
            return new_data, (), f"compact gen {base.gen}", dict(snap.extra)

        return _commit_with_retry(spark, root, mutate)
    finally:
        fs_release_lock(spark, lock)
