"""Index-table maintenance: compaction for the append-path serving
indexes (BM25 postings/doclen/df segments, LSH bands, IVF cells, PQ
codes).

Every append batch adds new parquet files (and, for BM25 df, SEGMENT
rows); at streaming trigger rates a table accumulates thousands of
tiny files and scan cost becomes file-open-bound — the same
small-file problem `compact_replica` solves for the CDC replica.
``compact_parquet_table`` rewrites a table directory into a bounded
file count with a crash-recoverable swap:

1. the compacted copy is written to ``<dir>.compact-tmp``;
2. the live dir renames to ``<dir>.old`` and the copy renames into
   place (two metadata renames back-to-back — the only window in
   which the table is missing);
3. ``<dir>.old`` is removed.

A crash inside the window leaves ``<dir>`` absent with ``.old`` (and
possibly ``.compact-tmp``) present; ``recover_table`` restores the
pre-compaction state, and compaction itself refuses to run while
leftovers exist.  This is deliberately simpler than the bucketed
sink's manifest protocol: index tables are rebuildable caches, so the
contract is "never silently serve a half-compacted table", not
multi-version time travel.

For BM25 specifically, ``compact_bm25_index`` also MERGES the df
segment rows (one row per term again) — readers already merge
segments per queried term, so this is a scan-cost optimization, not a
correctness requirement; scores are unchanged (pytest-pinned).

Writers are mutually exclusive: appends and compaction on the same
index take ``IndexWriteLock`` (O_EXCL lock file) — without it, files
appended between a compaction's read and its swap would silently land
in ``.old`` and be deleted.  Model sidecars (``_centroids.json``,
``_codebooks.json``) are preserved through the swap by the per-index
wrappers — use those, not the generic ``compact_parquet_table``, on
IVF/PQ paths.
"""

from __future__ import annotations

import logging
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


class IndexWriteLock:
    """Cross-process mutual exclusion for index writers: appends and
    compaction both mutate the same directories, and a compaction
    racing a concurrent append would silently destroy the appended
    files (the compaction's read lists files at scan time; anything
    landing later goes to ``.old`` and is removed).

    Implemented with ``fcntl.flock`` on a lock file: the kernel
    releases the lock when the holding process dies (no stale-lock
    manual cleanup, which matters for the streaming relays that append
    every micro-batch and must survive a driver crash+restart), and
    acquisition BLOCKS up to ``timeout_s`` — so an append arriving
    during a long compaction waits instead of failing the streaming
    query.  Index paths are local-filesystem by contract
    (storage.require_local_path), where flock is reliable."""

    def __init__(
        self,
        lock_path: str,
        timeout_s: float = 300.0,
        shared: bool = False,
    ):
        # an explicit lock-FILE path: for single-dir indexes (LSH/IVF/
        # PQ) use a SIBLING file (``<dir>.writelock``) so the lock
        # survives the compaction swap renaming the dir itself; for
        # multi-table roots (BM25) a file under the never-renamed root.
        # ``shared=True`` takes a READ lock (flock LOCK_SH): readers
        # that materialize results from the index dirs (the streaming
        # probe) hold it so a compaction's dir swap cannot yank files
        # out from under a running scan — shared among readers,
        # excluded by any writer's exclusive lock.
        self.path = lock_path
        self.timeout_s = timeout_s
        self.shared = shared
        self._fd: int | None = None

    def __enter__(self):
        import fcntl
        import time

        parent = os.path.dirname(self.path)
        if parent:
            os.makedirs(parent, exist_ok=True)
        self._fd = os.open(self.path, os.O_CREAT | os.O_WRONLY)
        mode = fcntl.LOCK_SH if self.shared else fcntl.LOCK_EX
        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fcntl.flock(self._fd, mode | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    os.close(self._fd)
                    self._fd = None
                    raise RuntimeError(
                        f"index write lock {self.path!r} still held after "
                        f"{self.timeout_s:.0f}s — another writer "
                        "(append/compaction) is running long; raise "
                        "timeout_s or investigate"
                    ) from None
                time.sleep(0.2)
        if not self.shared:
            # informational holder pid — writers only (concurrent
            # shared holders would scribble over each other)
            os.ftruncate(self._fd, 0)
            os.write(self._fd, str(os.getpid()).encode())
        return self

    def __exit__(self, *exc):
        import fcntl

        if self._fd is not None:
            fcntl.flock(self._fd, fcntl.LOCK_UN)
            os.close(self._fd)
            self._fd = None
        # the lock file itself stays — unlinking would race a waiter
        # that already opened it (its flock would then guard an
        # unlinked inode while a third writer locks a fresh file)
        return False


def _check_no_leftovers(table_dir: str) -> None:
    for suffix in (".old", ".compact-tmp"):
        if os.path.exists(table_dir + suffix):
            raise RuntimeError(
                f"{table_dir + suffix} exists — a previous compaction "
                "crashed mid-swap; run recover_table() first"
            )


def recover_table(table_dir: str) -> bool:
    """Restore a table after a compaction crash: if the live dir is
    missing but ``.old`` exists, the pre-compaction data comes back;
    stale ``.compact-tmp`` is removed either way.  Returns True if a
    restore happened."""
    restored = False
    old = table_dir + ".old"
    if os.path.exists(old) and not os.path.exists(table_dir):
        os.rename(old, table_dir)
        restored = True
    tmp = table_dir + ".compact-tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp, ignore_errors=True)
    if os.path.exists(old) and os.path.exists(table_dir):
        # swap completed before the crash; the backup is just garbage
        shutil.rmtree(old, ignore_errors=True)
    return restored


def compact_parquet_table(
    spark: SparkSession,
    table_dir: str,
    num_files: int = 1,
    partition_by: str | list[str] | None = None,
    transform=None,
    preserve_files: tuple[str, ...] = (),
    schema: str | None = None,
) -> int:
    """Rewrite ``table_dir`` into ``num_files`` parquet files (per
    partition dir when ``partition_by`` is given — a single column or
    a list for nested layouts), optionally applying
    ``transform(df) -> df`` first (must preserve semantics — used for
    the BM25 df segment merge).  ``preserve_files`` (model sidecars
    like ``_centroids.json``) are copied into the compacted dir
    BEFORE the swap, so no crash point leaves a table without its
    model.  ``schema`` (DDL string) makes the read explicit — REQUIRED
    for dirs whose files mix column sets (the BM25 fused-append files
    carry union-surplus null columns; footer inference over a mix is
    nondeterministic).  Returns the row count written."""
    _check_no_leftovers(table_dir)
    df: DataFrame = (
        spark.read.schema(schema).parquet(table_dir)
        if schema
        else spark.read.parquet(table_dir)
    )
    if transform is not None:
        df = transform(df)
    tmp = table_dir + ".compact-tmp"
    if partition_by:
        part_cols = (
            [partition_by] if isinstance(partition_by, str) else list(partition_by)
        )
        # (partition cols, salt) repartition: each partition dir's rows
        # spread over at most num_files distinct tasks (a task writes
        # one file per dir), so files-per-dir <= num_files while task
        # parallelism stays at defaultParallelism — hashing on the
        # partition columns ALONE would serialize each cell/band into
        # one task and ignore num_files
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(max(1, num_files)),
        )
        writer = (
            df.repartition(
                max(num_files, spark.sparkContext.defaultParallelism),
                *[F.col(c) for c in part_cols],
                salt,
            )
            .write.mode("overwrite")
            .partitionBy(*part_cols)
        )
    else:
        writer = df.repartition(max(1, num_files)).write.mode("overwrite")
    writer.parquet(tmp)
    for name in preserve_files:
        shutil.copyfile(
            os.path.join(table_dir, name), os.path.join(tmp, name)
        )
    n = spark.read.parquet(tmp).count()
    old = table_dir + ".old"
    os.rename(table_dir, old)
    os.rename(tmp, table_dir)
    shutil.rmtree(old, ignore_errors=True)
    return n


def bm25_lock(path: str) -> IndexWriteLock:
    """The BM25 index-root write lock (root itself is never renamed,
    so the lock lives under it) — shared by append_bm25_index and
    compact_bm25_index."""
    return IndexWriteLock(os.path.join(path, "_write.lock"))


def compact_bm25_index(
    spark: SparkSession, path: str, num_files: int = 1
) -> dict[str, int]:
    """Compact the BM25 index tables; df segments merge back to one
    row per term.  Scores are unchanged (the reader's per-term segment
    merge makes compaction transparent).  Takes the index write lock —
    a concurrent append would otherwise lose its files to the swap.

    An index that has seen updates/deletes additionally PURGES its
    dead generations: postings/doclen drop every tombstoned
    (doc_id, gen) row, dfreq is REBUILT from the live postings (the
    additive segment rows go stale under updates), and the tombstone
    set clears — after which the scorer returns to the stored-dfreq
    fast path and index size reflects the live corpus again.  This is
    the segment-merge half of the generation contract in
    _bm25_apply_locked."""
    from pymongo_change_stream_reader_spark.operators.retrieval import (
        _bm25_read,
        _bm25_schema,
        _load_consts,
        _read_tombstones,
        _with_gen,
        _recover_bm25_append_locked,
        _write_consts,
    )

    with bm25_lock(path):
        # roll back a crashed append BEFORE compacting: the journal's
        # keep-set lists pre-compaction file names, so compacting over
        # a live journal and recovering later would delete every
        # compacted file — the whole index (review r6 finding #1)
        _recover_bm25_append_locked(path)
        consts = _load_consts(spark, path)
        id_type = consts.get("id_type")
        sch = (
            (lambda table: _bm25_schema(table, id_type))
            if id_type is not None
            else (lambda table: None)
        )
        tomb = _read_tombstones(spark, path, id_type)
        if tomb is not None:
            # the tombstones dir is immutable while this lock is held
            # (appenders block), so the lazy anti-join below reads a
            # stable set; the dir is only removed after every swap

            def _purge(df):
                return _with_gen(df).join(
                    F.broadcast(tomb), ["doc_id", "gen"], "left_anti"
                )

        else:
            _purge = _with_gen
        counts = {}
        counts["postings"] = compact_parquet_table(
            spark, os.path.join(path, "postings"), num_files,
            transform=_purge, schema=sch("postings"),
        )
        counts["doclen"] = compact_parquet_table(
            spark, os.path.join(path, "doclen"), num_files,
            transform=_purge, schema=sch("doclen"),
        )
        live_post = _bm25_read(spark, path, "postings", id_type)
        counts["dfreq"] = compact_parquet_table(
            spark,
            os.path.join(path, "dfreq"),
            num_files,
            transform=(
                # rebuilt exactly from the live postings when updates
                # happened; plain segment merge otherwise
                (lambda _df: live_post.groupBy("term").agg(
                    F.countDistinct("doc_id").alias("df")
                ))
                if tomb is not None
                else (lambda df: df.groupBy("term").agg(
                    F.sum("df").alias("df")
                ))
            ),
            schema=sch("dfreq"),
        )
        if tomb is not None:
            shutil.rmtree(os.path.join(path, "tombstones"), ignore_errors=True)
        if id_type is None:
            # migration stamp: compaction just rewrote every table
            # with uniform gen-tagged files, so the id type is now
            # unambiguous — record it and every later read/append
            # takes the explicit-schema + fused path
            stamped = dict(
                spark.read.parquet(os.path.join(path, "postings")).dtypes
            )["doc_id"]
            _write_consts(
                path, consts["n_docs"], consts["total_len"],
                id_type=stamped,
            )
        return counts


def compact_lsh_index(
    spark: SparkSession, path: str, num_files: int = 1,
    flags_path: str | None = None,
) -> int:
    """Compact the band-partitioned LSH index (operators/dedup.py):
    band partitioning is preserved so probes keep pruning.  Sibling
    write lock (appenders should hold the same — see IndexWriteLock).

    A registry-tracked index (streaming relay with updates/deletes)
    additionally PURGES dead generations: sketch and registry rows of
    every tombstoned (doc, gen) are dropped, replay-residue duplicate
    rows collapse (distinct — duplicates only ever widened candidate
    sets), and the tombstone sidecar clears, so index size tracks the
    live corpus under churn instead of growing without bound.

    ``flags_path``: the relay's near-dup flags store paired with this
    index — when given, its aged per-epoch partitions FOLD into the
    base partition inside the same lock span (the other unbounded
    small-files term of the streaming relay; see
    streaming/dedup_relay.py compact_dedup_flags)."""
    from pymongo_change_stream_reader_spark.operators.dedup import (
        _lsh_lock_path,
        _lsh_registry_path,
        _lsh_tombstone_path,
        _lsh_with_gen,
        _read_lsh_tombstones,
    )

    with IndexWriteLock(_lsh_lock_path(path)):
        if flags_path is not None:
            from pymongo_change_stream_reader_spark.streaming.dedup_relay import (
                _compact_dedup_flags_locked,
            )

            _compact_dedup_flags_locked(spark, flags_path, num_files)
        tomb = _read_lsh_tombstones(spark, path)
        reg_path = _lsh_registry_path(path)

        def _purge(df):
            out = _lsh_with_gen(df)
            if tomb is not None:
                out = out.distinct().join(
                    F.broadcast(tomb), ["doc", "gen"], "left_anti"
                )
            return out

        n = compact_parquet_table(
            spark, path, num_files, partition_by="band", transform=_purge
        )
        if os.path.isdir(reg_path):
            compact_parquet_table(spark, reg_path, num_files,
                                  transform=_purge)
        if tomb is not None:
            shutil.rmtree(_lsh_tombstone_path(path), ignore_errors=True)
        return n


def _ann_purge_transform(spark: SparkSession, path: str, idx_id_col: str):
    """Shared compactor transform for the ANN serving indexes: shim
    the generation column (pre-generation rows become gen 0 — the
    in-place migration path writers demand), and when a tombstone
    sidecar exists, drop the dead (id, gen) rows.  Returns (transform,
    had_tombstones)."""
    from pymongo_change_stream_reader_spark.operators.similarity import (
        _read_ann_tombstones,
    )

    tomb = _read_ann_tombstones(spark, path, idx_id_col)

    def _t(df):
        if "gen" not in df.columns:
            df = df.withColumn("gen", F.lit(0))
        if tomb is not None:
            df = df.join(
                F.broadcast(tomb), [idx_id_col, "gen"], "left_anti"
            )
        return df

    return _t, tomb is not None


def _compact_ann_index(
    spark: SparkSession,
    path: str,
    num_files: int,
    idx_id_col: str,
    partition_by: str | None,
    preserve_files: tuple[str, ...],
) -> int:
    """Shared body of the ANN-index compactors (IVF / PQ / IVF-PQ):
    under the exclusive write lock, roll back a crashed append BEFORE
    compacting — the journal is a SIBLING file, so it would survive
    the dir swap with stale listings, and recovering after would
    delete every compacted file — then rewrite with the gen-shim +
    tombstone-purge transform, carry the model sidecar(s) through the
    swap, and clear the tombstone sidecar."""
    from pymongo_change_stream_reader_spark.operators.similarity import (
        _ann_tombstone_path,
        _recover_ann_append_locked,
    )

    with IndexWriteLock(path.rstrip("/") + ".writelock"):
        _recover_ann_append_locked(path)
        transform, had_tomb = _ann_purge_transform(spark, path, idx_id_col)
        n = compact_parquet_table(
            spark,
            path,
            num_files,
            partition_by=partition_by,
            preserve_files=preserve_files,
            transform=transform,
        )
        if had_tomb:
            shutil.rmtree(_ann_tombstone_path(path), ignore_errors=True)
        return n


def compact_ivf_index(
    spark: SparkSession, path: str, num_files: int = 1
) -> int:
    """Compact the cell-partitioned IVF index, preserving cell
    partition pruning; the _centroids.json model sidecar rides into
    the compacted dir before the swap (no crash point leaves an index
    without its model).  Tombstoned generations (updates/deletes) are
    physically purged and the tombstone sidecar clears; a
    pre-generation index is migrated in place (every row gen 0)."""
    return _compact_ann_index(
        spark, path, num_files, "neighbor_id", "cell", ("_centroids.json",)
    )


def compact_pq_index(
    spark: SparkSession, path: str, num_files: int = 1, id_col: str = "vec_id"
) -> int:
    """Compact the PQ code table; the _codebooks.json model sidecar is
    preserved (using the generic compact_parquet_table directly would
    destroy it — the codebooks are not reproducible from the codes).
    Tombstoned generations are purged and the sidecar clears, same as
    compact_ivf_index; ``id_col`` names the stored id column."""
    return _compact_ann_index(
        spark, path, num_files, id_col, None, ("_codebooks.json",)
    )


def compact_ivfpq_index(
    spark: SparkSession, path: str, num_files: int = 1,
    id_col: str = "vec_id",
) -> int:
    """Compact the composed IVF-PQ index: cell partitioning preserved,
    the ``_model.json`` sidecar (coarse centroids + codebooks) rides
    into the compacted dir before the swap, tombstoned generations are
    purged, the sidecar clears, and pre-generation indexes migrate in
    place — the compact_ivf_index contract on the composed layout."""
    return _compact_ann_index(
        spark, path, num_files, id_col, "cell", ("_model.json",)
    )
