"""On-disk commit protocols shared by every store the engine writes.

This module is the one place that knows the on-disk commit formats.
The translator's ``$out``/``$merge``, the replica, the composed view
stores, the index maintainers and the epoch-marker sinks all commit
through it:

- **Atomic file** (``write_atomic``): tmp + fsync + ``os.replace`` —
  a file either keeps its old body or holds the complete new one.
- **Versioned sink** (``versioned_commit``): whole-table versions
  ``v-NNNNNN`` behind a two-line ``_manifest`` (current, previous).
- **Bucketed sink** (``commit_bucketed``, ``commit_bucketed_fused``,
  ``read_bucketed_sink``, ``vacuum_bucketed_sink``): a
  ``buckets=N`` manifest mapping bucket -> version dir, archived as
  ``_manifest.h-v-NNNNNN`` history BEFORE the manifest swap, writers
  serialized by ``bucketed_sink_lock`` (``_write.lock``).
- **Epoch pointer** (``publish_pointer``, ``resolve_pointer``):
  ``<root>/_current`` holds ``"<history name>:<epoch>"``; its atomic
  replace is a view store's single visibility point.
- **Epoch marker** (``commit_epoch``, ``epoch_committed``):
  ``epoch-<query id>-<epoch>`` files under a checkpoint-side dir; an
  epoch whose marker exists is skipped on replay.
- **Listing journal** (``ListingJournal``): the file listings of an
  index's dirs, written BEFORE its first write; rollback deletes every
  file the listing does not name.

Every lock, snapshot and marker lives on the LOCAL filesystem (see
``require_local_path``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class PipelineError(ValueError):
    """Invalid or unsupported pipeline construct, or a sink operation
    the stored state refuses.  Defined with the sinks so storage
    depends on nothing above it; ``plans.pipeline`` re-exports it."""


# -- files and directories ---------------------------------------------


def write_atomic(dest: str, body: str) -> None:
    """Durable single-file write: tmp + fsync + os.replace — the file
    at ``dest`` either keeps its old content or holds the complete new
    body; no crash point exposes a truncation."""
    tmp = dest + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(body)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, dest)


def list_files(root: str) -> list[str]:
    """Sorted relative paths of every file under ``root`` ([] when
    absent) — the rollback unit of a listing journal."""
    out = []
    for r, _dirs, files in os.walk(root):
        rel = os.path.relpath(r, root)
        out.extend(f if rel == "." else os.path.join(rel, f) for f in files)
    return sorted(out)


def dir_has_parquet(path: str) -> bool:
    """True when any parquet file exists anywhere under ``path``.  A
    dir holding none (an empty epoch, a ``_SUCCESS``-only write, an
    absent tombstone sidecar) must be skipped, not read: schema
    inference on it fails."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


# -- listing journal -----------------------------------------------------


class ListingJournal:
    """Crash journal of a multi-write index apply.

    ``begin`` durably records the file listing of every dir in
    ``roots`` plus any ``extra`` JSON fields, BEFORE the apply's first
    write; ``commit`` deletes the journal (the apply's commit point);
    ``rollback`` deletes every file the listing does not name, drops
    dirs the crashed write created, and returns the journal body so
    the caller can restore its own state (e.g. BM25's consts).  It
    leaves the journal live: the caller ``commit``s only after that
    restore, so a recovery that crashes midway simply runs again.  While
    a journal is live, writers and readers refuse the index
    (``refuse_if_live``): a half-applied update may have tombstoned an
    id whose replacement row never landed.  Callers hold the index's
    write lock around all four.

    ``roots`` maps the key path of each listing in the journal's JSON
    body (a tuple of keys) to the dir it lists — each index keeps the
    body layout it has always written."""

    def __init__(
        self, path: str, roots: dict[tuple[str, ...], str], refusal: str
    ):
        self.path = path
        self.roots = roots
        self.refusal = refusal

    def refuse_if_live(self) -> None:
        if os.path.exists(self.path):
            raise RuntimeError(self.refusal)

    def begin(self, **extra) -> None:
        body: dict = {}
        for keys, root in self.roots.items():
            node = body
            for k in keys[:-1]:
                node = node.setdefault(k, {})
            node[keys[-1]] = list_files(root)
        body.update(extra)
        write_atomic(self.path, json.dumps(body))

    def commit(self) -> None:
        os.unlink(self.path)

    def rollback(self) -> dict | None:
        """Roll a crashed apply back; None when no journal is live."""
        if not os.path.exists(self.path):
            return None
        with open(self.path) as fh:
            body = json.load(fh)
        for keys, root in self.roots.items():
            # a dir the journal has no listing for (a table added
            # after the journal was written) held no files then
            listing = body
            for k in keys:
                listing = listing.get(k, {})
            keep = set(listing)
            for rel in list_files(root):
                if rel not in keep:
                    os.unlink(os.path.join(root, rel))
            # drop the dirs the crashed write created (a new cell
            # partition, a first-update tombstone sidecar) so the tree
            # returns to its exact pre-apply state
            for r, _dirs, _files in os.walk(root, topdown=False):
                if not os.listdir(r) and (r != root or not keep):
                    os.rmdir(r)
        return body


# -- epoch markers -------------------------------------------------------


def require_local_path(path: str, what: str) -> None:
    """The marker/demux dirs are managed with os.path — a URI scheme
    (s3a://, hdfs://) would silently land in a literal local './s3a:'
    directory and defeat the replay dedup.  Refuse loudly instead of
    degrading (never silently mis-translate)."""
    if "://" in path:
        raise ValueError(
            f"{what} {path!r} uses a URI scheme; the epoch-marker "
            "sinks manage markers on the LOCAL filesystem only — use "
            "a local path or a transactional table sink"
        )


def query_id(checkpoint_location: str | None) -> str:
    """The streaming query id from the checkpoint's metadata file.

    Stable across restarts of the SAME checkpoint; a new id appears
    when the checkpoint is lost/reset — which is exactly the boundary
    where epoch ids stop being unique, so the id scopes the epoch
    markers: exactly-once within a checkpoint lifetime, honest
    at-least-once RE-DELIVERY (never silent at-most-once loss) across
    checkpoint loss.  Empty when no metadata exists (marker names
    then degrade to the bare epoch form)."""
    if not checkpoint_location:
        return ""
    meta = os.path.join(checkpoint_location, "metadata")
    try:
        with open(meta) as fh:
            qid = json.load(fh).get("id", "")
            return f"{qid}-" if qid else ""
    except (OSError, ValueError):
        return ""


def epoch_marker(marker_dir: str, epoch_id: int, qid: str = "") -> str:
    """Path of an epoch's marker (or published dir) under
    ``marker_dir``, scoped by the ``query_id`` prefix."""
    return os.path.join(marker_dir, f"epoch-{qid}{epoch_id:020d}")


def epoch_committed(marker_dir: str, epoch_id: int, qid: str = "") -> bool:
    return os.path.exists(epoch_marker(marker_dir, epoch_id, qid))


def commit_epoch(marker_dir: str, epoch_id: int, qid: str = "") -> None:
    """Durably mark an epoch as written (atomic replace — the marker
    either exists completely or not at all)."""
    os.makedirs(marker_dir, exist_ok=True)
    write_atomic(epoch_marker(marker_dir, epoch_id, qid), str(epoch_id))


# -- versioned and bucketed sinks ----------------------------------------


def read_versioned_sink(
    spark: SparkSession, path: str, version: int = 0
) -> DataFrame | None:
    """Read a committed version of a versioned parquet sink (see
    versioned_commit), or None when the sink/version does not exist.
    ``version=0`` is the CURRENT commit; ``version=-1`` the previous
    one (the commit protocol retains exactly one superseded version —
    the local analog of a table format's retention window, enabling
    one-step rollback/time-travel).  Legacy plain-parquet directories
    (no ``_manifest``) read as-is."""
    if read_bucket_manifest(path) is not None:
        # bucketed sinks retain an N-deep history (see commit_bucketed
        # `retain`); delegate any version offset to their reader
        return read_bucketed_sink(spark, path, version)
    if version not in (0, -1):
        raise PipelineError(
            "whole-table versioned sinks retain the current and "
            "previous commit only (version 0 or -1); bucketed sinks "
            "support deeper history via the merge's `retain` option"
        )
    manifest = os.path.join(path, "_manifest")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            lines = [ln.strip() for ln in fh.read().splitlines() if ln.strip()]
        if version == 0:
            return spark.read.parquet(os.path.join(path, lines[0]))
        # the predecessor comes from the MANIFEST (recorded at commit
        # time), never from listdir — a half-written crash-leftover dir
        # must not masquerade as the previous committed version
        if len(lines) < 2 or not os.path.isdir(os.path.join(path, lines[1])):
            return None
        return spark.read.parquet(os.path.join(path, lines[1]))
    if os.path.exists(path) and version == 0:
        return spark.read.parquet(path)
    return None


def versioned_commit(df: DataFrame, path: str) -> DataFrame:
    """Materialize ``df`` as the sink's next version and atomically
    swap the manifest pointer — the local-FS analog of a lakehouse
    table format's commit protocol:

    1. write ``path/v-NNNNNN`` (a crash here leaves the previous
       version LIVE and the half-written dir inert);
    2. ``os.replace`` a temp manifest over ``path/_manifest`` — the
       POSIX-atomic commit point;
    3. only then garbage-collect superseded version dirs (a crash
       during GC cannot affect the committed version).

    Unlike ``write.mode("overwrite")`` / rmtree+rename, no failure
    mode destroys the previous committed data, and a $merge reading
    the current version while writing the next never races its own
    scan.  On a real deployment this maps onto Delta/Iceberg commits;
    the layout here keeps the same crash contract without a table
    format on the classpath."""
    os.makedirs(path, exist_ok=True)
    versions = sorted(
        d for d in os.listdir(path)
        if d.startswith("v-") and os.path.isdir(os.path.join(path, d))
    )
    n = int(versions[-1][2:]) + 1 if versions else 1
    vdir = f"v-{n:06d}"
    # the previously COMMITTED version (manifest target, not merely
    # the lexically-previous dir — that could be a crash leftover) is
    # the one the retention window below must keep
    prev_committed = None
    manifest_path = os.path.join(path, "_manifest")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            first = fh.read().splitlines()
        prev_committed = first[0].strip() if first else None
    df.write.mode("overwrite").parquet(os.path.join(path, vdir))
    # line 1: current commit; line 2 (optional): its predecessor —
    # recorded HERE rather than inferred from listdir so a
    # half-written crash-leftover dir can never masquerade as the
    # previous committed version
    write_atomic(
        manifest_path,
        vdir + (f"\n{prev_committed}" if prev_committed else ""),
    )
    # post-commit GC: older superseded versions, crash leftovers, and
    # legacy plain-parquet files all go; the committed version, its
    # immediate predecessor (a one-deep retention window for rollback/
    # time-travel via read_versioned_sink(version=-1)), and the
    # manifest remain.  A crash anywhere in GC leaves the commit
    # intact.
    survivors = {vdir}
    if prev_committed:
        survivors.add(prev_committed)
    for entry in os.listdir(path):
        if entry == "_manifest" or entry in survivors:
            continue
        full = os.path.join(path, entry)
        if os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
        else:
            os.unlink(full)
    return df.sparkSession.read.parquet(os.path.join(path, vdir))


def read_bucket_manifest(path: str, filename: str = "_manifest"):
    """Parse a BUCKETED sink manifest (``buckets=N`` header, then one
    ``K:relative/dir`` line per non-empty bucket).  Returns
    (n_buckets, {bucket: rel_dir}) or None when the file is absent or
    is not a bucketed manifest.  ``filename`` selects which snapshot
    to parse (``_manifest``, ``_manifest.prev``, or a retained
    ``_manifest.h-v-NNNNNN`` history entry) — every reader path shares
    this one validator, so a truncated/corrupt snapshot always
    surfaces as the same PipelineError."""
    mpath = os.path.join(path, filename)
    if not os.path.exists(mpath):
        return None
    with open(mpath) as fh:
        lines = [ln.strip() for ln in fh.read().splitlines() if ln.strip()]
    if not lines or not lines[0].startswith("buckets="):
        return None
    try:
        n = int(lines[0].split("=", 1)[1])
        entries: dict[int, str] = {}
        for ln in lines[1:]:
            k, rel = ln.split(":", 1)
            entries[int(k)] = rel
    except ValueError as exc:
        raise PipelineError(
            f"corrupt bucketed-sink manifest at {mpath!r}: {exc} — "
            "restore from _manifest.prev or recreate the sink"
        ) from exc
    return n, entries


def is_whole_table_sink(path: str) -> bool:
    """True when ``path`` holds a whole-table versioned sink (a
    ``_manifest`` that is not a bucketed one)."""
    return os.path.exists(os.path.join(path, "_manifest")) and (
        read_bucket_manifest(path) is None
    )


def bucket_entries(path: str, n_buckets: int, label: str) -> dict[int, str]:
    """The current manifest's {bucket: rel_dir} of a bucketed sink ({}
    before its first commit).  The bucket count is fixed when the sink
    is created: a caller asking for another count gets a
    PipelineError naming the sink by ``label``."""
    mf = read_bucket_manifest(path)
    if mf is None:
        return {}
    if mf[0] != n_buckets:
        raise PipelineError(
            f"{label} has {mf[0]} buckets, not {n_buckets} (the bucket "
            "count is fixed when the sink is created)"
        )
    return dict(mf[1])


def bucket_history_files(path: str) -> list[str]:
    """Retained manifest-history snapshots, OLDEST FIRST (numeric
    commit order — NOT lexical: zero-padding runs out at v-1000000,
    well inside a long-lived streaming replica's commit count).  Each
    commit archives the manifest it installs as
    ``_manifest.h-v-NNNNNN`` (NNNNNN = the version dir that commit
    created).  ``.tmp`` crash leftovers from write_atomic are never
    history entries."""
    if not os.path.isdir(path):
        return []
    return sorted(
        (
            e
            for e in os.listdir(path)
            if e.startswith("_manifest.h-v-")
            and not e.endswith(".tmp")
            and os.path.isfile(os.path.join(path, e))
        ),
        key=lambda e: int(e.rsplit("v-", 1)[1]),
    )


def bucketed_sink_lock(path: str):
    """Cross-process write lock for a bucketed versioned sink: every
    read-merge-commit sequence (``$merge buckets``, the replica
    materializer, ``compact_replica``) and every GC pass
    (``vacuum_bucketed_sink``) takes it, so a compaction cannot base
    its rewrite on a snapshot a concurrent micro-batch is advancing
    (the manifest swap alone gives last-writer-wins — the LOSING
    commit's effect would silently vanish), and a vacuum cannot GC an
    in-flight commit's version dir before the manifest references it.
    flock-based (kernel-released on crash), BLOCKING — a writer
    arriving during a long compaction waits instead of failing the
    streaming query.  The lock file lives under the sink root, which
    is never renamed."""
    from pymongo_change_stream_reader_spark.operators.maintenance import (
        IndexWriteLock,
    )

    return IndexWriteLock(os.path.join(path, "_write.lock"))


def bucket_of(on: list[str], n_buckets: int) -> Column:
    """Deterministic bucket of the merge key: pmod(xxhash64(keys), n).
    Derived from the on-key columns alone, so it is never stored —
    any reader recomputes it identically."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in on]), F.lit(n_buckets)).cast(
        "int"
    )


def read_bucketed_sink(
    spark: SparkSession, path: str, version: int = 0
) -> DataFrame | None:
    """Read a bucket-partitioned versioned sink: the union of every
    bucket's current directory (``version=0``) or of the previous
    commit's manifest snapshot (``version=-1``, kept in
    ``_manifest.prev``).  Buckets written by different commits may
    carry different columns (merges can add fields) — unionByName with
    allowMissingColumns reconciles them.

    Asymmetry, by contract: ``version=-1`` with nothing retained
    returns None (indistinguishable from — and usually meaning — "only
    one commit ever happened"; replica_changes relies on that probe),
    while ``-n`` for n >= 2 outside the window raises, because deeper
    offsets are only ever requested deliberately."""
    if not isinstance(version, int) or version > 0:
        raise PipelineError(
            "bucketed-sink version must be 0 (current) or a negative "
            "offset (-n = n commits back, within the retention window)"
        )
    if version < 0:
        cur_mf = read_bucket_manifest(path)
        if cur_mf is None:
            # no current manifest means no commit ever succeeded: a
            # crash between the FIRST commit's history write and its
            # manifest swap leaves only a phantom snapshot, and serving
            # it would return never-committed data for version=-1 while
            # version=0 says the sink does not exist.  Nonexistent for
            # ALL versions, consistently.
            return None
        hist = bucket_history_files(path)
        # hist is oldest-first and its LAST entry is the current
        # commit's snapshot, so -n indexes hist[-1 - n].  A crash
        # between the history write and the manifest swap leaves a
        # PHANTOM trailing snapshot (a commit that never became
        # current — see the crash-ordering note in
        # finalize_bucketed_version); indexing through it would
        # silently return the CURRENT data for version=-1.  After every successful commit the newest
        # snapshot equals _manifest by construction (buried phantoms
        # are purged at commit time), so a differing trailing entry is
        # conclusively a phantom — skip it.
        if hist and read_bucket_manifest(path, hist[-1]) != cur_mf:
            hist = hist[:-1]
        idx = len(hist) - 1 + version
        if 0 <= idx < len(hist):
            mf = read_bucket_manifest(path, hist[idx])
        elif version == -1:
            # legacy sinks written before history snapshots existed
            # keep one-step rollback via _manifest.prev
            mf = read_bucket_manifest(path, "_manifest.prev")
        else:
            raise PipelineError(
                f"bucketed sink at {path!r} retains {len(hist)} "
                f"version(s); version {version} is outside the "
                "retention window (raise `retain` on the merge, or "
                "vacuum less aggressively)"
            )
        if mf is None:
            return None
        entries = mf[1]
    else:
        mf = read_bucket_manifest(path)
        if mf is None:
            return None
        entries = mf[1]
    return read_entry_dirs(spark, path, list(entries.values()))


def read_entry_dirs(
    spark: SparkSession, path: str, rels: list[str]
) -> DataFrame | None:
    """Union the given bucket dirs, grouped by VERSION dir: every
    bucket written by one commit shares that commit's schema, so one
    ``spark.read.parquet(*dirs)`` per version replaces the per-bucket
    read (16 buckets = 16 driver-side footer/schema inferences, ~0.1 s
    each — measured as a real slice of the composed relay's per-batch
    floor); unionByName(allowMissingColumns) still reconciles ACROSS
    versions, where merges may have added fields."""
    by_version: dict[str, list[str]] = {}
    for rel in rels:
        if os.path.isdir(os.path.join(path, rel)):
            by_version.setdefault(rel.split("/", 1)[0], []).append(rel)
    frames = [
        spark.read.parquet(*[os.path.join(path, rel) for rel in group])
        for group in by_version.values()
    ]
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _purge_phantom_history(path: str) -> list[str]:
    """Delete PHANTOM history snapshots — commits whose manifest swap
    never landed.  After a successful commit the newest snapshot
    equals ``_manifest`` by construction, so every snapshot NEWER than
    the newest one matching the installed manifest was never current;
    with no ``_manifest`` at all (first-commit crash) every snapshot
    is a phantom.  If no snapshot matches a present manifest
    (externally tampered / legacy sink) nothing is purged —
    conservative.  Callers hold ``bucketed_sink_lock``.  Returns the
    purged names."""
    cur_body = read_bucket_manifest(path)
    hist0 = bucket_history_files(path)
    if cur_body is None:
        phantoms = hist0
    else:
        phantoms = []
        for name in reversed(hist0):
            if read_bucket_manifest(path, name) == cur_body:
                break
            phantoms.append(name)
        else:
            phantoms = []
    for name in phantoms:
        os.unlink(os.path.join(path, name))
    return phantoms


def commit_bucketed(
    merged: DataFrame,
    path: str,
    on: list[str],
    n_buckets: int,
    entries: dict[int, str],
    changed: "list[int] | tuple" = (),
    retain: int = 2,
    return_df: bool = True,
) -> DataFrame | None:
    """Commit ``merged`` (the rewritten rows of the CHANGED buckets
    only) into a bucketed versioned sink: one partitioned write, an
    atomic manifest swap, a manifest-history snapshot for time travel
    (the newest ``retain`` commits stay readable via
    ``read_bucketed_sink(version=-n)``), and GC of version dirs
    referenced by NO retained manifest.  ``retain=2`` is the classic
    current+prev contract; larger values widen the time-travel /
    rollback window at the cost of keeping superseded bucket dirs on
    disk until they age out or ``vacuum_bucketed_sink`` prunes them.
    Untouched buckets keep their existing directories byte-for-byte;
    a crash before the manifest swap leaves the previous commit live.

    CALLERS HOLD ``bucketed_sink_lock(path)`` — every read-merge-commit
    path ($merge buckets, materialize_change_batch, bootstrap_replica,
    compact_replica) wraps its manifest-read → commit span in the lock;
    this function must not re-acquire it (flock on a second fd of the
    same file blocks even within one process)."""
    # validate BEFORE any filesystem mutation: an invalid retain must
    # leave the sink untouched, not raise with the commit half-installed
    if isinstance(retain, bool) or not isinstance(retain, int) or retain < 1:
        raise PipelineError("bucketed-sink retain must be an int >= 1")
    spark = merged.sparkSession
    vdir = _next_version_dir(path)
    merged.withColumn("__bucket", bucket_of(on, n_buckets)).write.partitionBy(
        "__bucket"
    ).mode("overwrite").parquet(os.path.join(path, vdir))
    finalize_bucketed_version(
        path, vdir, n_buckets, entries, changed, retain
    )
    # the post-commit frame costs a manifest read + one reader build
    # per retained version; relay hot paths that ignore it skip the
    # work (return_df=False)
    return read_bucketed_sink(spark, path) if return_df else None


def _next_version_dir(path: str) -> str:
    """Reserve the next version-dir name for a bucketed-sink commit
    and purge phantom history (the pre-write half of
    commit_bucketed; callers hold the sink write lock)."""
    os.makedirs(path, exist_ok=True)
    # next version number = max over BOTH live v-dirs AND history
    # snapshot names: an all-deletes commit's (empty) v-dir is GC'd,
    # and reusing its number would silently overwrite that commit's
    # history snapshot — version numbers must never recycle
    seen = [
        int(d[2:])
        for d in os.listdir(path)
        if d.startswith("v-") and os.path.isdir(os.path.join(path, d))
    ] + [int(h.rsplit("v-", 1)[1]) for h in bucket_history_files(path)]
    vdir = f"v-{(max(seen) + 1 if seen else 1):06d}"
    # purge PHANTOM history snapshots left by a crash between a prior
    # commit's history write and its manifest swap.  Without this,
    # THIS commit's snapshot would bury the phantom mid-history, after
    # which read_bucketed_sink(version=-1) resolves to the phantom —
    # never-committed data served as "the previous commit" — and every
    # deeper -n read is off by one.  (Purged AFTER `seen` so the
    # phantom's version number still counts toward never-recycling.)
    _purge_phantom_history(path)
    return vdir


def finalize_bucketed_version(
    path: str,
    vdir: str,
    n_buckets: int,
    entries: dict,
    changed,
    retain: int,
) -> None:
    """Install an already-written version dir as the sink's current
    commit: written-bucket scan, manifest build, history snapshot,
    atomic swap, retention, GC — the post-write half of
    commit_bucketed (callers hold the sink write lock).  Split out
    so the FUSED commit path (one Spark write for several stores,
    commit_bucketed_fused) can reuse the manifest protocol
    unchanged; it is also the per-store crash seam the chaos suites
    hook."""
    vpath = os.path.join(path, vdir)
    written = (
        {
            int(d.split("=", 1)[1])
            for d in os.listdir(vpath)
            if d.startswith("__bucket=")
        }
        if os.path.isdir(vpath)
        else set()
    )
    new_entries = dict(entries)
    for k in written:
        new_entries[k] = f"{vdir}/__bucket={k}"
    # a changed bucket that produced NO rows (every document deleted —
    # the materializer path) must drop its stale entry, not keep
    # serving the pre-delete data
    for k in changed:
        if k not in written:
            new_entries.pop(k, None)
    mpath = os.path.join(path, "_manifest")
    body = f"buckets={n_buckets}" + "".join(
        f"\n{k}:{new_entries[k]}" for k in sorted(new_entries)
    )
    # archive this commit's history snapshot FIRST (durably: tmp +
    # fsync + os.replace, same discipline as the main manifest — a
    # crash mid-write must never leave a truncated _manifest.h-* that
    # poisons every later commit's GC pass), then snapshot the
    # superseded map (rollback / legacy version=-1), then the atomic
    # swap that IS the commit point.  Crash ordering: history-before-
    # swap means a crash in between leaves a PHANTOM snapshot (a fully
    # written commit that never became current) occupying one retention
    # slot until it ages out — its data dirs are GC-protected, so
    # reading it is consistent.  The reverse order would instead leave
    # the current commit with NO snapshot, permanently off-by-one-ing
    # every version=-n read across that boundary — strictly worse.
    write_atomic(os.path.join(path, f"_manifest.h-{vdir}"), body)
    prev_path = os.path.join(path, "_manifest.prev")
    if retain >= 2:
        if os.path.exists(mpath):
            shutil.copyfile(mpath, prev_path)
    elif os.path.exists(prev_path):
        # retain=1 means ONLY the current commit is retained: a live
        # _manifest.prev would keep serving version=-1 (and pinning its
        # dirs) outside the declared window
        os.unlink(prev_path)
    write_atomic(mpath, body)
    hist = bucket_history_files(path)
    for stale in hist[: max(0, len(hist) - retain)]:
        os.unlink(os.path.join(path, stale))
    _gc_bucket_versions(path)


def commit_bucketed_fused(specs: list, scratch_root: str) -> None:
    """Commit SEVERAL bucketed stores' changed-bucket rows with ONE
    Spark write (the commit wave's floor is per-write driver latency
    + commit protocol, not data).  ``specs``: dicts with keys ``name`` (store
    tag — a safe dirname), ``df`` (rows to commit), ``path``, ``on``,
    ``n_buckets``, ``entries``, ``changed``, ``retain`` — the exact
    per-store commit_bucketed arguments.  CALLERS HOLD the sink
    write lock covering every store (the view stores share the view
    root's lock).

    Mechanics: each store's frame gains its own ``__bucket`` (hashed
    on ITS key columns) and a ``__fstore`` tag; the union writes once
    under ``scratch_root/.commit-wave`` partitioned by
    (__fstore, __bucket); each store's bucket dirs are then RENAMED
    into that store's next version dir and finalized through the
    normal manifest protocol (finalize_bucketed_version) — pure
    filesystem ops, no further Spark jobs.  The union schema means a
    store's parquet files can carry the OTHER stores' columns as
    nulls; every reader of these stores selects its own columns or
    reads with an explicit schema, and unionByName across versions
    reconciles (the same contract schema-on-read already relies on).
    A crash mid-wave leaves either no manifest swapped (invisible) or
    a prefix of stores swapped — exactly the per-store-commit crash
    surface the replay contracts already cover.  Falls back to
    per-store commit_bucketed when the frames cannot union (e.g. a
    user field column colliding with another store's column under a
    different type)."""
    for s in specs:
        if (
            isinstance(s["retain"], bool)
            or not isinstance(s["retain"], int)
            or s["retain"] < 1
        ):
            raise PipelineError("bucketed-sink retain must be an int >= 1")
    wave = os.path.join(scratch_root, ".commit-wave")
    shutil.rmtree(wave, ignore_errors=True)
    try:
        tagged = None
        for s in specs:
            t = (
                s["df"]
                .withColumn(
                    "__bucket", bucket_of(s["on"], s["n_buckets"])
                )
                .withColumn("__fstore", F.lit(s["name"]))
            )
            tagged = (
                t
                if tagged is None
                else tagged.unionByName(t, allowMissingColumns=True)
            )
        tagged.write.partitionBy("__fstore", "__bucket").mode(
            "overwrite"
        ).parquet(wave)
    except Exception:
        # un-unionable frames (same-name different-type columns):
        # the per-store path is always correct, just more jobs
        shutil.rmtree(wave, ignore_errors=True)
        for s in specs:
            commit_bucketed(
                s["df"], s["path"], s["on"], s["n_buckets"],
                s["entries"], s["changed"], retain=s["retain"],
                return_df=False,
            )
        return
    for s in specs:
        path = s["path"]
        vdir = _next_version_dir(path)
        vpath = os.path.join(path, vdir)
        os.makedirs(vpath, exist_ok=True)
        src = os.path.join(wave, f"__fstore={s['name']}")
        if os.path.isdir(src):
            for d in os.listdir(src):
                if d.startswith("__bucket="):
                    os.rename(
                        os.path.join(src, d), os.path.join(vpath, d)
                    )
        finalize_bucketed_version(
            path, vdir, s["n_buckets"], s["entries"], s["changed"],
            s["retain"],
        )
    shutil.rmtree(wave, ignore_errors=True)


def _gc_bucket_versions(path: str) -> None:
    """Remove version dirs referenced by NO retained manifest (current,
    _manifest.prev, or any history snapshot).  A version dir survives
    while ANY retained manifest references any bucket inside it —
    superseded bucket dirs inside a still-live version dir linger until
    the whole dir is unreferenced (bounded retention slack,
    documented).  Safe under a concurrent reader of a RETAINED version:
    every dir such a reader can reach through a retained manifest is a
    survivor by construction."""
    survivors: set[str] = set()
    hist = bucket_history_files(path)
    names = ["_manifest", "_manifest.prev"] + hist
    for name in names:
        mf = read_bucket_manifest(path, name)
        if mf is not None:
            survivors |= {rel.split("/", 1)[0] for rel in mf[1].values()}
    # High-watermark guard (defense in depth under the sink write
    # lock): an IN-FLIGHT commit writes its v-dir long before any
    # manifest references it, so a dir numbered above every retained
    # reference AND above every completed commit's history snapshot
    # may be mid-write — never GC it.  A CRASHED commit's orphan dir
    # becomes collectable as soon as the next successful commit takes
    # a higher number (version numbers never recycle).
    watermark = max(
        [int(d[2:]) for d in survivors]
        + [int(h.rsplit("v-", 1)[1]) for h in hist]
        + [0]
    )
    for entry in os.listdir(path):
        if (
            entry.startswith("v-")
            and entry not in survivors
            and os.path.isdir(os.path.join(path, entry))
            and int(entry[2:]) <= watermark
        ):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)


def vacuum_bucketed_sink(path: str, keep: int = 1) -> int:
    """Shrink a bucketed sink's retention window to the newest ``keep``
    commits and GC the version dirs that fall out of it.  Returns the
    number of history snapshots dropped.  ``keep >= 1`` always — the
    current commit is never vacuumable.  The stale ``_manifest.prev``
    compatibility snapshot is dropped too when ``keep == 1`` (it
    references the pre-current commit); a reader holding an
    already-opened DataFrame keeps working until its underlying files
    are deleted, exactly the Delta/Iceberg vacuum contract — vacuum
    trades replay depth for space, never current-version safety."""
    if isinstance(keep, bool) or not isinstance(keep, int) or keep < 1:
        raise PipelineError("vacuum keep must be an int >= 1")
    # GC holds the sink write lock: without it a vacuum racing an
    # in-flight commit could delete the version dir the commit has
    # written but whose manifest swap hasn't landed yet (the
    # high-watermark guard in _gc_bucket_versions is defense in depth
    # behind this lock, not a substitute for it)
    with bucketed_sink_lock(path):
        if read_bucket_manifest(path) is None:
            # NOT a bucketed sink (whole-table manifests start with a
            # version dir, not 'buckets=') — proceeding would compute an
            # empty survivor set and delete EVERY v-* dir including the
            # current commit
            raise PipelineError(
                f"{path!r} is not a bucketed versioned sink; vacuum "
                "applies to bucketed sinks only"
            )
        # purge phantoms FIRST: a trailing phantom would otherwise
        # count toward `keep` and push the REAL anchor snapshot (the
        # one matching _manifest) into the stale set — after which the
        # next commit's purge finds no anchor, goes conservative, and
        # buries the phantom where version=-1 serves it
        _purge_phantom_history(path)
        hist = bucket_history_files(path)
        stale = hist[: max(0, len(hist) - keep)]
        for name in stale:
            os.unlink(os.path.join(path, name))
        if keep == 1 and os.path.exists(os.path.join(path, "_manifest.prev")):
            os.unlink(os.path.join(path, "_manifest.prev"))
        _gc_bucket_versions(path)
        return len(stale)


# -- bucketed view stores: explicit-schema reads, delta dirs -------------


def read_schemaed(
    spark: SparkSession, store: str, rels: list, schema
) -> DataFrame | None:
    """Union the given bucket dirs with an EXPLICIT schema — the
    stores' layouts are config-fixed, so this skips the per-version
    driver-side footer/schema inference read_entry_dirs pays (a
    missing column null-fills, extras are ignored: the same
    reconciliation, without the driver latency)."""
    dirs = [
        os.path.join(store, rel)
        for rel in rels
        if os.path.isdir(os.path.join(store, rel))
    ]
    if not dirs:
        return None
    return spark.read.schema(schema).parquet(*dirs)


def read_delta_dir(spark: SparkSession, d: str, schema) -> DataFrame:
    """Read a persisted delta dir with an EXPLICIT schema; a missing
    or file-less dir (a fused delta write creates no partition dir
    for an empty frame) reads as an empty frame of the schema."""
    if not dir_has_parquet(d):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(d)


def flatten_bucket_dirs(sub_dir: str) -> list[int]:
    """Move a delta subdir's ``__b=<n>`` write-partition dirs' files
    up into the subdir itself and return the sorted bucket ids — the
    store's touched-bucket list, derived from the write instead of a
    dedicated collect job.  One writer task emits the SAME part-file
    name into every partition dir, so flattened files gain a
    ``b<val>-`` prefix (and their ``.crc`` twins the matching
    ``.b<val>-…`` name, keeping the local filesystem's checksum
    pairing).  Rows without a bucket column land under the Hive
    default-partition dir; their files flatten the same way, they
    just contribute no bucket id."""
    buckets: list[int] = []
    for dn in os.listdir(sub_dir):
        p = os.path.join(sub_dir, dn)
        if not (os.path.isdir(p) and dn.startswith("__b=")):
            continue
        val = dn.split("=", 1)[1]
        if val.lstrip("-").isdigit():
            buckets.append(int(val))
        for fn in os.listdir(p):
            if fn.startswith(".") and fn.endswith(".crc"):
                dst_fn = f".b{val}-{fn[1:]}"
            else:
                dst_fn = f"b{val}-{fn}"
            os.rename(
                os.path.join(p, fn), os.path.join(sub_dir, dst_fn)
            )
        os.rmdir(p)
    return sorted(buckets)


# -- epoch pointer -------------------------------------------------------


def pointer_current(root: str) -> tuple[str, int] | None:
    """(snapshot name, applied epoch) from ``<root>/_current``; None
    before the first commit."""
    ptr = os.path.join(root, "_current")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        name, epoch = fh.read().strip().rsplit(":", 1)
    return name, int(epoch)


def publish_pointer(root: str, epoch: int) -> None:
    """Point ``<root>/_current`` at the newest manifest-history
    snapshot, tagged with the applied ``epoch`` — the view store's
    single visibility point; callers publish only after every commit
    the pointer covers is durable."""
    name = bucket_history_files(root)[-1][len("_manifest.h-"):]
    write_atomic(os.path.join(root, "_current"), f"{name}:{epoch}")


def resolve_pointer(root: str, label: str) -> tuple[dict, int] | None:
    """Committed store state via the ``_current`` pointer: ({bucket:
    rel_dir}, the applied epoch); None before the first commit.

    Readers resolve the pointer's named manifest SNAPSHOT, never the
    live ``_manifest`` (which may already hold a phantom commit whose
    pointer swap never happened).  A reader racing back-to-back
    commits can catch the pointer between its snapshot being pruned
    and the swap: re-read the pointer with backoff (the writer only
    moves FORWARD, so a retry converges) and raise only when the
    named snapshot is genuinely gone (vacuumed below retention).
    ``label`` names the store in that error."""
    name = None
    for attempt in range(10):
        cur = pointer_current(root)
        if cur is None:
            return None
        name, ep = cur
        mf = read_bucket_manifest(root, f"_manifest.h-{name}")
        if mf is not None:
            return mf[1], ep
        time.sleep(0.05 * (attempt + 1))
    raise PipelineError(
        f"{label} at {os.path.dirname(root)!r}: pointer names snapshot "
        f"{name!r} but no such manifest snapshot exists — vacuumed "
        "below retention"
    )
