"""Crash-ordering and write-lock tests for the bucketed versioned sink.

Covers the recovery branches added in rounds 5-6:
  * trailing phantom snapshot (crash between history write and manifest
    swap) is skipped by versioned reads;
  * buried phantoms are PURGED at the next successful commit, so
    version=-1 never resolves to never-committed data;
  * a first-commit crash (history snapshot, no _manifest) makes the
    sink nonexistent for ALL versions, consistently;
  * the GC high-watermark preserves an in-flight commit's v-dir and
    collects crashed orphans below the watermark;
  * the sink write lock is actually HELD by the commit, compaction,
    and vacuum paths (a cross-process holder delays them).

Reference parity: the reference serializes its writer per collection
via a single relay process (reference process_manager.py); here
concurrent committers are possible, so the lock carries that contract.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from pymongo_change_stream_reader_spark.plans.pipeline import (
    PipelineError,
    translate_pipeline,
)
from pymongo_change_stream_reader_spark.storage import (
    bucket_history_files,
    read_bucketed_sink,
    vacuum_bucketed_sink,
)

SCHEMA = "id INT, val STRING"


def _merge(spark, rows, path, retain=4):
    df = spark.createDataFrame(rows, SCHEMA)
    spec = {"into": "t", "on": "id", "buckets": 4, "retain": retain}
    return translate_pipeline([{"$merge": spec}], sinks={"t": path})(df)


def _vals(df):
    return sorted((r["id"], r["val"]) for r in df.collect())


def _write_phantom(path: str) -> str:
    """Simulate a crash between the history write and the manifest
    swap: a fully-written history snapshot (pointing at a real v-dir)
    that never became _manifest."""
    hist = bucket_history_files(path)
    n = max(int(h.rsplit("v-", 1)[1]) for h in hist) + 1
    vdir = f"v-{n:06d}"
    # the phantom's data dir exists (the commit wrote it before the
    # history snapshot) but holds different content than any commit
    os.makedirs(os.path.join(path, vdir, "__bucket=0"), exist_ok=True)
    name = f"_manifest.h-{vdir}"
    with open(os.path.join(path, name), "w") as fh:
        fh.write(f"buckets=4\n0:{vdir}/__bucket=0")
    return name


def test_trailing_phantom_skipped_for_versioned_reads(spark, tmp_path):
    path = str(tmp_path / "sink")
    _merge(spark, [(1, "c1")], path)
    _merge(spark, [(1, "c2")], path)
    _write_phantom(path)
    # version 0 = c2 (the phantom never became current), -1 = c1 —
    # NOT the phantom, and NOT c2 shifted into the -1 slot
    assert _vals(read_bucketed_sink(spark, path)) == [(1, "c2")]
    assert _vals(read_bucketed_sink(spark, path, -1)) == [(1, "c1")]


def test_buried_phantom_purged_at_next_commit(spark, tmp_path):
    path = str(tmp_path / "sink")
    _merge(spark, [(1, "c1")], path)
    _merge(spark, [(1, "c2")], path)
    phantom = _write_phantom(path)
    # the next SUCCESSFUL commit must purge the phantom instead of
    # burying it mid-history (where version=-1 would resolve to it)
    _merge(spark, [(1, "c3")], path)
    assert phantom not in os.listdir(path)
    assert _vals(read_bucketed_sink(spark, path)) == [(1, "c3")]
    assert _vals(read_bucketed_sink(spark, path, -1)) == [(1, "c2")]
    assert _vals(read_bucketed_sink(spark, path, -2)) == [(1, "c1")]


def test_first_commit_crash_sink_nonexistent_all_versions(spark, tmp_path):
    path = str(tmp_path / "sink")
    os.makedirs(path)
    # crash before the FIRST manifest swap: history snapshot + v-dir,
    # no _manifest
    os.makedirs(os.path.join(path, "v-000001", "__bucket=0"))
    with open(os.path.join(path, "_manifest.h-v-000001"), "w") as fh:
        fh.write("buckets=4\n0:v-000001/__bucket=0")
    assert read_bucketed_sink(spark, path) is None
    assert read_bucketed_sink(spark, path, -1) is None
    # recovery: the first real commit purges the phantom and installs
    _merge(spark, [(1, "c1")], path)
    assert "_manifest.h-v-000001" not in os.listdir(path)
    assert _vals(read_bucketed_sink(spark, path)) == [(1, "c1")]
    # the phantom occupied v-000001, so its number was not recycled
    assert bucket_history_files(path) == ["_manifest.h-v-000002"]


def test_tampered_history_with_no_matching_anchor_not_purged(
    spark, tmp_path
):
    """If NO history snapshot matches _manifest (external tampering),
    the purge must be conservative and delete nothing."""
    path = str(tmp_path / "sink")
    _merge(spark, [(1, "c1")], path)
    _merge(spark, [(1, "c2")], path)
    # tamper: rewrite the newest (current) snapshot so nothing matches
    hist = bucket_history_files(path)
    with open(os.path.join(path, hist[-1]), "w") as fh:
        fh.write("buckets=4")
    before = set(bucket_history_files(path))
    _merge(spark, [(1, "c3")], path)
    # both pre-existing snapshots survive; only the new one was added
    assert before <= set(bucket_history_files(path))


def test_gc_watermark_preserves_inflight_collects_orphans(spark, tmp_path):
    path = str(tmp_path / "sink")
    _merge(spark, [(7, "c1")], path, retain=1)
    _merge(spark, [(7, "c2")], path, retain=1)
    # above-watermark unreferenced dir = an IN-FLIGHT commit's write
    os.makedirs(os.path.join(path, "v-999999"))
    # below-watermark unreferenced dir = a crashed commit's orphan
    os.makedirs(os.path.join(path, "v-000001"), exist_ok=True)
    vacuum_bucketed_sink(path, keep=1)
    dirs = {d for d in os.listdir(path) if d.startswith("v-")}
    assert "v-999999" in dirs
    assert "v-000001" not in dirs
    assert _vals(read_bucketed_sink(spark, path)) == [(7, "c2")]


_HOLDER = """
import fcntl, os, sys, time
fd = os.open(sys.argv[1], os.O_CREAT | os.O_WRONLY)
fcntl.flock(fd, fcntl.LOCK_EX)
print("HELD", flush=True)
time.sleep(float(sys.argv[2]))
fcntl.flock(fd, fcntl.LOCK_UN)
"""


def _hold_lock(lock_path: str, seconds: float) -> subprocess.Popen:
    proc = subprocess.Popen(
        [sys.executable, "-c", _HOLDER, lock_path, str(seconds)],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert proc.stdout.readline().strip() == "HELD"
    return proc


@pytest.mark.parametrize("op", ["commit", "compact", "vacuum"])
def test_write_paths_block_on_held_sink_lock(spark, tmp_path, op):
    """A cross-process lock holder delays every write path — proof the
    lock is actually taken by commits, compaction, and vacuum (the
    round-5 helper was dead code; this pins the wiring)."""
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        compact_replica,
    )

    path = str(tmp_path / "sink")
    if op == "compact":
        # compact_replica needs a replica-shaped sink (key/doc columns)
        from pymongo_change_stream_reader_spark.streaming.materialize import (
            bootstrap_replica,
        )

        snap = spark.createDataFrame([(1, "d1")], "k STRING, d STRING")
        bootstrap_replica(snap, path, "k", "d", n_buckets=4)
    else:
        _merge(spark, [(1, "c1")], path)

    hold_s = 1.5
    holder = _hold_lock(os.path.join(path, "_write.lock"), hold_s)
    t0 = time.monotonic()
    if op == "commit":
        _merge(spark, [(1, "c2")], path)
        expect = [(1, "c2")]
    elif op == "compact":
        compact_replica(spark, path)
        expect = None
    else:
        vacuum_bucketed_sink(path, keep=1)
        expect = [(1, "c1")]
    elapsed = time.monotonic() - t0
    holder.wait()
    assert elapsed >= hold_s * 0.8, (
        f"{op} returned in {elapsed:.2f}s while the sink write lock was "
        f"held for {hold_s}s — the path is not taking bucketed_sink_lock"
    )
    if expect is not None:
        assert _vals(read_bucketed_sink(spark, path)) == expect


def test_vacuum_purges_phantom_instead_of_anchor(spark, tmp_path):
    """Review r6 #2: a trailing phantom must not count toward `keep` —
    vacuum(keep=1) on [c1, c2, phantom] must retire c1 AND the
    phantom, keeping c2 (the real anchor), so the next commit's purge
    still finds its anchor and version=-1 stays truthful."""
    path = str(tmp_path / "sink")
    _merge(spark, [(1, "c1")], path)
    _merge(spark, [(1, "c2")], path)
    phantom = _write_phantom(path)
    vacuum_bucketed_sink(path, keep=1)
    names = os.listdir(path)
    assert phantom not in names
    # the anchor (c2's snapshot) survives; only c1's was vacuumed
    assert bucket_history_files(path) == ["_manifest.h-v-000002"]
    assert _vals(read_bucketed_sink(spark, path)) == [(1, "c2")]
    # next commit: version=-1 resolves to c2, never the phantom
    _merge(spark, [(1, "c3")], path)
    assert _vals(read_bucketed_sink(spark, path, -1)) == [(1, "c2")]
