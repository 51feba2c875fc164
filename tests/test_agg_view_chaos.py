"""True-SIGKILL chaos for the incremental aggregate view
(streaming/agg_view.py): a subprocess applying epoch 1 is SIGKILLed at
each durable boundary of the replay contract —

- ``before-keys``: the per-group deltas are persisted, the keys commit
  never ran;
- ``before-pointer``: keys committed and the new groups version dir is
  written, but the epoch pointer swap (the commit point) never ran —
  the window where a replay that RECOMPUTED deltas would see the
  already-updated keys store, compute zero, and silently lose the
  batch;
- ``after-pointer``: everything landed; the replay must skip.

The parent replays the epoch (as Structured Streaming redelivers a
batch whose foreachBatch never returned) and asserts the view equals
an uninterrupted run.  Unlike the monkeypatched in-process crash tests
(tests/test_agg_view.py), SIGKILL leaves no finally blocks, no lock
release, and whatever half-written files the dead JVM had."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pytest

from pymongo_change_stream_reader_spark.streaming.agg_view import (
    agg_view_batch,
    read_agg_view,
)


def _doc(v, g):
    return f'{{"v": {v}, "g": "{g}"}}'


# rows: (op, key, doc-or-None, t, i, d) — pre-rendered docs so the
# child needs no JSON quoting of its own
BATCH0 = [
    ("insert", "k1", _doc(5, "a"), 10, 1, "a1"),
    ("insert", "k2", _doc(3, "b"), 10, 2, "a2"),
]
BATCH1 = [
    ("update", "k1", _doc(6, "b"), 11, 1, "b1"),
    ("delete", "k2", None, 11, 2, "b2"),
]

_SCHEMA = (
    "operationType STRING, documentKey STRING, fullDocument STRING, "
    "t INT, i INT, d STRING"
)

_CHILD = """
import json, os, signal, sys

kill_mode, path = sys.argv[1], sys.argv[2]
ROWS = [tuple(r) for r in json.loads(sys.argv[3])]
SCHEMA = sys.argv[4]

from pymongo_change_stream_reader_spark.session import get_spark
import pymongo_change_stream_reader_spark.storage as storage
import pymongo_change_stream_reader_spark.streaming.agg_view as av

spark = get_spark(app_name="aggview-chaos", cpus=4, shuffle_partitions=4)

def die(tag):
    print("KILLED_AT " + tag, flush=True)
    os.kill(os.getpid(), signal.SIGKILL)

if kill_mode == "before-keys":
    def cb_hook(*a, **kw):
        # called AFTER the deltas dir rename: window (a).  r14: the
        # plain-mode path commits through the fused write, minmax
        # through per-store commits — hook both.
        die("before-keys")
    av.commit_bucketed = cb_hook
    av.commit_bucketed_fused = cb_hook
else:
    real_wa = storage.write_atomic
    def wa_hook(dest, body):
        if not dest.endswith("_current"):  # only the groups pointer
            return real_wa(dest, body)
        if kill_mode == "before-pointer":
            die("before-pointer")
        real_wa(dest, body)
        if kill_mode == "after-pointer":
            die("after-pointer")
    storage.write_atomic = wa_hook

batch = spark.createDataFrame(ROWS, SCHEMA).selectExpr(
    "operationType", "documentKey", "fullDocument",
    "named_struct('t', t, 'i', i) AS clusterTime",
    "named_struct('_data', d) AS _id",
)
av.agg_view_batch(batch, path, 1, value_type="long", n_buckets=4)
print("SURVIVED", flush=True)
"""


def _mk(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA).selectExpr(
        "operationType",
        "documentKey",
        "fullDocument",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )


def _groups(spark, path):
    view = read_agg_view(spark, path)
    return (
        {}
        if view is None
        else {r["grp"]: (r["n_docs"], r["sum_val"]) for r in view.collect()}
    )


@pytest.mark.slow
@pytest.mark.parametrize(
    "kill_mode", ["before-keys", "before-pointer", "after-pointer"]
)
def test_sigkill_windows_converge(spark, tmp_path, kill_mode):
    path = str(tmp_path / "view")
    agg_view_batch(
        _mk(spark, BATCH0), path, 0, value_type="long", n_buckets=4
    )
    assert _groups(spark, path) == {"a": (1, 5), "b": (1, 3)}

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable, "-c", _CHILD, kill_mode, path,
            json.dumps(BATCH1), _SCHEMA,
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert "SURVIVED" not in proc.stdout
    assert f"KILLED_AT {kill_mode}" in proc.stdout

    if kill_mode != "after-pointer":
        # every window past the delta-persist point leaves the batch's
        # deltas durable for the replay to reuse
        assert os.path.isdir(os.path.join(path, "deltas", "epoch=1"))

    # replay epoch 1, then once more: converged and stable
    applied = agg_view_batch(
        _mk(spark, BATCH1), path, 1, value_type="long", n_buckets=4
    )
    assert applied == (kill_mode != "after-pointer")
    assert _groups(spark, path) == {"b": (1, 6)}
    assert not agg_view_batch(
        _mk(spark, BATCH1), path, 1, value_type="long", n_buckets=4
    )
    assert _groups(spark, path) == {"b": (1, 6)}


def test_sigkill_mid_keys_compaction_recovers(spark, tmp_path):
    """SIGKILL inside compact_agg_view_keys' bucketed commit: the
    manifest swap is the commit point, so the view either serves the
    pre-compact or the post-compact state — never a torn one — and
    batches keep applying after restart."""
    path = str(tmp_path / "view")
    agg_view_batch(
        _mk(spark, BATCH0), path, 0, value_type="long", n_buckets=4
    )
    before = _groups(spark, path)

    child = """
import os, signal, sys
path = sys.argv[1]
from pymongo_change_stream_reader_spark.session import get_spark
import pymongo_change_stream_reader_spark.streaming.agg_view as av
import pymongo_change_stream_reader_spark.storage as storage

spark = get_spark(app_name="aggview-compact-chaos", cpus=4,
                  shuffle_partitions=4)

real_wa = storage.write_atomic
def wa_hook(dest, body):
    if dest.endswith("_manifest"):  # the swap = the commit point
        print("KILLED_AT manifest-swap", flush=True)
        os.kill(os.getpid(), signal.SIGKILL)
    real_wa(dest, body)
storage.write_atomic = wa_hook

av.compact_agg_view_keys(spark, path)
print("SURVIVED", flush=True)
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-c", child, path],
        env=env, capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert "KILLED_AT manifest-swap" in proc.stdout

    # pre-compact state still served; the next batch applies cleanly
    assert _groups(spark, path) == before
    agg_view_batch(
        _mk(spark, BATCH1), path, 1, value_type="long", n_buckets=4
    )
    assert _groups(spark, path) == {"b": (1, 6)}
