"""True-SIGKILL chaos for the incremental join view
(streaming/join_view.py): a subprocess applying epoch 1 is SIGKILLed
at each durable boundary of the replay contract —

- ``before-stores``: the view deltas are persisted, no store commit
  ran — the window where a replay that RECOMPUTED deltas against
  already-merged stores would compute nothing and lose the batch;
- ``after-facts``: the facts store committed but the fact_by_fk
  index did not (the store commits run concurrently) — the window
  where index tombstones RE-DERIVED from fact_old on replay would
  vanish (old.fk == winner.fk once the facts store holds the batch),
  leaving a stale live index row at the moved-away-from fk;
- ``before-pointer``: facts/dims/index committed and the new view
  version is written, but the epoch pointer swap never ran;
- ``after-pointer``: everything landed; the replay must skip.

The parent replays the epoch, asserts the view equals an
uninterrupted run, then applies a FOLLOW-UP dim update (BATCH2) and
asserts the moved fact's view row is NOT clobbered through a stale
index row — the probe that catches the lost-tombstone corruption."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pytest

from pymongo_change_stream_reader_spark.streaming.join_view import (
    join_view_batch,
    read_join_view,
)

_SCHEMA = (
    "operationType STRING, documentKey STRING, fullDocument STRING, "
    "t INT, i INT, d STRING"
)

BATCH0 = [
    ("insert", "d1", '{"side": "d", "p": "alpha"}', 10, 1, "a1"),
    ("insert", "d2", '{"side": "d", "p": "beta"}', 10, 2, "a2"),
    ("insert", "f1", '{"side": "f", "fk": "d1"}', 10, 3, "a3"),
]
BATCH1 = [
    ("replace", "f1", '{"side": "f", "fk": "d2"}', 11, 1, "b1"),
    ("update", "d1", '{"side": "d", "p": "ALPHA"}', 11, 2, "b2"),
    ("insert", "f2", '{"side": "f", "fk": "d1"}', 11, 3, "b3"),
]
# the stale-index probe: d1 changes AFTER f1 moved away from it — a
# surviving (d1, f1) index row would fan this out to f1 and overwrite
# its (d2, beta) view row with stale d1 data
BATCH2 = [
    ("update", "d1", '{"side": "d", "p": "ALPHA2"}', 12, 1, "c1"),
]

_CHILD = """
import json, os, signal, sys

kill_mode, path = sys.argv[1], sys.argv[2]
ROWS = [tuple(r) for r in json.loads(sys.argv[3])]
SCHEMA = sys.argv[4]
JOIN_TYPE = sys.argv[5] if len(sys.argv) > 5 else "inner"

from pymongo_change_stream_reader_spark.session import get_spark
import pymongo_change_stream_reader_spark.streaming.join_view as jv
import pymongo_change_stream_reader_spark.storage as storage

spark = get_spark(app_name="joinview-chaos", cpus=4, shuffle_partitions=4)

def die(tag):
    print("KILLED_AT " + tag, flush=True)
    os.kill(os.getpid(), signal.SIGKILL)

if kill_mode == "before-stores":
    def cb_hook(*a, **kw):
        # the fused commit = the whole store wave; the view deltas
        # dir rename already happened, nothing committed
        die("before-stores")
    jv.commit_bucketed_fused = cb_hook
elif kill_mode == "after-facts":
    # r14 fused commit: the store DATA lands in one write, then the
    # per-store manifest finalizes run SEQUENTIALLY in spec order
    # (facts, dims, fact_by_fk, view) — dying at the fact_by_fk
    # finalize leaves facts (and dims) committed, the index not
    real_fin = storage.finalize_bucketed_version
    def fin_hook(path, *a, **kw):
        if path.endswith("fact_by_fk"):
            die("after-facts")
        return real_fin(path, *a, **kw)
    storage.finalize_bucketed_version = fin_hook
else:
    real_wa = storage.write_atomic
    def wa_hook(dest, body):
        if dest.endswith("_current"):
            if kill_mode == "before-pointer":
                die("before-pointer")
            real_wa(dest, body)
            die("after-pointer")
        real_wa(dest, body)
    storage.write_atomic = wa_hook

batch = spark.createDataFrame(ROWS, SCHEMA).selectExpr(
    "operationType", "documentKey", "fullDocument",
    "named_struct('t', t, 'i', i) AS clusterTime",
    "named_struct('_data', d) AS _id",
)
jv.join_view_batch(batch, path, 1, n_buckets=4, join_type=JOIN_TYPE)
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


def _view(spark, path):
    v = read_join_view(spark, path)
    return (
        {}
        if v is None
        else {r["key"]: (r["fk"], r["dim_doc"]) for r in v.collect()}
    )


EXPECTED = {
    "f1": ("d2", '{"side": "d", "p": "beta"}'),
    "f2": ("d1", '{"side": "d", "p": "ALPHA"}'),
}
EXPECTED2 = {
    "f1": ("d2", '{"side": "d", "p": "beta"}'),
    "f2": ("d1", '{"side": "d", "p": "ALPHA2"}'),
}


def _crash_batch1(path, kill_mode, batch1, join_type):
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable, "-c", _CHILD, kill_mode, path,
            json.dumps(batch1), _SCHEMA, join_type,
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
        assert os.path.isdir(
            os.path.join(path, "view_deltas", "epoch=1")
        )


@pytest.mark.slow
@pytest.mark.parametrize(
    "kill_mode",
    ["before-stores", "after-facts", "before-pointer", "after-pointer"],
)
def test_sigkill_windows_converge(spark, tmp_path, kill_mode):
    path = str(tmp_path / "jview")
    join_view_batch(_mk(spark, BATCH0), path, 0, n_buckets=4)
    assert _view(spark, path) == {
        "f1": ("d1", '{"side": "d", "p": "alpha"}')
    }

    _crash_batch1(path, kill_mode, BATCH1, "inner")

    applied = join_view_batch(_mk(spark, BATCH1), path, 1, n_buckets=4)
    assert applied == (kill_mode != "after-pointer")
    assert _view(spark, path) == EXPECTED
    # once more: stable
    assert not join_view_batch(_mk(spark, BATCH1), path, 1, n_buckets=4)
    assert _view(spark, path) == EXPECTED
    # the stale-index probe: if the replay lost the (d1, f1) index
    # tombstone, this dim update fans out to f1 and overwrites its
    # view row with stale old-fk data
    assert join_view_batch(_mk(spark, BATCH2), path, 2, n_buckets=4)
    assert _view(spark, path) == EXPECTED2


# ---- LEFT-join chaos: same durable windows, plus the NULL-padding
# transitions (fact visible before its dim; fk move onto a dim that
# does not exist yet; late dim arrival filling NULL rows)
BATCH0_L = [
    ("insert", "d1", '{"side": "d", "p": "alpha"}', 10, 1, "a1"),
    ("insert", "f1", '{"side": "f", "fk": "d1"}', 10, 2, "a2"),
    ("insert", "f4", '{"side": "f", "fk": "dX"}', 10, 3, "a3"),
]
BATCH1_L = [
    # f1 moves onto d2, which does NOT exist yet -> NULL-padded
    ("replace", "f1", '{"side": "f", "fk": "d2"}', 11, 1, "b1"),
    ("update", "d1", '{"side": "d", "p": "ALPHA"}', 11, 2, "b2"),
    ("insert", "f2", '{"side": "f", "fk": "d1"}', 11, 3, "b3"),
]
BATCH2_L = [
    # stale-index probe (d1 must no longer reach f1) + the late dim
    # arrival that fills f1's NULL row
    ("update", "d1", '{"side": "d", "p": "ALPHA2"}', 12, 1, "c1"),
    ("insert", "d2", '{"side": "d", "p": "beta"}', 12, 2, "c2"),
]
EXPECTED_L = {
    "f1": ("d2", None),
    "f2": ("d1", '{"side": "d", "p": "ALPHA"}'),
    "f4": ("dX", None),
}
EXPECTED2_L = {
    "f1": ("d2", '{"side": "d", "p": "beta"}'),
    "f2": ("d1", '{"side": "d", "p": "ALPHA2"}'),
    "f4": ("dX", None),
}


@pytest.mark.slow
@pytest.mark.parametrize(
    "kill_mode",
    ["before-stores", "after-facts", "before-pointer", "after-pointer"],
)
def test_sigkill_windows_converge_left(spark, tmp_path, kill_mode):
    path = str(tmp_path / "jview_left")
    kw = dict(n_buckets=4, join_type="left")
    join_view_batch(_mk(spark, BATCH0_L), path, 0, **kw)
    assert _view(spark, path) == {
        "f1": ("d1", '{"side": "d", "p": "alpha"}'),
        "f4": ("dX", None),
    }

    _crash_batch1(path, kill_mode, BATCH1_L, "left")

    applied = join_view_batch(_mk(spark, BATCH1_L), path, 1, **kw)
    assert applied == (kill_mode != "after-pointer")
    assert _view(spark, path) == EXPECTED_L
    assert not join_view_batch(_mk(spark, BATCH1_L), path, 1, **kw)
    assert _view(spark, path) == EXPECTED_L
    assert join_view_batch(_mk(spark, BATCH2_L), path, 2, **kw)
    assert _view(spark, path) == EXPECTED2_L
