"""SIGKILL chaos for the star view (streaming/star_view.py): the two
windows that distinguish its replay contract —

- ``after-facts``: facts store committed, the a-side index did not
  (commits run concurrently) — replay must apply the PERSISTED
  per-side index deltas, not re-derive them against the
  already-committed facts (the join-view lost-tombstone lesson);
  a follow-up A-dim update probes for the stale index row.
- ``before-pointer``: everything committed but the epoch pointer
  swap never ran — replay must converge and then skip.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pytest

from pymongo_change_stream_reader_spark.streaming.star_view import (
    DimSide,
    read_star_view,
    star_view_batch,
)

_SCHEMA = (
    "operationType STRING, documentKey STRING, fullDocument STRING, "
    "t INT, i INT, d STRING"
)
DIMS = [DimSide("a", "$.fka"), DimSide("b", "$.fkb")]

BATCH0 = [
    ("insert", "A1", '{"side":"a","p":"alpha"}', 10, 1, "a1"),
    ("insert", "A2", '{"side":"a","p":"gamma"}', 10, 2, "a2"),
    ("insert", "B1", '{"side":"b","p":"beta"}', 10, 3, "a3"),
    ("insert", "f1", '{"side":"f","fka":"A1","fkb":"B1"}', 10, 4, "a4"),
]
BATCH1 = [
    # f1's a-side fk moves A1 -> A2: the (A1, f1) index tombstone is
    # exactly what a post-facts-commit re-derivation would lose
    ("replace", "f1", '{"side":"f","fka":"A2","fkb":"B1"}', 11, 1, "b1"),
    ("update", "B1", '{"side":"b","p":"BETA2"}', 11, 2, "b2"),
]
BATCH2 = [
    ("update", "A1", '{"side":"a","p":"ALPHA3"}', 12, 1, "c1"),
]
EXPECTED1 = {
    "f1": ("A2", '{"side":"a","p":"gamma"}', "B1", '{"side":"b","p":"BETA2"}')
}
EXPECTED2 = EXPECTED1  # the A1 probe must NOT clobber f1's a-side

_CHILD = """
import json, os, signal, sys, threading

kill_mode, path = sys.argv[1], sys.argv[2]
ROWS = [tuple(r) for r in json.loads(sys.argv[3])]
SCHEMA = sys.argv[4]

from pymongo_change_stream_reader_spark.session import get_spark
import pymongo_change_stream_reader_spark.storage as storage
import pymongo_change_stream_reader_spark.streaming.star_view as sv

spark = get_spark(app_name="starview-chaos", cpus=4, shuffle_partitions=4)

def die(tag):
    print("KILLED_AT " + tag, flush=True)
    os.kill(os.getpid(), signal.SIGKILL)

if kill_mode == "after-facts":
    # r14 fused commit: store DATA lands in one write, manifest
    # finalizes run SEQUENTIALLY in spec order (facts, dims_a, idx_a,
    # ...) — dying at the idx_a finalize leaves facts committed, the
    # a-side index not
    real_fin = storage.finalize_bucketed_version
    def fin_hook(path, *a, **kw):
        if path.endswith("idx_a"):
            die("after-facts")
        return real_fin(path, *a, **kw)
    storage.finalize_bucketed_version = fin_hook
else:
    real_wa = storage.write_atomic
    def wa_hook(dest, body):
        if dest.endswith("_current"):
            die("before-pointer")
        real_wa(dest, body)
    storage.write_atomic = wa_hook

batch = spark.createDataFrame(ROWS, SCHEMA).selectExpr(
    "operationType", "documentKey", "fullDocument",
    "named_struct('t', t, 'i', i) AS clusterTime",
    "named_struct('_data', d) AS _id",
)
sv.star_view_batch(
    batch, path, 1,
    [sv.DimSide("a", "$.fka"), sv.DimSide("b", "$.fkb")],
    n_buckets=4,
    join_type=(sys.argv[5] if len(sys.argv) > 5 else "left"),
)
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
    v = read_star_view(spark, path)
    return (
        {}
        if v is None
        else {
            r["key"]: (r["fk_a"], r["dim_a"], r["fk_b"], r["dim_b"])
            for r in v.collect()
        }
    )


@pytest.mark.slow
@pytest.mark.parametrize("kill_mode", ["after-facts", "before-pointer"])
def test_sigkill_windows_converge(spark, tmp_path, kill_mode):
    path = str(tmp_path / "sview")
    star_view_batch(_mk(spark, BATCH0), path, 0, DIMS, n_buckets=4)

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
    assert os.path.isdir(os.path.join(path, "view_deltas", "epoch=1"))

    assert star_view_batch(_mk(spark, BATCH1), path, 1, DIMS, n_buckets=4)
    assert _view(spark, path) == EXPECTED1
    assert not star_view_batch(
        _mk(spark, BATCH1), path, 1, DIMS, n_buckets=4
    )
    assert _view(spark, path) == EXPECTED1
    # the stale-index probe: a lost (A1, f1) tombstone would fan this
    # A1 update out to f1 and overwrite its a-side with stale data
    assert star_view_batch(_mk(spark, BATCH2), path, 2, DIMS, n_buckets=4)
    assert _view(spark, path) == EXPECTED2


INNER_BATCH0 = [
    ("insert", "A1", '{"side":"a","p":"alpha"}', 10, 1, "a1"),
    ("insert", "B1", '{"side":"b","p":"beta"}', 10, 2, "a2"),
    ("insert", "f1", '{"side":"f","fka":"A1","fkb":"B1"}', 10, 3, "a3"),
    ("insert", "f2", '{"side":"f","fka":"A1","fkb":"B9"}', 10, 4, "a4"),
]
INNER_BATCH1 = [
    # A1's DELETE must RETRACT f1's view row under INNER semantics
    # (f2 never had one — B9 does not exist); the retraction rides the
    # dim-driven delta, exactly what a half-committed epoch's replay
    # must not lose
    ("delete", "A1", None, 11, 1, "b1"),
]
INNER_BATCH2 = [
    # A1 returns: f1 joins again (with B1), f2 still blocked on B9
    ("insert", "A1", '{"side":"a","p":"ALPHA2"}', 12, 1, "c1"),
]


@pytest.mark.slow
@pytest.mark.parametrize("kill_mode", ["after-facts", "before-pointer"])
def test_inner_dim_delete_retraction_survives_sigkill(
    spark, tmp_path, kill_mode
):
    """INNER star view under the same two SIGKILL windows: a dim
    delete's view-row RETRACTION must survive a half-committed epoch
    (LEFT only null-pads — INNER is the semantics where a lost delta
    visibly resurrects a dead row)."""
    path = str(tmp_path / "sview")
    star_view_batch(
        _mk(spark, INNER_BATCH0), path, 0, DIMS, n_buckets=4,
        join_type="inner",
    )
    v0 = {
        r["key"] for r in read_star_view(spark, path).collect()
    }
    assert v0 == {"f1"}

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [
            sys.executable, "-c", _CHILD, kill_mode, path,
            json.dumps(INNER_BATCH1), _SCHEMA, "inner",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert f"KILLED_AT {kill_mode}" in proc.stdout
    # crashed mid-epoch: the pointer never advanced, f1 still visible
    assert {
        r["key"] for r in read_star_view(spark, path).collect()
    } == {"f1"}

    # replay: the persisted deltas retract f1; a second replay skips
    assert star_view_batch(
        _mk(spark, INNER_BATCH1), path, 1, DIMS, n_buckets=4,
        join_type="inner",
    )
    assert read_star_view(spark, path).count() == 0
    assert not star_view_batch(
        _mk(spark, INNER_BATCH1), path, 1, DIMS, n_buckets=4,
        join_type="inner",
    )
    assert read_star_view(spark, path).count() == 0

    # the dim returns -> f1 rejoins through the committed index (a
    # lost index tombstone/pin would leave stale fan-out state)
    assert star_view_batch(
        _mk(spark, INNER_BATCH2), path, 2, DIMS, n_buckets=4,
        join_type="inner",
    )
    v2 = {
        r["key"]: (r["dim_a"], r["dim_b"])
        for r in read_star_view(spark, path).collect()
    }
    assert v2 == {
        "f1": ('{"side":"a","p":"ALPHA2"}', '{"side":"b","p":"beta"}')
    }
