"""True-SIGKILL chaos test for the composed relay (r6 verdict ask #6,
carried through r8): a SUBPROCESS driving ``composed_apply_batch`` is
SIGKILLed at each sequential store boundary mid-batch — after the
replica apply returned, and after each of dedup/bm25/ann committed its
epoch marker.  The parent then "restarts" (re-applies the same epoch,
exactly as Structured Streaming replays a batch whose foreachBatch
never returned) and asserts all FOUR stores converge to the state of
an uninterrupted run: stores whose markers committed before the kill
replay as skips, the rest apply exactly once, the replica re-applies
idempotently, and ANN serving equals a frozen-quantizer rebuild over
the live vectors.

The child runs ``max_parallel_stores=1`` so the kill boundary is
deterministic; a final case SIGKILLs MID-FLIGHT under the default
parallel applies (nondeterministic committed subset) and asserts the
same convergence — the replay applies exactly the missing stores,
whichever they turn out to be.

Unlike the monkeypatched crash tests (test_ann_retrain,
test_streaming_dedup), SIGKILL exercises the real failure mode: no
finally blocks, no lock __exit__, no journal cleanup — the flock
releases because the kernel drops it with the process, and every
recovery path starts from whatever files the dead process left.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.similarity import (
    write_ivf_index,
)
from pymongo_change_stream_reader_spark.streaming.composed_relay import (
    composed_apply_batch,
)
from pymongo_change_stream_reader_spark.streaming.dedup_relay import (
    read_dedup_flags,
)
from pymongo_change_stream_reader_spark.streaming.materialize import (
    read_replica,
)
from tests.test_ann_relay import _snapshot, _top, _vec

LONG_A = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the afternoon sun"
)
LONG_B = (
    "completely different content about distributed query engines "
    "processing one hundred terabytes of training data every day"
)

# batch 1 rows, shared verbatim by the child (which dies mid-apply)
# and the parent (which replays the epoch): (op, key, text?, vec_id?)
BATCH1_ROWS = [
    ("insert", "21", "A", 21),
    ("update", "3", "B", 33),
    ("delete", "5", None, None),
]

# the child rebuilds the same batch from argv JSON, applies epoch 1,
# and SIGKILLs itself right after the named boundary
_CHILD = """
import json, os, signal, sys

kill_after, root = sys.argv[1], sys.argv[2]
TEXT = {"A": sys.argv[3], "B": sys.argv[4]}
ROWS = json.loads(sys.argv[5])

from pymongo_change_stream_reader_spark.session import get_spark
import pymongo_change_stream_reader_spark.streaming.composed_relay as cr

spark = get_spark(app_name="chaos-child", cpus=4, shuffle_partitions=4)

def die(store):
    print("KILLED_AFTER " + store, flush=True)
    os.kill(os.getpid(), signal.SIGKILL)

real_commit = cr.commit_epoch
def commit_then_die(marker_dir, epoch_id, qid):
    real_commit(marker_dir, epoch_id, qid)
    store = os.path.basename(marker_dir).split("_")[0]
    # parallel-midflight: die on whichever marker lands FIRST — the
    # other stores are mid-apply (appends in flight, journals live)
    if store == kill_after or kill_after == "parallel-midflight":
        die(store)
cr.commit_epoch = commit_then_die

if kill_after == "replica":
    real_mat = cr.materialize_change_batch
    def mat_then_die(*a, **kw):
        real_mat(*a, **kw)
        die("replica")
    cr.materialize_change_batch = mat_then_die

def _vec(i):  # must match tests.test_ann_relay._vec (DIM=4)
    return [
        float((i * 13 + d * 7) % 19) / 19.0 + (0.01 * d) for d in range(4)
    ]

rows = [
    (op, key, TEXT.get(text), None if vid is None else _vec(vid), 2, n,
     "d" + str(n))
    for n, (op, key, text, vid) in enumerate(ROWS)
]
batch = spark.createDataFrame(
    rows,
    "operationType STRING, documentKey STRING, fullDocument STRING, "
    "embedding ARRAY<DOUBLE>, t INT, i INT, d STRING",
).selectExpr(
    "operationType", "documentKey", "fullDocument", "embedding",
    "CAST(documentKey AS LONG) AS vec_key",
    "named_struct('t', t, 'i', i) AS clusterTime",
    "named_struct('_data', d) AS _id",
)
cr.composed_apply_batch(
    batch, 1,
    checkpoint_dir=os.path.join(root, "ckpt"),
    replica_path=os.path.join(root, "replica"),
    dedup_index_path=os.path.join(root, "lsh"),
    dedup_flags_path=os.path.join(root, "flags"),
    bm25_index_path=os.path.join(root, "bm25"),
    ann_index_path=os.path.join(root, "ivf"),
    ann_key_col="vec_key",
    max_parallel_stores=(4 if kill_after == "parallel-midflight" else 1),
)
print("SURVIVED", flush=True)
"""


def _paths(root):
    return dict(
        checkpoint_dir=os.path.join(root, "ckpt"),
        replica_path=os.path.join(root, "replica"),
        dedup_index_path=os.path.join(root, "lsh"),
        dedup_flags_path=os.path.join(root, "flags"),
        bm25_index_path=os.path.join(root, "bm25"),
        ann_index_path=os.path.join(root, "ivf"),
    )


def _mk(spark, rows):
    data = [
        (
            op,
            key,
            {"A": LONG_A, "B": LONG_B}.get(text),
            None if vid is None else _vec(vid),
            2,
            n,
            f"d{n}",
        )
        for n, (op, key, text, vid) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "operationType STRING, documentKey STRING, fullDocument STRING, "
        "embedding ARRAY<DOUBLE>, t INT, i INT, d STRING",
    ).selectExpr(
        "operationType", "documentKey", "fullDocument", "embedding",
        "CAST(documentKey AS LONG) AS vec_key",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )


def _run_child(kill_after: str, root: str) -> subprocess.CompletedProcess:
    env = dict(
        os.environ,
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_CPUS="4",
    )
    return subprocess.run(
        [
            sys.executable, "-c", _CHILD, kill_after, root,
            LONG_A, LONG_B, json.dumps(BATCH1_ROWS),
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )


@pytest.mark.slow
@pytest.mark.parametrize(
    "kill_after, skipped_on_replay",
    [
        ("replica", set()),
        ("dedup", {"dedup"}),
        ("bm25", {"dedup", "bm25"}),
        ("ann", {"dedup", "bm25", "ann"}),
        ("parallel-midflight", None),  # nondeterministic subset
    ],
)
def test_sigkill_at_store_boundary_converges(
    spark, tmp_path, kill_after, skipped_on_replay
):
    root = str(tmp_path)
    p = _paths(root)
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    cents = write_ivf_index(
        _snapshot(spark, range(10)), p["ann_index_path"], nlist=4,
        train_iters=1,
    )
    # epoch 0 applies fully in-process (all four stores)
    out = composed_apply_batch(
        _mk(spark, [("insert", "20", "A", 20)]), 0, ann_key_col="vec_key",
        **p,
    )
    # every ENABLED store applied (the agg view is not part of this
    # matrix and reports disabled)
    assert {v for v in out.values() if v != "disabled"} == {"applied"}
    assert out["aggview"] == "disabled"

    # epoch 1 in the child, SIGKILLed at the boundary
    proc = _run_child(kill_after, root)
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert "SURVIVED" not in proc.stdout
    assert "KILLED_AFTER" in proc.stdout
    time.sleep(2.0)  # the orphaned JVM exits on gateway-pipe EOF

    # restart: replay epoch 1 (foreachBatch never returned -> the
    # engine redelivers the whole batch)
    out = composed_apply_batch(
        _mk(spark, BATCH1_ROWS), 1, ann_key_col="vec_key", **p
    )
    assert out["replica"] == "applied"  # idempotent, markerless
    if skipped_on_replay is not None:
        for store in ("dedup", "bm25", "ann"):
            want = "replayed-skip" if store in skipped_on_replay else "applied"
            assert out[store] == want, (kill_after, store, out)
    else:
        assert all(
            out[s] in ("applied", "replayed-skip")
            for s in ("dedup", "bm25", "ann")
        )

    # convergence: identical to an uninterrupted run ---------------
    # replica: 20+21 inserted, 3 upserted by the update, 5's delete
    # tombstones a never-present key
    rep = {
        r["key"]: r["doc"]
        for r in read_replica(spark, p["replica_path"]).collect()
    }
    assert set(rep) == {"20", "21", "3"}
    assert rep["3"] == LONG_B
    # dedup: 21 flagged against the live 20, exactly once
    flags = sorted(
        (r["new_id"], r["corpus_id"])
        for r in read_dedup_flags(spark, p["dedup_flags_path"]).collect()
    )
    assert flags == [("21", "20")]
    # bm25: live corpus only, applied exactly once, no crashed journal
    consts = json.load(open(f"{p['bm25_index_path']}/_consts.json"))
    assert consts["n_docs"] == 3.0
    assert not os.path.exists(f"{p['bm25_index_path']}/_append_journal.json")
    # ann: serving equals a frozen-quantizer rebuild over live vectors
    live = _snapshot(
        spark, [i for i in range(10) if i != 5 and i != 3]
    ).union(
        spark.createDataFrame(
            [(3, _vec(33)), (20, _vec(20)), (21, _vec(21))],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        )
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(live, rebuilt, centroids=cents)
    queries = _snapshot(spark, [0, 3])
    assert _top(spark, p["ann_index_path"], queries) == _top(
        spark, rebuilt, queries
    )
