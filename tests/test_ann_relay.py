"""Streaming ANN serving-index maintenance (streaming/ann_relay.py)
and the atomic batch upsert (operators/similarity.py
upsert_ivf_index / _ivf_apply_locked): the reference's
insert/update/replace/delete loop (reference change_handler.py:11,
43-48) applied to the vector serving index, with the whole batch under
ONE crash journal."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.similarity import (
    ivf_topk_from_index,
    upsert_ivf_index,
    write_ivf_index,
)
from pymongo_change_stream_reader_spark.storage import list_files

DIM = 4


def _vec(i: int) -> list[float]:
    # deterministic, well-spread unit-ish vectors
    return [
        float((i * 13 + d * 7) % 19) / 19.0 + (0.01 * d)
        for d in range(DIM)
    ]


def _snapshot(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )


def _top(spark, path, queries):
    return sorted(
        map(
            tuple,
            ivf_topk_from_index(spark, path, queries, k=4, nprobe=3)
            .select("query_id", "neighbor_id", "score", "rank")
            .collect(),
        )
    )


def test_upsert_ivf_index_atomic_batch(spark, tmp_path):
    """One call = insert + update + delete; serving equals a
    frozen-quantizer rebuild over the live vectors."""
    path = str(tmp_path / "idx")
    cents = write_ivf_index(
        _snapshot(spark, range(20)), path, nlist=4, train_iters=1
    )
    # update 3/9 (perturbed), insert 100/101, delete 5/15
    upd = spark.createDataFrame(
        [(3, _vec(33)), (9, _vec(99)), (100, _vec(100)), (101, _vec(101))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    dels = spark.createDataFrame([(5,), (15,)], "vec_id LONG")
    out = upsert_ivf_index(upd, path, delete_ids=dels)
    assert out["upserted"] == 4
    # 2 deleted + 2 live collisions (3, 9) tombstoned
    assert out["tombstoned"] == 4
    assert not os.path.exists(path + ".append_journal.json")

    live = spark.createDataFrame(
        [
            (i, _vec(33 if i == 3 else (99 if i == 9 else i)))
            for i in range(20)
            if i not in (5, 15)
        ]
        + [(100, _vec(100)), (101, _vec(101))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(live, rebuilt, centroids=cents)
    q = _snapshot(spark, [0, 3, 9])
    assert _top(spark, path, q) == _top(spark, rebuilt, q)


def test_upsert_ivf_index_crash_is_atomic_across_deletes(
    spark, tmp_path, monkeypatch
):
    """The batch's deletes and upserts share ONE journal: a crash after
    the delete tombstones landed but before the upsert data append must
    roll back the DELETES too — readers never see a half-applied
    batch."""
    import pymongo_change_stream_reader_spark.operators.similarity as sim

    path = str(tmp_path / "idx")
    write_ivf_index(_snapshot(spark, range(20)), path, nlist=4, train_iters=1)
    q = _snapshot(spark, [0, 3])
    before = _top(spark, path, q)
    before_files = list_files(path)

    # the fused apply writes the combined tombstones (deletes +
    # collisions) first; crashing at the data-append seam leaves
    # exactly the half-applied window the journal must roll back
    def crash(*a, **kw):
        raise RuntimeError("injected crash before the data append")

    monkeypatch.setattr(sim, "_ann_append_rows", crash)
    with pytest.raises(RuntimeError, match="injected"):
        upsert_ivf_index(
            spark.createDataFrame(
                [(3, _vec(33))], "vec_id LONG, embedding ARRAY<DOUBLE>"
            ),
            path,
            delete_ids=spark.createDataFrame([(5,)], "vec_id LONG"),
        )
    monkeypatch.undo()

    # the delete of 5 was tombstoned BEFORE the crash — rollback must
    # have restored it along with everything else
    assert list_files(path) == before_files
    assert not os.path.isdir(path + "_tombstones")
    assert _top(spark, path, q) == before


def test_ann_ingest_requires_bootstrap(spark, tmp_path):
    from pymongo_change_stream_reader_spark.streaming.ann_relay import (
        ann_ingest_batch,
    )

    batch = spark.createDataFrame(
        [("insert", "1", _vec(1))],
        "operationType STRING, documentKey STRING, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(RuntimeError, match="bootstrap"):
        ann_ingest_batch(batch, str(tmp_path / "missing"))


def test_streaming_ann_index_two_batches_and_replay(spark, tmp_path):
    """e2e: bootstrap from a snapshot, stream insert/update/delete over
    two micro-batches, match a frozen-quantizer rebuild of the live
    set; a checkpoint restart replays nothing (epoch markers)."""
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.composed_relay import (
        start_composed_relay,
    )
    import pymongo_change_stream_reader_spark.operators.similarity as sim

    index = str(tmp_path / "ivf")
    cents = write_ivf_index(
        _snapshot(spark, range(10)), index, nlist=4, train_iters=1
    )
    src = tmp_path / "in"
    src.mkdir()

    def event(data, key, vec, t, op="insert"):
        return json.dumps(
            {
                "_id": {"_data": data},
                "operationType": op,
                "clusterTime": {"t": t, "i": 1},
                "documentKey": str(key),
                "fullDocument": None if vec is None else json.dumps(vec),
            }
        )

    (src / "b0.json").write_text(
        "\n".join(
            [
                event("a1", 20, _vec(20), 1),  # insert new id
                event("a2", 3, _vec(33), 1, op="update"),
            ]
        )
    )

    def _stream():
        # the embedding rides as a JSON string in fullDocument; the
        # relay is column-generic, so decode + key-cast upstream
        return (
            stream_change_events_json(spark, str(src))
            .withColumn(
                "embedding", F.from_json("fullDocument", "array<double>")
            )
            .withColumn("vec_key", F.col("documentKey").cast("long"))
        )

    ckpt = str(tmp_path / "ckpt")
    q = start_composed_relay(
        _stream(), ckpt, ann_index_path=index, ann_vec_col="embedding",
        ann_key_col="vec_key",
    )
    try:
        q.processAllAvailable()
        (src / "b1.json").write_text(
            "\n".join(
                [
                    event("a3", 5, None, 2, op="delete"),
                    event("a4", 3, _vec(44), 2, op="replace"),
                    # delete-then-reinsert within one batch: LWW keeps
                    # only the insert
                    event("a5", 7, None, 2, op="delete"),
                    event("a6", 7, _vec(77), 3),
                ]
            )
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    live = spark.createDataFrame(
        [
            (i, _vec({3: 44, 7: 77}.get(i, i)))
            for i in range(10)
            if i != 5
        ]
        + [(20, _vec(20))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(live, rebuilt, centroids=cents)
    queries = _snapshot(spark, [0, 3, 7])
    assert _top(spark, index, queries) == _top(spark, rebuilt, queries)

    # restart over the same source: epoch markers skip both batches —
    # the index files do not change
    files_before = list_files(index)
    q2 = start_composed_relay(
        _stream(), ckpt, ann_index_path=index, ann_vec_col="embedding",
        ann_key_col="vec_key",
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
        q2.awaitTermination(30)
    assert list_files(index) == files_before
    assert _top(spark, index, queries) == _top(spark, rebuilt, queries)


def test_upsert_pq_index_atomic_batch(spark, tmp_path):
    """PQ sibling: one call = insert + update + delete; codes equal a
    frozen-codebook re-encode of the live vectors."""
    import json
    import shutil

    from pymongo_change_stream_reader_spark.operators.similarity import (
        pq_encode,
        pq_topk_from_index,
        upsert_pq_index,
        write_pq_index,
    )

    path = str(tmp_path / "idx")
    write_pq_index(
        _snapshot(spark, range(20)), path, m_sub=2, k_codes=8, iters=1
    )
    upd = spark.createDataFrame(
        [(3, _vec(33)), (100, _vec(100))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = upsert_pq_index(
        upd, path, delete_ids=spark.createDataFrame([(5,)], "vec_id LONG")
    )
    assert out == {"upserted": 2, "tombstoned": 2}  # delete 5 + collide 3
    assert not os.path.exists(path + ".append_journal.json")

    live = spark.createDataFrame(
        [(i, _vec(33 if i == 3 else i)) for i in range(20) if i != 5]
        + [(100, _vec(100))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rebuilt = str(tmp_path / "rebuilt")
    books = json.load(open(os.path.join(path, "_codebooks.json")))
    pq_encode(live, books).withColumn("gen", F.lit(0)).write.parquet(rebuilt)
    shutil.copyfile(
        os.path.join(path, "_codebooks.json"),
        os.path.join(rebuilt, "_codebooks.json"),
    )
    q = _snapshot(spark, [0, 3])

    def top(p):
        return sorted(
            map(
                tuple,
                pq_topk_from_index(spark, p, q, live, k=4, rerank=4)
                .select("query_id", "neighbor_id", "score")
                .collect(),
            )
        )

    assert top(path) == top(rebuilt)


def test_ann_write_paths_refuse_id_type_mismatch(spark, tmp_path):
    """A LONG-keyed index fed STRING ids (the raw documentKey trap)
    must fail FAST: a silent append would mix parquet schemas in the
    index dir — the batch would 'succeed' and clear its journal, and
    only the next read would fail, permanently."""
    from pymongo_change_stream_reader_spark.operators.similarity import (
        delete_from_ivf_index,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(_snapshot(spark, range(10)), path, nlist=4, train_iters=1)
    bad = spark.createDataFrame(
        [("3", _vec(33))], "vec_id STRING, embedding ARRAY<DOUBLE>"
    )
    with pytest.raises(TypeError, match="stores bigint"):
        upsert_ivf_index(bad, path)
    with pytest.raises(TypeError, match="stores bigint"):
        delete_from_ivf_index(bad.select("vec_id"), path)
    # nothing half-applied: no journal, no tombstones, clean retry path
    assert not os.path.exists(path + ".append_journal.json")
    assert not os.path.isdir(path + "_tombstones")
    upsert_ivf_index(
        spark.createDataFrame(
            [(3, _vec(33))], "vec_id LONG, embedding ARRAY<DOUBLE>"
        ),
        path,
    )


def test_upsert_refuses_both_none(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_ivf_index(_snapshot(spark, range(5)), path, nlist=2, train_iters=1)
    with pytest.raises(ValueError, match="new_vecs, delete_ids"):
        upsert_ivf_index(None, path)


@pytest.mark.parametrize("seed", [7, 23])
def test_random_op_sequence_equals_frozen_rebuild(spark, tmp_path, seed):
    """Robustness sweep of the generation machinery: three rounds of
    seeded random insert/update/delete batches through
    upsert_ivf_index must leave serving equal to a frozen-quantizer
    rebuild of the tracked live set — and again after compaction."""
    import random

    from pymongo_change_stream_reader_spark.operators.maintenance import (
        compact_ivf_index,
    )

    rng = random.Random(seed)
    state = {i: 0 for i in range(15)}  # id -> version
    next_id = 15

    def vec(i, ver):
        return _vec(i * 97 + ver * 31)

    path = str(tmp_path / "idx")
    cents = write_ivf_index(
        spark.createDataFrame(
            [(i, vec(i, v)) for i, v in state.items()],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        ),
        path,
        nlist=4,
        train_iters=1,
    )
    for _round in range(3):
        live_ids = sorted(state)
        dels = rng.sample(live_ids, k=min(3, len(live_ids)))
        upd = rng.sample(
            [i for i in live_ids if i not in dels],
            k=min(4, len(live_ids) - len(dels)),
        )
        ins = list(range(next_id, next_id + rng.randint(1, 3)))
        next_id = ins[-1] + 1
        for i in dels:
            del state[i]
        for i in upd:
            state[i] += 1
        for i in ins:
            state[i] = 0
        upsert_ivf_index(
            spark.createDataFrame(
                [(i, vec(i, state[i])) for i in upd + ins],
                "vec_id LONG, embedding ARRAY<DOUBLE>",
            ),
            path,
            delete_ids=spark.createDataFrame(
                [(i,) for i in dels], "vec_id LONG"
            ),
        )

    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(
        spark.createDataFrame(
            [(i, vec(i, v)) for i, v in state.items()],
            "vec_id LONG, embedding ARRAY<DOUBLE>",
        ),
        rebuilt,
        centroids=cents,
    )
    queries = _snapshot(spark, [1, 2, 4])
    assert _top(spark, path, queries) == _top(spark, rebuilt, queries)
    # physical purge changes nothing observable
    compact_ivf_index(spark, path)
    assert _top(spark, path, queries) == _top(spark, rebuilt, queries)
    assert spark.read.parquet(path).count() == len(state)


_EX_HOLDER = """
import fcntl, os, sys, time
fd = os.open(sys.argv[1], os.O_CREAT | os.O_WRONLY)
fcntl.flock(fd, fcntl.LOCK_EX)
print("HELD", flush=True)
time.sleep(float(sys.argv[2]))
fcntl.flock(fd, fcntl.LOCK_UN)
"""


def test_pinned_serving_read_blocks_on_writer_lock(spark, tmp_path):
    """pin=True serving reads take the index flock SHARED: a
    cross-process exclusive holder (compaction/append) delays the read
    until release — proof the pinned path cannot race a compaction's
    dir-swap window — and the pinned result is eager (correct even if
    the index dir is rewritten right after return)."""
    import subprocess
    import sys
    import time

    path = str(tmp_path / "idx")
    write_ivf_index(_snapshot(spark, range(10)), path, nlist=4, train_iters=1)
    q = _snapshot(spark, [0, 1])
    want = _top(spark, path, q)

    holder = subprocess.Popen(
        [sys.executable, "-c", _EX_HOLDER, path + ".writelock", "3"],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert holder.stdout.readline().strip() == "HELD"
    t0 = time.monotonic()
    pinned = ivf_topk_from_index(spark, path, q, k=4, nprobe=3, pin=True)
    elapsed = time.monotonic() - t0
    holder.wait()
    assert elapsed >= 2.0, f"pinned read did not wait: {elapsed:.2f}s"
    got = sorted(
        map(
            tuple,
            pinned.select("query_id", "neighbor_id", "score", "rank")
            .collect(),
        )
    )
    assert got == want
    # eager pin: rows survive the index dir being replaced
    import shutil

    shutil.rmtree(path)
    assert pinned.count() == len(want)


def test_ivfpq_upsert_delete_equal_frozen_rebuild(spark, tmp_path):
    """The composed index joins the event loop: one atomic
    upsert_ivfpq_index batch (delete + update + insert) must serve
    exactly like a frozen-model rebuild over the live vectors, before
    and after compaction; a legacy (pre-generation) index refuses
    writes until the compactor migrates it."""
    import shutil

    from pymongo_change_stream_reader_spark.operators.maintenance import (
        compact_ivfpq_index,
    )
    from pymongo_change_stream_reader_spark.operators.similarity import (
        ivfpq_topk_from_index,
        upsert_ivfpq_index,
        write_ivfpq_index,
    )

    path = str(tmp_path / "idx")
    model = write_ivfpq_index(
        _snapshot(spark, range(20)), path, nlist=4, m_sub=2, k_codes=8,
        iters=1,
    )
    upd = spark.createDataFrame(
        [(3, _vec(33)), (100, _vec(100))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = upsert_ivfpq_index(
        upd, path, delete_ids=spark.createDataFrame([(5,)], "vec_id LONG")
    )
    assert out == {"upserted": 2, "tombstoned": 2}
    assert not os.path.exists(path + ".append_journal.json")

    live = spark.createDataFrame(
        [(i, _vec(33 if i == 3 else i)) for i in range(20) if i != 5]
        + [(100, _vec(100))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivfpq_index(live, rebuilt, model=model)
    q = _snapshot(spark, [0, 3])

    def top(p):
        return sorted(
            map(
                tuple,
                ivfpq_topk_from_index(
                    spark, p, q, live, k=4, nprobe=3, rerank=4
                )
                .select("query_id", "neighbor_id", "score")
                .collect(),
            )
        )

    assert top(path) == top(rebuilt)
    # compaction purges dead generations; serving unchanged
    compact_ivfpq_index(spark, path)
    assert not os.path.isdir(path + "_tombstones")
    assert spark.read.parquet(path).count() == live.count()
    assert top(path) == top(rebuilt)

    # legacy path: strip gen -> writers refuse -> compactor migrates
    legacy = path + ".legacy"
    spark.read.parquet(path).drop("gen").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(legacy)
    shutil.copyfile(
        os.path.join(path, "_model.json"),
        os.path.join(legacy, "_model.json"),
    )
    shutil.rmtree(path)
    os.rename(legacy, path)
    with pytest.raises(RuntimeError, match="predates generation"):
        upsert_ivfpq_index(
            upd, path,
        )
    compact_ivfpq_index(spark, path)
    assert "gen" in spark.read.parquet(path).columns
    assert top(path) == top(rebuilt)


def test_ann_ingest_batch_ivfpq_kind(spark, tmp_path):
    """kind="ivfpq": the relay maintains the compressed composed index
    — batch insert/update/delete equals a frozen-model rebuild."""
    from pymongo_change_stream_reader_spark.operators.similarity import (
        ivfpq_topk_from_index,
        write_ivfpq_index,
    )
    from pymongo_change_stream_reader_spark.streaming.ann_relay import (
        ann_ingest_batch,
    )

    path = str(tmp_path / "idx")
    model = write_ivfpq_index(
        _snapshot(spark, range(20)), path, nlist=4, m_sub=2, k_codes=8,
        iters=1,
    )
    batch = spark.createDataFrame(
        [
            ("insert", 100, _vec(100), 1, 1, "a1"),
            ("update", 3, _vec(33), 1, 2, "a2"),
            ("delete", 5, None, 1, 3, "a3"),
        ],
        "operationType STRING, vec_id LONG, embedding ARRAY<DOUBLE>, "
        "t INT, i INT, d STRING",
    ).selectExpr(
        "operationType",
        "vec_id",
        "embedding",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )
    out = ann_ingest_batch(
        batch, path, vec_col="embedding", key_col="vec_id", kind="ivfpq"
    )
    assert out == {"upserted": 2, "tombstoned": 2}
    assert not os.path.exists(path + ".append_journal.json")

    live = spark.createDataFrame(
        [(i, _vec(33 if i == 3 else i)) for i in range(20) if i != 5]
        + [(100, _vec(100))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivfpq_index(live, rebuilt, model=model)
    q = _snapshot(spark, [0, 3])

    def top(p):
        return sorted(
            map(
                tuple,
                ivfpq_topk_from_index(
                    spark, p, q, live, k=4, nprobe=3, rerank=4
                )
                .select("query_id", "neighbor_id", "score")
                .collect(),
            )
        )

    assert top(path) == top(rebuilt)

    with pytest.raises(ValueError, match="unknown kind"):
        ann_ingest_batch(batch, path, key_col="vec_id", kind="hnsw")
