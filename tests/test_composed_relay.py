"""Single-pass composed relay (streaming/composed_relay.py): one
stream maintains the CDC replica, the near-dup flag store, and the
BM25 serving index from a single source read per micro-batch, with
per-store epoch markers so a replay after a partial crash re-applies
exactly the stores that missed.

Reference parity: the reference dispatches one change-stream cursor's
events to every consumer in-process (reference process_manager.py);
this is that topology on Structured Streaming."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.sources.change_events import (
    stream_change_events_json,
)
from pymongo_change_stream_reader_spark.storage import list_files
from pymongo_change_stream_reader_spark.streaming.composed_relay import (
    composed_apply_batch,
    start_composed_relay,
)
from pymongo_change_stream_reader_spark.streaming.dedup_relay import (
    read_dedup_flags,
)
from pymongo_change_stream_reader_spark.streaming.materialize import (
    read_replica,
)
from tests.conftest import SF_SMOKE

LONG_A = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the afternoon sun"
)
LONG_B = (
    "completely different content about distributed query engines "
    "processing one hundred terabytes of training data every day"
)


def _event(data, key, text, t=1, op="insert"):
    return json.dumps(
        {
            "_id": {"_data": data},
            "operationType": op,
            "clusterTime": {"t": t, "i": 1},
            "documentKey": key,
            "fullDocument": text,
        }
    )


def _paths(tmp_path):
    return dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        replica_path=str(tmp_path / "replica"),
        dedup_index_path=str(tmp_path / "lsh"),
        dedup_flags_path=str(tmp_path / "flags"),
        bm25_index_path=str(tmp_path / "bm25"),
    )


def test_composed_relay_two_batches_with_restart_replay(spark, tmp_path):
    """e2e: two micro-batches through one composed stream, then a
    RESTART over the same checkpoint (the replay path) — all three
    stores end correct and nothing double-applies."""
    src = tmp_path / "in"
    src.mkdir()
    p = _paths(tmp_path)
    (src / "b0.json").write_text(
        "\n".join(
            [_event("a1", "k1", LONG_A), _event("a2", "k2", LONG_B)]
        )
    )

    def _run():
        q = start_composed_relay(
            stream_change_events_json(spark, str(src)), **p
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)

    _run()
    # batch 1: a near-dup of k1, an update of k2
    (src / "b1.json").write_text(
        "\n".join(
            [
                _event("a3", "k9", LONG_A, t=2),
                _event("a4", "k2", LONG_B + " with an updated tail", t=2,
                       op="update"),
            ]
        )
    )
    _run()
    # batch 2: delete k1; k10 repeats k1's text but must NOT flag
    # against the now-deleted document (k9 carries the same text live,
    # so it flags against k9 instead)
    (src / "b2.json").write_text(
        "\n".join(
            [
                _event("a5", "k1", None, t=3, op="delete"),
                _event("a6", "k10", LONG_A, t=3),
            ]
        )
    )
    _run()
    _run()  # restart with nothing new: pure replay path, must be a no-op

    # replica: k1 deleted, k2 updated, k9/k10 live
    rep = {
        r["key"]: r["doc"] for r in read_replica(spark, p["replica_path"]).collect()
    }
    assert set(rep) == {"k2", "k9", "k10"}
    assert rep["k2"].endswith("updated tail")
    # dedup: k9 flagged against k1 (live at the time), exactly once;
    # k10 flagged only against the live k9 — never the deleted k1
    flags = sorted(
        (r["new_id"], r["corpus_id"])
        for r in read_dedup_flags(spark, p["dedup_flags_path"]).collect()
    )
    assert flags == [("k10", "k9"), ("k9", "k1")]
    # bm25: exactly the live corpus (delete + update applied once) —
    # n_docs == 3 and no crashed-append journal left behind
    consts = json.load(open(f"{p['bm25_index_path']}/_consts.json"))
    assert consts["n_docs"] == 3.0
    assert not os.path.exists(
        f"{p['bm25_index_path']}/_append_journal.json"
    )


def test_partial_crash_replays_only_missing_stores(spark, tmp_path):
    """A crash after dedup committed its marker but before BM25 ran:
    the replay skips dedup (no double-flag) and applies BM25."""
    def _mk(spark, rows):
        return spark.createDataFrame(
            rows,
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, t INT, i INT, d STRING",
        ).selectExpr(
            "operationType",
            "documentKey",
            "fullDocument",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "named_struct('_data', d) AS _id",
        )

    p = _paths(tmp_path)
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    batch0 = _mk(spark, [("insert", "k1", LONG_A, 1, 1, "a1")])
    out = composed_apply_batch(batch0, 0, **{
        k: v for k, v in p.items()
    })
    assert out == {"replica": "applied", "dedup": "applied",
                   "bm25": "applied", "ann": "disabled",
                   "aggview": "disabled",
                   "joinview": "disabled", "starview": "disabled",
                   "erregistry": "disabled"}
    # simulate the partial crash on epoch 1: pre-commit ONLY dedup's
    # marker, then run the "replay"
    from pymongo_change_stream_reader_spark.storage import (
        commit_epoch,
        query_id,
    )

    qid = query_id(p["checkpoint_dir"])
    commit_epoch(
        os.path.join(p["checkpoint_dir"], "dedup_epoch_log"), 1, qid
    )
    batch1 = _mk(spark, [("insert", "k9", LONG_A, 2, 1, "a2")])
    out = composed_apply_batch(batch1, 1, **{k: v for k, v in p.items()})
    assert out == {"replica": "applied", "dedup": "replayed-skip",
                   "bm25": "applied", "ann": "disabled",
                   "aggview": "disabled",
                   "joinview": "disabled", "starview": "disabled",
                   "erregistry": "disabled"}
    # dedup never ran for epoch 1 -> no flags; bm25 holds both docs
    assert read_dedup_flags(spark, p["dedup_flags_path"]) is None
    consts = json.load(open(f"{p['bm25_index_path']}/_consts.json"))
    assert consts["n_docs"] == 2.0
    # replica applied both batches (idempotent, markerless)
    assert {
        r["key"] for r in read_replica(spark, p["replica_path"]).collect()
    } == {"k1", "k9"}


def test_store_timings_accumulate_across_batches(spark, tmp_path):
    """The optional store_timings out-param (bench.py's sequential-
    apply latency breakdown) records every enabled section and
    accumulates across calls; replayed-skip sections still count
    (their marker probe is real work), disabled stores never appear."""

    def _mk(rows):
        return spark.createDataFrame(
            rows,
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, t INT, i INT, d STRING",
        ).selectExpr(
            "operationType", "documentKey", "fullDocument",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "named_struct('_data', d) AS _id",
        )

    p = _paths(tmp_path)
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    timings: dict = {}
    composed_apply_batch(
        _mk([("insert", "k1", LONG_A, 1, 1, "a1")]), 0,
        store_timings=timings, **p,
    )
    # "reduce" is the shared LWW batch reduction the replica
    # consumes on its post-image path (composed_apply_batch)
    assert set(timings) == {"pin", "reduce", "replica", "dedup", "bm25"}
    assert all(v > 0 for v in timings.values())
    first = dict(timings)
    composed_apply_batch(
        _mk([("insert", "k2", LONG_B, 2, 1, "a2")]), 1,
        store_timings=timings, **p,
    )
    assert all(timings[k] > first[k] for k in first)
    # replayed-skip sections still attribute their marker probe: with
    # every store's epoch-2 marker pre-committed, the replay skips all
    # of them yet the dedup/bm25 timings still advance (the probe runs
    # inside _timed — r8 ADVICE low)
    from pymongo_change_stream_reader_spark.storage import (
        commit_epoch,
        query_id,
    )

    qid = query_id(p["checkpoint_dir"])
    for store in ("dedup", "bm25"):
        commit_epoch(
            os.path.join(p["checkpoint_dir"], f"{store}_epoch_log"), 2, qid
        )
    second = dict(timings)
    out = composed_apply_batch(
        _mk([("insert", "k3", LONG_A, 3, 1, "a3")]), 2,
        store_timings=timings, **p,
    )
    assert out["dedup"] == "replayed-skip" and out["bm25"] == "replayed-skip"
    assert all(timings[k] > second[k] for k in ("dedup", "bm25"))


def test_composed_relay_bench_shape(spark):
    """bench.py's composed_relay_bench: the driver-recorded JSON block
    must carry the headline events/s plus the full per-store
    breakdown, and actually drive all four stores (smoke scale)."""
    import bench

    out = bench.composed_relay_bench(
        spark, SF_SMOKE, target_events=300, n_batches=2
    )
    assert out["events"] > 100 and out["batches"] == 2
    assert out["events_per_s"] > 0
    assert set(out["per_store_sec"]) == {
        "pin", "reduce", "replica", "dedup", "bm25", "ann", "aggview",
        "joinview", "starview", "erregistry",
    }
    # both fields are independently rounded from the same unrounded
    # total, so comparing re-rounded values flakes at 0.0005 boundaries
    # (r8 verdict "what's wrong #1") — compare within one rounding ulp
    assert abs(out["total_sec"] / 2 - out["per_batch_sec"]) <= 0.001


def test_composed_relay_validates_configuration(spark, tmp_path):
    import pytest

    events = spark.createDataFrame([], "x INT")
    with pytest.raises(ValueError, match="at least one store"):
        start_composed_relay(events, str(tmp_path / "c"))
    with pytest.raises(ValueError, match="BOTH dedup_index_path"):
        start_composed_relay(
            events,
            str(tmp_path / "c"),
            dedup_index_path=str(tmp_path / "i"),
        )
    # the view checks run at stream start, not inside the batch
    # function on the first non-empty batch
    dims = [{"side": "a", "fk_path": "$.fka"}]
    for kw, msg in (
        (dict(join_view_path=str(tmp_path / "j"), join_join_type="outer"),
         "join_join_type"),
        (dict(star_view_path=str(tmp_path / "s"), star_view_dims=dims,
              star_join_type="full"), "star_join_type"),
        (dict(star_view_path=str(tmp_path / "s")), "star_view_dims"),
    ):
        with pytest.raises(ValueError, match=msg):
            start_composed_relay(events, str(tmp_path / "c"), **kw)
    with pytest.raises(TypeError, match="replica_pth"):
        start_composed_relay(
            events, str(tmp_path / "c"), replica_pth=str(tmp_path / "r")
        )


def test_composed_relay_with_ann_store(spark, tmp_path):
    """All FOUR stores from one batch: the events carry both document
    text (fullDocument -> replica/dedup/BM25) and an embedding column
    (-> the bootstrapped IVF index), with the ANN id read from its own
    key column.  A pre-committed ANN marker on the next epoch skips
    only the ANN apply."""
    import pymongo_change_stream_reader_spark.operators.similarity as sim
    from pymongo_change_stream_reader_spark.operators.similarity import (
        write_ivf_index,
    )
    from tests.test_ann_relay import _snapshot, _top, _vec

    def _mk(rows):
        return spark.createDataFrame(
            rows,
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, embedding ARRAY<DOUBLE>, "
            "t INT, i INT, d STRING",
        ).selectExpr(
            "operationType",
            "documentKey",
            "fullDocument",
            "embedding",
            "CAST(documentKey AS LONG) AS vec_key",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "named_struct('_data', d) AS _id",
        )

    p = _paths(tmp_path)
    p["ann_index_path"] = str(tmp_path / "ivf")
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    cents = write_ivf_index(
        _snapshot(spark, range(10)), p["ann_index_path"], nlist=4,
        train_iters=1,
    )

    batch0 = _mk(
        [
            ("insert", "20", LONG_A, _vec(20), 1, 1, "a1"),
            ("update", "3", LONG_B, _vec(33), 1, 2, "a2"),
            ("delete", "5", None, None, 1, 3, "a3"),
        ]
    )
    out = composed_apply_batch(
        batch0, 0, ann_key_col="vec_key", **p
    )
    assert out == {"replica": "applied", "dedup": "applied",
                   "bm25": "applied", "ann": "applied",
                   "aggview": "disabled",
                   "joinview": "disabled", "starview": "disabled",
                   "erregistry": "disabled"}

    live = spark.createDataFrame(
        [(i, _vec(33 if i == 3 else i)) for i in range(10) if i != 5]
        + [(20, _vec(20))],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(live, rebuilt, centroids=cents)
    queries = _snapshot(spark, [0, 3])
    assert _top(spark, p["ann_index_path"], queries) == _top(
        spark, rebuilt, queries
    )

    # partial crash: ANN's epoch-1 marker committed, nothing else —
    # the replay applies every store EXCEPT ann
    from pymongo_change_stream_reader_spark.storage import (
        commit_epoch,
        query_id,
    )

    qid = query_id(p["checkpoint_dir"])
    commit_epoch(os.path.join(p["checkpoint_dir"], "ann_epoch_log"), 1, qid)
    files_before = list_files(p["ann_index_path"])
    batch1 = _mk([("insert", "21", LONG_B, _vec(21), 2, 1, "a4")])
    out = composed_apply_batch(batch1, 1, ann_key_col="vec_key", **p)
    assert out == {"replica": "applied", "dedup": "applied",
                   "bm25": "applied", "ann": "replayed-skip",
                   "aggview": "disabled",
                   "joinview": "disabled", "starview": "disabled",
                   "erregistry": "disabled"}
    assert list_files(p["ann_index_path"]) == files_before
    # the other stores DID apply batch 1
    assert "21" in {
        r["key"] for r in read_replica(spark, p["replica_path"]).collect()
    }


def test_composed_relay_with_agg_view_store(spark, tmp_path):
    """The fifth store: the incremental aggregate view maintained in
    the same single-pass batch, replay-protected by its OWN epoch
    pointer (no checkpoint marker) — a replayed epoch reports
    replayed-skip and moves nothing."""
    from pymongo_change_stream_reader_spark.streaming.agg_view import (
        read_agg_view,
    )

    def _mk(rows):
        return spark.createDataFrame(
            rows,
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, t INT, i INT, d STRING",
        ).selectExpr(
            "operationType",
            "documentKey",
            "fullDocument",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "named_struct('_data', d) AS _id",
        )

    def _doc(v, g):
        return json.dumps({"v": v, "g": g})

    p = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        replica_path=str(tmp_path / "replica"),
        agg_view_path=str(tmp_path / "view"),
        agg_value_type="long",
        agg_track_minmax=True,  # r10: the flag threads through the
        # composed apply (and the env surface, test_stream_joins)
    )
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    out = composed_apply_batch(
        _mk(
            [
                ("insert", "k1", _doc(5, "a"), 1, 1, "a1"),
                ("insert", "k2", _doc(7, "b"), 1, 2, "a2"),
            ]
        ),
        0,
        **p,
    )
    assert out["aggview"] == "applied" and out["replica"] == "applied"
    out = composed_apply_batch(
        _mk(
            [
                ("update", "k1", _doc(6, "b"), 2, 1, "b1"),
                ("delete", "k2", None, 2, 2, "b2"),
            ]
        ),
        1,
        **p,
    )
    assert out["aggview"] == "applied"
    groups = {
        r["grp"]: (r["n_docs"], r["sum_val"], r["min_val"], r["max_val"])
        for r in read_agg_view(spark, p["agg_view_path"]).collect()
    }
    assert groups == {"b": (1, 6, 6, 6)}
    # replica saw the same batches
    assert {
        r["key"]
        for r in read_replica(spark, p["replica_path"]).collect()
        if r["doc"] is not None
    } == {"k1"}
    # replay of epoch 1: the view self-skips, the replica converges
    out = composed_apply_batch(
        _mk([("update", "k1", _doc(6, "b"), 2, 1, "b1"),
             ("delete", "k2", None, 2, 2, "b2")]),
        1,
        **p,
    )
    assert out["aggview"] == "replayed-skip"
    groups = {
        r["grp"]: (r["n_docs"], r["sum_val"])
        for r in read_agg_view(spark, p["agg_view_path"]).collect()
    }
    assert groups == {"b": (1, 6)}


def test_composed_relay_with_join_view_store(spark, tmp_path):
    """The sixth store: the incremental join view maintained in the
    same single-pass batch, replay-protected by its OWN epoch pointer
    — fact and dim events of one polymorphic batch land in the same
    trigger and the joined table is current after each apply."""
    from pymongo_change_stream_reader_spark.streaming.join_view import (
        read_join_view,
    )

    def _mk(rows):
        return spark.createDataFrame(
            rows,
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, t INT, i INT, d STRING",
        ).selectExpr(
            "operationType",
            "documentKey",
            "fullDocument",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "named_struct('_data', d) AS _id",
        )

    p = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        replica_path=str(tmp_path / "replica"),
        join_view_path=str(tmp_path / "jview"),
    )
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    out = composed_apply_batch(
        _mk(
            [
                ("insert", '{"_id": "d1"}', '{"side": "d", "p": "x"}', 1, 1, "a1"),
                ("insert", '{"_id": "f1"}', '{"side": "f", "fk": "d1"}', 1, 2, "a2"),
            ]
        ),
        0,
        **p,
    )
    assert out["joinview"] == "applied" and out["replica"] == "applied"
    v = {
        r["key"]: r["dim_doc"]
        for r in read_join_view(spark, p["join_view_path"]).collect()
    }
    assert v == {'{"_id": "f1"}': '{"side": "d", "p": "x"}'}
    # dim update fans out; the replayed epoch self-skips
    b1 = _mk([("update", '{"_id": "d1"}', '{"side": "d", "p": "y"}', 2, 1, "b1")])
    assert composed_apply_batch(b1, 1, **p)["joinview"] == "applied"
    assert composed_apply_batch(b1, 1, **p)["joinview"] == "replayed-skip"
    v = {
        r["key"]: r["dim_doc"]
        for r in read_join_view(spark, p["join_view_path"]).collect()
    }
    assert v == {'{"_id": "f1"}': '{"side": "d", "p": "y"}'}


def test_composed_relay_with_star_view_store(spark, tmp_path):
    """The seventh store: a two-dim star view maintained in the same
    single-pass batch, replay-protected by its OWN epoch pointer."""
    from pymongo_change_stream_reader_spark.streaming.star_view import (
        read_star_view,
    )

    def _mk(rows):
        return spark.createDataFrame(
            rows,
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, t INT, i INT, d STRING",
        ).selectExpr(
            "operationType",
            "documentKey",
            "fullDocument",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "named_struct('_data', d) AS _id",
        )

    p = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        replica_path=str(tmp_path / "replica"),
        star_view_path=str(tmp_path / "sview"),
        star_view_dims=[
            {"side": "a", "fk_path": "$.fka"},
            {"side": "b", "fk_path": "$.fkb"},
        ],
    )
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    out = composed_apply_batch(
        _mk(
            [
                ("insert", "A1", '{"side": "a", "p": "x"}', 1, 1, "a1"),
                ("insert", "f1",
                 '{"side": "f", "fka": "A1", "fkb": "B9"}', 1, 2, "a2"),
            ]
        ),
        0,
        **p,
    )
    assert out["starview"] == "applied" and out["replica"] == "applied"
    v = {
        r["key"]: (r["dim_a"], r["dim_b"])
        for r in read_star_view(spark, p["star_view_path"]).collect()
    }
    assert v == {"f1": ('{"side": "a", "p": "x"}', None)}  # LEFT default
    # late b-dim fills; the replayed epoch self-skips
    b1 = _mk([("insert", "B9", '{"side": "b", "p": "y"}', 2, 1, "b1")])
    assert composed_apply_batch(b1, 1, **p)["starview"] == "applied"
    assert composed_apply_batch(b1, 1, **p)["starview"] == "replayed-skip"
    v = {
        r["key"]: (r["dim_a"], r["dim_b"])
        for r in read_star_view(spark, p["star_view_path"]).collect()
    }
    assert v == {
        "f1": ('{"side": "a", "p": "x"}', '{"side": "b", "p": "y"}')
    }


def test_composed_relay_with_er_registry_store(spark, tmp_path):
    """The eighth store: the persisted entity-resolution registry
    folds the post-image stream in the same single-pass batch,
    replay-protected by its OWN epoch pointer."""
    from pymongo_change_stream_reader_spark.streaming.er_registry import (
        er_spec_from_config,
        read_er_assign,
    )

    def _mk(rows):
        return spark.createDataFrame(
            rows,
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, t INT, i INT, d STRING",
        ).selectExpr(
            "operationType",
            "documentKey",
            "fullDocument",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "named_struct('_data', d) AS _id",
        )

    spec, fps = er_spec_from_config(
        [
            {"name": "name", "path": "$.name", "dtype": "string",
             "weight": 0.6, "scorer": "edit"},
            {"name": "city", "path": "$.city", "dtype": "string",
             "weight": 0.2, "scorer": "edit"},
            {"name": "age", "path": "$.age", "dtype": "long",
             "weight": 0.2, "scorer": "numeric"},
        ],
        threshold=0.75,
        block_field="name",
    )
    p = dict(
        checkpoint_dir=str(tmp_path / "ckpt"),
        replica_path=str(tmp_path / "replica"),
        er_registry_path=str(tmp_path / "erreg"),
        er_spec=spec,
        er_field_paths=fps,
        n_buckets=4,
    )
    os.makedirs(p["checkpoint_dir"], exist_ok=True)
    stats: dict = {}
    out = composed_apply_batch(
        _mk(
            [
                ("insert", '{"_id": 2}',
                 '{"_id": 2, "name": "john smith", '
                 '"city": "nyc", "age": 31}', 1, 1, "a1"),
                ("insert", '{"_id": 6}',
                 '{"_id": 6, "name": "bob brown", '
                 '"city": "la", "age": 40}', 1, 2, "a2"),
                # a non-identity document: skipped AND counted (the
                # store_stats observability surface)
                ("insert", "d7", '{"side": "d", "dim_name": "x"}',
                 1, 3, "a3"),
            ]
        ),
        0,
        store_stats=stats,
        **p,
    )
    assert out["erregistry"] == "applied" and out["replica"] == "applied"
    assert stats["erregistry"]["epoch_0"]["skipped_ids"] == 1
    asn = {
        r["rid"]: r["entity"]
        for r in read_er_assign(spark, p["er_registry_path"]).collect()
    }
    assert asn == {2: 2, 6: 6}
    # an update re-keys 6 into 2's cluster; the replayed epoch
    # self-skips by the registry's own pointer
    b1 = _mk(
        [
            ("replace", '{"_id": 6}',
             '{"_id": 6, "name": "john smyth", '
             '"city": "nyc", "age": 30}', 2, 1, "b1"),
        ]
    )
    assert composed_apply_batch(b1, 1, **p)["erregistry"] == "applied"
    assert (
        composed_apply_batch(b1, 1, **p)["erregistry"] == "replayed-skip"
    )
    asn = {
        r["rid"]: r["entity"]
        for r in read_er_assign(spark, p["er_registry_path"]).collect()
    }
    assert asn == {2: 2, 6: 2}
