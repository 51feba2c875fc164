"""CDC replica maintenance (streaming/materialize.py): change events
applied to a bucketed queryable parquet replica with last-writer-wins
conflict resolution."""

from __future__ import annotations

import json
import os
import time

import pytest

from pymongo_change_stream_reader_spark.plans.pipeline import PipelineError
from pymongo_change_stream_reader_spark.schema import CHANGE_EVENT_SCHEMA
from pymongo_change_stream_reader_spark.streaming.materialize import (
    materialize_change_batch,
    read_replica,
    start_replica_maintenance,
)


def _ev(data, op, t, i, key, doc=None):
    return (
        (data,),
        op,
        (t, i),
        None,
        ("db", "c"),
        key,
        doc,
        None,
        None,
    )


def _frame(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


def _state(spark, path):
    rep = read_replica(spark, path)
    return {} if rep is None else {
        r["key"]: json.loads(r["doc"])["v"] for r in rep.collect()
    }


def test_materialize_upserts_and_deletes(spark, tmp_path):
    path = str(tmp_path / "replica")
    b1 = _frame(
        spark,
        [
            _ev("a1", "insert", 10, 1, "k1", '{"v": 1}'),
            _ev("a2", "insert", 10, 2, "k2", '{"v": 2}'),
            _ev("a3", "update", 11, 1, "k1", '{"v": 3}'),
            _ev("a4", "drop", 11, 2, None, None),  # non-data op ignored
        ],
    )
    materialize_change_batch(b1, path, n_buckets=4)
    assert _state(spark, path) == {"k1": 3, "k2": 2}
    b2 = _frame(
        spark,
        [
            _ev("b1", "replace", 12, 1, "k2", '{"v": 20}'),
            _ev("b2", "delete", 12, 2, "k1", None),
            _ev("b3", "insert", 12, 3, "k3", '{"v": 30}'),
        ],
    )
    materialize_change_batch(b2, path, n_buckets=4)
    assert _state(spark, path) == {"k2": 20, "k3": 30}


def test_materialize_stale_replay_is_noop(spark, tmp_path):
    path = str(tmp_path / "replica")
    b1 = _frame(spark, [_ev("a1", "insert", 10, 1, "k1", '{"v": 1}')])
    b2 = _frame(
        spark,
        [
            _ev("b1", "update", 11, 1, "k1", '{"v": 2}'),
            _ev("b2", "delete", 11, 2, "k9", None),  # delete of absent key
        ],
    )
    materialize_change_batch(b1, path, n_buckets=4)
    materialize_change_batch(b2, path, n_buckets=4)
    after = _state(spark, path)
    # replaying the OLDER batch must not regress the replica
    materialize_change_batch(b1, path, n_buckets=4)
    assert _state(spark, path) == after == {"k1": 2}
    # a stale delete cannot kill a newer upsert
    stale_del = _frame(spark, [_ev("s", "delete", 10, 5, "k1", None)])
    materialize_change_batch(stale_del, path, n_buckets=4)
    assert _state(spark, path) == {"k1": 2}


def test_materialize_tombstones_purge_on_compaction(spark, tmp_path):
    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        compact_replica,
    )

    path = str(tmp_path / "replica")
    materialize_change_batch(
        _frame(spark, [_ev("a", "insert", 1, 1, "solo", '{"v": 1}')]),
        path,
        n_buckets=4,
    )
    materialize_change_batch(
        _frame(spark, [_ev("b", "delete", 2, 1, "solo", None)]),
        path,
        n_buckets=4,
    )
    # reads hide the key, but the tombstone row persists (reorder guard)
    assert _state(spark, path) == {}
    raw = read_bucketed_sink(spark, path).collect()
    assert len(raw) == 1 and raw[0]["doc"] is None
    # a reordered OLDER upsert cannot resurrect the deleted key
    materialize_change_batch(
        _frame(spark, [_ev("a", "insert", 1, 1, "solo", '{"v": 1}')]),
        path,
        n_buckets=4,
    )
    assert _state(spark, path) == {}
    # compaction purges tombstones; the emptied bucket drops its entry
    compact_replica(spark, path)
    assert read_bucketed_sink(spark, path) is None or not read_bucketed_sink(
        spark, path
    ).collect()
    with open(os.path.join(path, "_manifest")) as fh:
        assert fh.read().strip() == "buckets=4"


def test_materialize_requires_post_image(spark, tmp_path):
    path = str(tmp_path / "replica")
    with pytest.raises(PipelineError, match="post-image"):
        materialize_change_batch(
            _frame(spark, [_ev("a", "update", 1, 1, "k1", None)]),
            path,
            n_buckets=4,
        )
    assert not os.path.exists(os.path.join(path, "_manifest"))


def test_streaming_replica_maintenance(spark, tmp_path):
    """File-streamed change events materialize into the replica; a
    second run over the same checkpoint is a no-op (idempotent)."""
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )

    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"_id": {"_data": "a1"}, "operationType": "insert",
         "clusterTime": {"t": 10, "i": 1}, "documentKey": "k1",
         "fullDocument": '{"v": 1}'},
        {"_id": {"_data": "a2"}, "operationType": "update",
         "clusterTime": {"t": 11, "i": 1}, "documentKey": "k1",
         "fullDocument": '{"v": 5}'},
        {"_id": {"_data": "a3"}, "operationType": "insert",
         "clusterTime": {"t": 11, "i": 2}, "documentKey": "k2",
         "fullDocument": '{"v": 7}'},
    ]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in rows[:1]))
    (src / "b1.json").write_text("\n".join(json.dumps(r) for r in rows[1:]))
    path = str(tmp_path / "replica")
    ckpt = str(tmp_path / "ckpt")
    q = start_replica_maintenance(
        stream_change_events_json(spark, str(src)), path, ckpt, n_buckets=4
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if _state(spark, path) == {"k1": 5, "k2": 7}:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert _state(spark, path) == {"k1": 5, "k2": 7}
    # restart over the same checkpoint: no new data -> replica unchanged
    q2 = start_replica_maintenance(
        stream_change_events_json(spark, str(src)), path, ckpt, n_buckets=4
    )
    time.sleep(3)
    q2.stop()
    q2.awaitTermination(30)
    assert _state(spark, path) == {"k1": 5, "k2": 7}


def test_compact_replica_preserves_state_and_shrinks_files(spark, tmp_path):
    import glob

    from pymongo_change_stream_reader_spark.streaming.materialize import (
        compact_replica,
    )

    path = str(tmp_path / "replica")
    # many tiny batches -> many version dirs / files
    for i in range(6):
        materialize_change_batch(
            _frame(
                spark,
                [_ev(f"t{i}", "insert", i, 1, f"k{i}", '{"v": %d}' % i)],
            ),
            path,
            n_buckets=2,
        )
    before_state = _state(spark, path)
    compact_replica(spark, path)
    assert _state(spark, path) == before_state
    # the compaction contract: every live bucket dir holds exactly ONE
    # parquet file afterwards (files_per_bucket=1), however many
    # single-row commit files it had accumulated
    with open(f"{path}/_manifest") as fh:
        live_dirs = [ln.split(":", 1)[1] for ln in fh.read().splitlines()[1:]]
    assert live_dirs
    for d in live_dirs:
        assert len(glob.glob(f"{path}/{d}/*.parquet")) == 1
    # rollback to the pre-compaction snapshot still reads correctly
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        read_replica,
    )
    import json as _json

    prev = {
        r["key"]: _json.loads(r["doc"])["v"]
        for r in __import__(
            "pymongo_change_stream_reader_spark.storage",
            fromlist=["read_bucketed_sink"],
        ).read_bucketed_sink(spark, path, -1).collect()
    }
    assert prev == before_state


def test_materialize_batch_order_convergence(spark, tmp_path):
    """LWW makes the apply convergent: any permutation of the batch
    history yields the same replica — the property that makes replays
    and out-of-order redeliveries safe."""
    import itertools

    batches = [
        [_ev("a1", "insert", 1, 1, "k1", '{"v": 1}'),
         _ev("a2", "insert", 1, 2, "k2", '{"v": 2}')],
        [_ev("b1", "update", 2, 1, "k1", '{"v": 10}'),
         _ev("b2", "delete", 2, 2, "k2", None)],
        [_ev("c1", "replace", 3, 1, "k1", '{"v": 100}'),
         _ev("c2", "insert", 3, 2, "k3", '{"v": 3}')],
    ]
    states = []
    for perm_i, perm in enumerate(itertools.permutations(range(3))):
        path = str(tmp_path / f"replica{perm_i}")
        for bi in perm:
            materialize_change_batch(
                _frame(spark, batches[bi]), path, n_buckets=2
            )
        states.append(_state(spark, path))
    assert all(s == states[0] for s in states)
    assert states[0] == {"k1": 100, "k3": 3}


def test_replica_relay_with_user_pipeline(spark, tmp_path):
    """start_replica_relay: the relay's replica sink applies the user
    PIPELINE first (a $match narrowing the keyspace), then maintains
    the replica through the checkpointed stream."""
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import (
        RelaySettings,
        start_replica_relay,
    )

    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"_id": {"_data": "a1"}, "operationType": "insert",
         "clusterTime": {"t": 10, "i": 1}, "documentKey": "keep",
         "fullDocument": '{"v": 1}'},
        {"_id": {"_data": "a2"}, "operationType": "insert",
         "clusterTime": {"t": 10, "i": 2}, "documentKey": "drop_me",
         "fullDocument": '{"v": 2}'},
    ]
    (src / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))
    settings = RelaySettings(
        stream_reader_name="replica-test",
        checkpoint_dir=str(tmp_path / "ckpt"),
        commit_interval_s=1.0,
        pipeline='[{"$match": {"documentKey": "keep"}}]',
    )
    path = str(tmp_path / "replica")
    q = start_replica_relay(
        stream_change_events_json(spark, str(src)), settings, path, n_buckets=4
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        if _state(spark, path) == {"keep": 1}:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert _state(spark, path) == {"keep": 1}


def test_replica_settings_from_env(monkeypatch):
    from pymongo_change_stream_reader_spark.config import settings_from_env

    for k, v in {
        "STREAM_READER_NAME": "r1",
        "MONGO_URI": "mongodb://h",
        "KAFKA_BOOTSTRAP_SERVERS": "k:9092",
        "REPLICA_PATH": "/data/replica",
        "REPLICA_BUCKETS": "64",
    }.items():
        monkeypatch.setenv(k, v)
    cfg = settings_from_env()
    assert cfg.replica_path == "/data/replica"
    assert cfg.replica_buckets == 64


def test_materialize_matches_python_replay_oracle(spark, tmp_path):
    """Randomized histories: the Spark replica after applying batches
    in order equals a pure-Python LWW replay (the semantics oracle).
    Covers multi-event keys, deletes, ties broken by _data, and
    batch-boundary placement."""
    import itertools
    import random

    rng = random.Random(20260814)
    keys = [f"k{i}" for i in range(6)]
    for trial in range(5):
        events = []
        for seq in range(rng.randint(4, 14)):
            op = rng.choice(["insert", "update", "replace", "delete"])
            k = rng.choice(keys)
            t = rng.randint(1, 4)  # deliberate t-collisions
            i = rng.randint(1, 2)
            d = f"d{trial}_{seq:02d}"
            doc = None if op == "delete" else '{"v": %d}' % seq
            events.append((d, op, t, i, k, doc))
        # python replay: LWW on (t, i, d) with tombstones
        state = {}
        for d, op, t, i, k, doc in events:
            cur = state.get(k)
            if cur is None or (t, i, d) >= cur[0]:
                state[k] = ((t, i, d), doc)
        expect = {
            k: json.loads(doc)["v"]
            for k, (_, doc) in state.items()
            if doc is not None
        }
        # split into random contiguous batches and apply
        path = str(tmp_path / f"rep{trial}")
        cuts = sorted(
            rng.sample(range(1, len(events)), min(2, len(events) - 1))
        )
        chunks = [
            events[a:b]
            for a, b in zip([0] + cuts, cuts + [len(events)])
            if events[a:b]
        ]
        for chunk in chunks:
            materialize_change_batch(
                _frame(spark, [_ev(*e) for e in chunk]), path, n_buckets=4
            )
        assert _state(spark, path) == expect, f"trial {trial}"


def test_replica_changes_feed(spark, tmp_path):
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        replica_changes,
    )

    path = str(tmp_path / "replica")
    materialize_change_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 1, 1, "k1", '{"v": 1}'),
                _ev("a2", "insert", 1, 2, "k2", '{"v": 2}'),
                _ev("a3", "insert", 1, 3, "k3", '{"v": 3}'),
            ],
        ),
        path,
        n_buckets=2,
    )
    materialize_change_batch(
        _frame(
            spark,
            [
                _ev("b1", "update", 2, 1, "k1", '{"v": 10}'),
                _ev("b2", "delete", 2, 2, "k2", None),
                _ev("b3", "insert", 2, 3, "k4", '{"v": 4}'),
            ],
        ),
        path,
        n_buckets=2,
    )
    feed = {
        r["key"]: (r["op"], r["doc"])
        for r in replica_changes(spark, path).collect()
    }
    assert feed == {
        "k1": ("update", '{"v": 10}'),
        "k2": ("delete", None),
        "k4": ("insert", '{"v": 4}'),
    }  # k3 untouched -> absent from the feed


def test_replica_relay_rejects_split_pipeline(spark, tmp_path):
    from pymongo_change_stream_reader_spark.plans.pipeline import PipelineError
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import (
        RelaySettings,
        start_replica_relay,
    )

    src = tmp_path / "events"
    src.mkdir()
    (src / "b0.json").write_text("")
    settings = RelaySettings(
        stream_reader_name="split-guard",
        checkpoint_dir=str(tmp_path / "ckpt"),
        pipeline='[{"$changeStreamSplitLargeEvent": {}}]',
    )
    with pytest.raises(PipelineError, match="whole documents"):
        start_replica_relay(
            stream_change_events_json(spark, str(src)),
            settings,
            str(tmp_path / "replica"),
        )


def test_replica_relay_rejects_pipeline_dropping_required_cols(spark, tmp_path):
    """ADVICE r3: a user $unset/$project that drops a column the
    materializer needs must fail fast with a PipelineError naming the
    field — not a deep AnalysisException at streaming start."""
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import (
        RelaySettings,
        start_replica_relay,
    )

    src = tmp_path / "events"
    src.mkdir()
    (src / "b0.json").write_text(
        json.dumps(
            {"_id": {"_data": "a1"}, "operationType": "insert",
             "clusterTime": {"t": 1, "i": 1}, "documentKey": "k",
             "fullDocument": "{}"}
        )
    )
    stream = stream_change_events_json(spark, str(src))
    for pipe, needle in [
        ('[{"$unset": "clusterTime"}]', "clusterTime.t"),
        ('[{"$project": {"documentKey": 1, "operationType": 1}}]',
         "fullDocument"),
    ]:
        settings = RelaySettings(
            stream_reader_name="replica-guard",
            checkpoint_dir=str(tmp_path / f"ckpt{needle}"),
            pipeline=pipe,
        )
        with pytest.raises(PipelineError, match="replica sink"):
            start_replica_relay(
                stream, settings, str(tmp_path / "rep"), n_buckets=4
            )


def test_replica_time_travel_with_retain(spark, tmp_path):
    """retain=3 on the materializer: each micro-batch commit stays
    readable 3 deep — the replica-side face of the bucketed-sink
    history (r4)."""
    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        materialize_change_batch,
    )

    path = str(tmp_path / "replica")
    for step in range(3):
        batch = spark.createDataFrame(
            [(f"d{step}", "insert", 1 + step, 1, "k1", '{"v": %d}' % step)],
            "d STRING, op STRING, t INT, i INT, k STRING, doc STRING",
        ).selectExpr(
            "named_struct('_data', d) AS _id",
            "op AS operationType",
            "named_struct('t', t, 'i', i) AS clusterTime",
            "k AS documentKey",
            "doc AS fullDocument",
        )
        materialize_change_batch(batch, path, n_buckets=4, retain=3)
    assert read_bucketed_sink(spark, path).collect()[0]["doc"] == '{"v": 2}'
    assert read_bucketed_sink(spark, path, -1).collect()[0]["doc"] == '{"v": 1}'
    assert read_bucketed_sink(spark, path, -2).collect()[0]["doc"] == '{"v": 0}'


def test_bootstrap_replica_then_stream_converges(spark, tmp_path):
    """r4: the snapshot+stream handoff — bootstrap seeds the replica
    with the minimal write triple, so overlap-window events (already
    reflected in the snapshot OR newer) converge under LWW: a replayed
    older event cannot clobber the snapshot copy of a newer state,
    while a genuinely newer event always wins."""
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError as PErr,
    )
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        bootstrap_replica,
        materialize_change_batch,
        read_replica,
    )

    path = str(tmp_path / "replica")
    snap = spark.createDataFrame(
        [("k1", '{"v": 10}'), ("k2", '{"v": 20}')], "k STRING, d STRING"
    )
    bootstrap_replica(snap, path, "k", "d", n_buckets=4)
    assert {
        r["key"]: r["doc"] for r in read_replica(spark, path).collect()
    } == {"k1": '{"v": 10}', "k2": '{"v": 20}'}
    # double-bootstrap refuses
    with pytest.raises(PErr, match="already exists"):
        bootstrap_replica(snap, path, "k", "d", n_buckets=4)

    # overlap replay: an update to k1 (any real triple > the snapshot
    # minimal triple) wins; a delete of k2 tombstones it; k3 is new
    batch = spark.createDataFrame(
        [
            ("d1", "update", 1, 1, "k1", '{"v": 11}'),
            ("d2", "delete", 1, 2, "k2", None),
            ("d3", "insert", 1, 3, "k3", '{"v": 30}'),
        ],
        "d STRING, op STRING, t INT, i INT, k STRING, doc STRING",
    ).selectExpr(
        "named_struct('_data', d) AS _id",
        "op AS operationType",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "k AS documentKey",
        "doc AS fullDocument",
    )
    materialize_change_batch(batch, path, n_buckets=4)
    assert {
        r["key"]: r["doc"] for r in read_replica(spark, path).collect()
    } == {"k1": '{"v": 11}', "k3": '{"v": 30}'}


# ---------------------------------------------------------------------------
# updateDescription DELTA application (VERDICT r6 ask #2): updates
# without a post-image — the reference's full_document=None stream
# (reference change_event_handler.py:100-113) — patch the stored doc.
# ---------------------------------------------------------------------------
def _dev(data, t, i, key, upd=None, rmv=None, trunc=None):
    """A post-image-LESS update event carrying only the delta."""
    return (
        (data,),
        "update",
        (t, i),
        None,
        ("db", "c"),
        key,
        None,
        None,
        (upd, rmv, trunc),
    )


def _docs(spark, path):
    rep = read_replica(spark, path)
    return {} if rep is None else {
        r["key"]: json.loads(r["doc"]) for r in rep.collect()
    }


def test_delta_update_patches_stored_doc(spark, tmp_path):
    """Cross-batch: the delta applies against the STORED document —
    set, nested dotted set, removal, and array truncation."""
    path = str(tmp_path / "replica")
    materialize_change_batch(
        _frame(
            spark,
            [_ev("a1", "insert", 1, 1, "k1",
                 '{"v": 1, "b": {"c": 2}, "arr": [1, 2, 3]}')],
        ),
        path, n_buckets=4,
    )
    materialize_change_batch(
        _frame(
            spark,
            [_dev("a2", 2, 1, "k1", upd='{"v": 9, "b.c": 7, "b.new": 1}')],
        ),
        path, n_buckets=4,
    )
    assert _docs(spark, path)["k1"] == {
        "v": 9, "b": {"c": 7, "new": 1}, "arr": [1, 2, 3]
    }
    materialize_change_batch(
        _frame(
            spark,
            [_dev("a3", 3, 1, "k1", rmv=["b.c", "missing"],
                  trunc=[("arr", 1)])],
        ),
        path, n_buckets=4,
    )
    assert _docs(spark, path)["k1"] == {"v": 9, "b": {"new": 1}, "arr": [1]}


def test_delta_replica_equals_post_image_replica(spark, tmp_path):
    """The VERDICT's oracle shape at pytest scale: over a VALID history
    (no update precedes its insert, no update follows a delete), the
    delta-fed replica equals the post-image-fed replica exactly."""
    delta_path = str(tmp_path / "delta")
    post_path = str(tmp_path / "post")
    post_events = [
        _ev("a1", "insert", 1, 1, "k1", '{"v": 1, "tag": "x"}'),
        _ev("a2", "insert", 1, 2, "k2", '{"v": 2}'),
        _ev("a3", "update", 2, 1, "k1", '{"v": 10, "tag": "x"}'),
        _ev("a4", "update", 3, 1, "k1", '{"v": 11}'),  # tag removed
        _ev("a5", "delete", 4, 1, "k2", None),
        _ev("a6", "replace", 5, 1, "k2", '{"v": 22}'),
    ]
    delta_events = [
        post_events[0],
        post_events[1],
        _dev("a3", 2, 1, "k1", upd='{"v": 10}'),
        _dev("a4", 3, 1, "k1", upd='{"v": 11}', rmv=["tag"]),
        post_events[4],
        post_events[5],
    ]
    # two batches each, split mid-history: the second batch's deltas
    # patch the STORED state
    for p, evs in ((post_path, post_events), (delta_path, delta_events)):
        materialize_change_batch(_frame(spark, evs[:3]), p, n_buckets=4)
        materialize_change_batch(_frame(spark, evs[3:]), p, n_buckets=4)
    assert _docs(spark, delta_path) == _docs(spark, post_path)
    assert _docs(spark, post_path)["k1"] == {"v": 11}


def test_delta_batch_replay_is_idempotent(spark, tmp_path):
    """Re-applying a delta batch is a no-op: every delta's triple is
    <= the stored row's after the first apply."""
    path = str(tmp_path / "replica")
    materialize_change_batch(
        _frame(spark, [_ev("a1", "insert", 1, 1, "k1", '{"v": 1}')]),
        path, n_buckets=4,
    )
    b = _frame(spark, [_dev("a2", 2, 1, "k1", upd='{"v": 5, "n": 1}')])
    materialize_change_batch(b, path, n_buckets=4)
    want = _docs(spark, path)
    materialize_change_batch(b, path, n_buckets=4)  # the replay
    assert _docs(spark, path) == want == {"k1": {"v": 5, "n": 1}}


def test_delta_in_batch_anchor_then_deltas(spark, tmp_path):
    """Within ONE batch: insert anchor + later deltas fold to the
    patched doc; deltas ordered before the anchor are superseded."""
    path = str(tmp_path / "replica")
    materialize_change_batch(
        _frame(
            spark,
            [
                _dev("a0", 1, 1, "k1", upd='{"ghost": 1}'),  # pre-anchor
                _ev("a1", "insert", 2, 1, "k1", '{"v": 1}'),
                _dev("a2", 3, 1, "k1", upd='{"v": 7}'),
                _dev("a3", 4, 1, "k1", upd='{"w": 8}'),
            ],
        ),
        path, n_buckets=4,
    )
    assert _docs(spark, path) == {"k1": {"v": 7, "w": 8}}


def test_delta_without_base_leaves_tombstone(spark, tmp_path):
    """A delta for a key the replica has never seen cannot apply —
    the key records a tombstone (and a LATER insert revives it)."""
    path = str(tmp_path / "replica")
    materialize_change_batch(
        _frame(spark, [_dev("a1", 1, 1, "k1", upd='{"v": 1}')]),
        path, n_buckets=4,
    )
    assert _docs(spark, path) == {}
    materialize_change_batch(
        _frame(spark, [_ev("a2", "insert", 2, 1, "k1", '{"v": 2}')]),
        path, n_buckets=4,
    )
    assert _docs(spark, path) == {"k1": {"v": 2}}


def test_delta_after_in_batch_delete_is_dropped(spark, tmp_path):
    """Deltas following a delete in the same batch have nothing to
    patch — the key stays tombstoned."""
    path = str(tmp_path / "replica")
    materialize_change_batch(
        _frame(spark, [_ev("a1", "insert", 1, 1, "k1", '{"v": 1}')]),
        path, n_buckets=4,
    )
    materialize_change_batch(
        _frame(
            spark,
            [
                _ev("a2", "delete", 2, 1, "k1", None),
                _dev("a3", 3, 1, "k1", upd='{"v": 9}'),
            ],
        ),
        path, n_buckets=4,
    )
    assert _docs(spark, path) == {}


def test_update_with_neither_image_nor_delta_still_raises(spark, tmp_path):
    path = str(tmp_path / "replica")
    with pytest.raises(PipelineError, match="post-image"):
        materialize_change_batch(
            _frame(spark, [_ev("a", "update", 1, 1, "k1", None)]),
            path, n_buckets=4,
        )
    with pytest.raises(PipelineError, match="post-image"):
        materialize_change_batch(
            _frame(spark, [_ev("a", "insert", 1, 1, "k1", None)]),
            path, n_buckets=4,
        )
