"""Incremental materialized aggregate view (streaming/agg_view.py):
contribution-delta maintenance, LWW stale-event cancellation, and the
crash-replay contract (persisted deltas, epoch pointer)."""

from __future__ import annotations

import os

import pytest

from pymongo_change_stream_reader_spark import storage
from pymongo_change_stream_reader_spark.plans.pipeline import PipelineError
from pymongo_change_stream_reader_spark.schema import CHANGE_EVENT_SCHEMA
from pymongo_change_stream_reader_spark.streaming import agg_view as av
from pymongo_change_stream_reader_spark.streaming.agg_view import (
    agg_view_batch,
    read_agg_view,
    read_agg_view_keys,
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


def _groups(spark, path):
    view = read_agg_view(spark, path)
    if view is None:
        return {}
    return {
        r["grp"]: (r["n_docs"], r["sum_val"]) for r in view.collect()
    }


def _doc(v, g):
    return f'{{"v": {v}, "g": "{g}"}}'


def test_insert_update_move_delete(spark, tmp_path):
    path = str(tmp_path / "view")
    b0 = _frame(
        spark,
        [
            _ev("a1", "insert", 10, 1, "k1", _doc(5, "a")),
            _ev("a2", "insert", 10, 2, "k2", _doc(7, "a")),
            _ev("a3", "insert", 10, 3, "k3", _doc(1, "b")),
        ],
    )
    agg_view_batch(b0, path, epoch=0, value_type="long", n_buckets=4)
    assert _groups(spark, path) == {"a": (2, 12), "b": (1, 1)}
    b1 = _frame(
        spark,
        [
            # in-place value update, a group MOVE, and a delete
            _ev("b1", "update", 11, 1, "k1", _doc(6, "a")),
            _ev("b2", "replace", 11, 2, "k2", _doc(7, "b")),
            _ev("b3", "delete", 11, 3, "k3", None),
        ],
    )
    agg_view_batch(b1, path, epoch=1, value_type="long", n_buckets=4)
    assert _groups(spark, path) == {"a": (1, 6), "b": (1, 7)}
    # the delete persisted as a tombstone contribution row
    keys = {
        r["key"]: (r["live"], r["grp"])
        for r in read_agg_view_keys(spark, path).collect()
    }
    assert keys["k3"] == (False, None)


def test_stale_events_cancel_to_zero(spark, tmp_path):
    path = str(tmp_path / "view")
    agg_view_batch(
        _frame(spark, [_ev("a1", "insert", 20, 1, "k1", _doc(9, "a"))]),
        path, epoch=0, value_type="long", n_buckets=4,
    )
    # an OLDER update and an older delete arrive later (out-of-order
    # replay): LWW keeps the stored row, the view must not move
    late = _frame(
        spark,
        [
            _ev("z1", "update", 5, 1, "k1", _doc(100, "z")),
            _ev("z2", "delete", 4, 1, "k1", None),
        ],
    )
    agg_view_batch(late, path, epoch=1, value_type="long", n_buckets=4)
    assert _groups(spark, path) == {"a": (1, 9)}
    # and a stale insert cannot resurrect a tombstoned key
    agg_view_batch(
        _frame(spark, [_ev("d1", "delete", 30, 1, "k1", None)]),
        path, epoch=2, value_type="long", n_buckets=4,
    )
    agg_view_batch(
        _frame(spark, [_ev("r1", "insert", 25, 1, "k1", _doc(50, "a"))]),
        path, epoch=3, value_type="long", n_buckets=4,
    )
    assert _groups(spark, path) == {}


def test_replayed_epoch_is_skipped(spark, tmp_path):
    path = str(tmp_path / "view")
    b = _frame(spark, [_ev("a1", "insert", 10, 1, "k1", _doc(5, "a"))])
    agg_view_batch(b, path, epoch=0, value_type="long", n_buckets=4)
    agg_view_batch(b, path, epoch=0, value_type="long", n_buckets=4)
    assert _groups(spark, path) == {"a": (1, 5)}


def test_requires_post_image(spark, tmp_path):
    path = str(tmp_path / "view")
    bad = _frame(spark, [_ev("a1", "update", 10, 1, "k1", None)])
    with pytest.raises(PipelineError, match="post-image"):
        agg_view_batch(bad, path, epoch=0, value_type="long", n_buckets=4)


def _crash_then_replay(spark, tmp_path, monkeypatch, crash_attr):
    """Apply epoch 0, crash epoch 1 at ``crash_attr``, replay epoch 1,
    then assert the view converged to the post-batch truth."""
    path = str(tmp_path / "view")
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "k1", _doc(5, "a")),
                _ev("a2", "insert", 10, 2, "k2", _doc(3, "b")),
            ],
        ),
        path, epoch=0, value_type="long", n_buckets=4,
    )
    b1 = _frame(
        spark,
        [
            _ev("b1", "update", 11, 1, "k1", _doc(6, "b")),
            _ev("b2", "delete", 11, 2, "k2", None),
        ],
    )
    real = getattr(av, crash_attr)

    def boom(*a, **kw):
        raise RuntimeError(f"crash at {crash_attr}")

    monkeypatch.setattr(av, crash_attr, boom)
    with pytest.raises(RuntimeError, match="crash"):
        agg_view_batch(b1, path, epoch=1, value_type="long", n_buckets=4)
    monkeypatch.setattr(av, crash_attr, real)
    # every simulated window lies past the delta-persist point, so the
    # batch's deltas are durable and the replay must reuse them
    assert os.path.isdir(os.path.join(path, "deltas", "epoch=1"))
    agg_view_batch(b1, path, epoch=1, value_type="long", n_buckets=4)
    assert _groups(spark, path) == {"b": (1, 6)}
    # replaying once more is a no-op
    agg_view_batch(b1, path, epoch=1, value_type="long", n_buckets=4)
    assert _groups(spark, path) == {"b": (1, 6)}


def test_crash_between_deltas_and_keys_commit(spark, tmp_path, monkeypatch):
    # the fused keys+groups commit (the r14 plain-mode commit path)
    # raises BEFORE committing anything: deltas persisted, keys
    # pre-batch, groups pre-batch
    _crash_then_replay(
        spark, tmp_path, monkeypatch, "commit_bucketed_fused"
    )


def test_crash_between_keys_and_groups_commit(spark, tmp_path, monkeypatch):
    # publish_pointer (the groups pointer swap) raises AFTER keys
    # landed: without the persisted-deltas rule the replay would
    # recompute zero deltas against the already-updated keys store and
    # the groups table would silently lose the batch
    _crash_then_replay(spark, tmp_path, monkeypatch, "publish_pointer")


def test_interleaved_batches_match_single_apply(spark, tmp_path):
    rows = [
        _ev("e1", "insert", 1, 1, "k1", _doc(1, "a")),
        _ev("e2", "insert", 2, 1, "k2", _doc(2, "a")),
        _ev("e3", "update", 3, 1, "k1", _doc(4, "b")),
        _ev("e4", "delete", 4, 1, "k2", None),
        _ev("e5", "insert", 5, 1, "k3", _doc(8, "b")),
        _ev("e6", "replace", 6, 1, "k3", _doc(9, "a")),
    ]
    single = str(tmp_path / "single")
    agg_view_batch(
        _frame(spark, rows), single, epoch=0, value_type="long", n_buckets=4
    )
    inter = str(tmp_path / "inter")
    # shards mix newer and older events per key
    for e, shard in enumerate((rows[::3], rows[1::3], rows[2::3])):
        agg_view_batch(
            _frame(spark, list(shard)), inter, epoch=e,
            value_type="long", n_buckets=4,
        )
    assert _groups(spark, single) == _groups(spark, inter) == {
        "a": (1, 9),
        "b": (1, 4),
    }


def test_negative_count_invariant_raises(spark, tmp_path):
    """A corrupted/double-applied deltas file that would drive a group
    count negative must fail the batch loudly, not silently drop the
    group."""
    import os

    path = str(tmp_path / "view")
    agg_view_batch(
        _frame(spark, [_ev("a1", "insert", 10, 1, "k1", _doc(5, "a"))]),
        path, epoch=0, value_type="long", n_buckets=4,
    )
    # forge epoch-1 deltas subtracting two docs from a 1-doc group
    forged = os.path.join(path, "deltas", "epoch=1")
    spark.createDataFrame(
        [("a", -2, -10)], "grp STRING, d_n BIGINT, d_sum LONG"
    ).coalesce(1).write.mode("overwrite").parquet(forged)
    b1 = _frame(spark, [_ev("b1", "insert", 11, 1, "k9", _doc(1, "b"))])
    with pytest.raises(PipelineError, match="negative group counts"):
        agg_view_batch(b1, path, epoch=1, value_type="long", n_buckets=4)


def test_compact_keys_store(spark, tmp_path):
    from pymongo_change_stream_reader_spark.streaming.agg_view import (
        compact_agg_view_keys,
    )

    path = str(tmp_path / "view")
    for e in range(4):
        agg_view_batch(
            _frame(
                spark,
                [
                    _ev(f"a{e}", "insert", 10 + e, 1, f"k{e}", _doc(e, "a")),
                    _ev(f"d{e}", "delete", 10 + e, 2, f"k{e - 1}", None),
                ],
            ),
            path, epoch=e, value_type="long", n_buckets=4,
        )
    before = _groups(spark, path)
    keys_before = {
        (r["key"], r["live"])
        for r in read_agg_view_keys(spark, path).collect()
    }
    out = compact_agg_view_keys(spark, path)
    assert out is not None
    # state unchanged, tombstones retained by default
    assert _groups(spark, path) == before
    assert {
        (r["key"], r["live"])
        for r in read_agg_view_keys(spark, path).collect()
    } == keys_before
    # one file per non-empty bucket dir after the compact
    import glob
    import os as _os

    keys_root = _os.path.join(path, "keys")
    mf = open(_os.path.join(keys_root, "_manifest")).read().splitlines()
    for line in mf[1:]:
        rel = line.split(":", 1)[1]
        files = glob.glob(_os.path.join(keys_root, rel, "*.parquet"))
        assert len(files) == 1, (rel, files)
    # purge drops tombstones (and the caller owns the reorder hazard)
    compact_agg_view_keys(spark, path, purge_tombstones=True)
    assert all(
        r["live"] for r in read_agg_view_keys(spark, path).collect()
    )
    assert _groups(spark, path) == before


def test_config_pin_refuses_redefinition(spark, tmp_path):
    path = str(tmp_path / "view")
    b = _frame(spark, [_ev("a1", "insert", 10, 1, "k1", _doc(5, "a"))])
    agg_view_batch(b, path, epoch=0, value_type="long", n_buckets=4)
    with pytest.raises(PipelineError, match="do not compose"):
        agg_view_batch(
            _frame(spark, [_ev("a2", "insert", 11, 1, "k2", _doc(6, "b"))]),
            path, epoch=1, value_type="long", n_buckets=4,
            group_path="$.other",
        )
    # same definition continues fine
    agg_view_batch(
        _frame(spark, [_ev("a2", "insert", 11, 1, "k2", _doc(6, "b"))]),
        path, epoch=1, value_type="long", n_buckets=4,
    )
    assert _groups(spark, path) == {"a": (1, 5), "b": (1, 6)}


def test_touched_group_rewrites_only_its_bucket(spark, tmp_path):
    """The r10 scale contract: the groups store is bucketed by grp,
    and a batch touching ONE group commits a version dir containing
    exactly that group's bucket — not a whole-table rewrite."""
    from pymongo_change_stream_reader_spark.storage import (
        read_bucket_manifest,
    )

    path = str(tmp_path / "view")
    # epoch 0 populates many groups spread over several buckets
    b0 = _frame(
        spark,
        [
            _ev(f"a{i}", "insert", 10, i, f"k{i}", _doc(i, f"g{i}"))
            for i in range(1, 9)
        ],
    )
    agg_view_batch(b0, path, epoch=0, value_type="long", n_buckets=8)
    groot = os.path.join(path, "groups")
    before = dict(read_bucket_manifest(groot)[1])
    assert len(before) > 2  # the 8 groups spread over >2 buckets
    # epoch 1 touches exactly one group
    agg_view_batch(
        _frame(spark, [_ev("b1", "update", 11, 1, "k1", _doc(99, "g1"))]),
        path, epoch=1, value_type="long", n_buckets=8,
    )
    after = dict(read_bucket_manifest(groot)[1])
    changed = {k for k in after if after[k] != before.get(k)}
    assert len(changed) == 1, (before, after)
    # untouched buckets keep serving their PRIOR files (no rewrite)
    assert all(after[k] == before[k] for k in after if k not in changed)
    assert _groups(spark, path)["g1"] == (1, 99)


def test_groups_pointer_is_the_commit_point(spark, tmp_path, monkeypatch):
    """A phantom bucketed groups commit (crash between the bucketed
    write and the pointer swap) must stay invisible to readers and be
    superseded cleanly by the replay."""
    path = str(tmp_path / "view")
    agg_view_batch(
        _frame(spark, [_ev("a1", "insert", 10, 1, "k1", _doc(5, "a"))]),
        path, epoch=0, value_type="long", n_buckets=4,
    )
    b1 = _frame(spark, [_ev("b1", "insert", 11, 1, "k2", _doc(3, "a"))])
    real = storage.write_atomic

    def boom(dest, body):
        if dest.endswith("_current"):
            raise RuntimeError("crash at pointer swap")
        return real(dest, body)

    monkeypatch.setattr(storage, "write_atomic", boom)
    with pytest.raises(RuntimeError, match="pointer swap"):
        agg_view_batch(b1, path, epoch=1, value_type="long", n_buckets=4)
    monkeypatch.setattr(storage, "write_atomic", real)
    # the phantom commit is invisible: readers resolve via _current
    assert _groups(spark, path) == {"a": (1, 5)}
    agg_view_batch(b1, path, epoch=1, value_type="long", n_buckets=4)
    assert _groups(spark, path) == {"a": (2, 8)}


def test_legacy_whole_table_store_migrates_in_place(spark, tmp_path):
    """A store written in the r9 layout (groups/g-N whole versions)
    must keep serving reads and fold into the bucketed layout on the
    first new apply."""
    path = str(tmp_path / "view")
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "k1", _doc(5, "a")),
                _ev("a2", "insert", 10, 2, "k2", _doc(2, "b")),
            ],
        ),
        path, epoch=0, value_type="long", n_buckets=4,
    )
    # rewrite the committed state into the LEGACY layout by hand
    groot = os.path.join(path, "groups")
    legacy_dir = os.path.join(groot, "g-000000")
    read_agg_view(spark, path).coalesce(1).write.mode("overwrite").parquet(
        legacy_dir
    )
    for dn in os.listdir(groot):
        if dn.startswith(("v-", "_manifest")):
            p = os.path.join(groot, dn)
            if os.path.isdir(p):
                import shutil

                shutil.rmtree(p)
            else:
                os.unlink(p)
    storage.write_atomic(os.path.join(groot, "_current"), "g-000000:0")
    assert _groups(spark, path) == {"a": (1, 5), "b": (1, 2)}
    # the next apply migrates and the g- dir disappears
    agg_view_batch(
        _frame(spark, [_ev("b1", "insert", 11, 1, "k3", _doc(1, "a"))]),
        path, epoch=1, value_type="long", n_buckets=4,
    )
    assert _groups(spark, path) == {"a": (2, 6), "b": (1, 2)}
    assert not any(dn.startswith("g-") for dn in os.listdir(groot))


def _groups_mm(spark, path):
    view = read_agg_view(spark, path)
    if view is None:
        return {}
    return {
        r["grp"]: (r["n_docs"], r["sum_val"], r["min_val"], r["max_val"])
        for r in view.collect()
    }


def test_minmax_insert_update_move_delete(spark, tmp_path):
    path = str(tmp_path / "view")
    kw = dict(value_type="long", n_buckets=4, track_minmax=True)
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "k1", _doc(5, "a")),
                _ev("a2", "insert", 10, 2, "k2", _doc(7, "a")),
                _ev("a3", "insert", 10, 3, "k3", _doc(1, "b")),
            ],
        ),
        path, epoch=0, **kw,
    )
    assert _groups_mm(spark, path) == {
        "a": (2, 12, 5, 7), "b": (1, 1, 1, 1),
    }
    # min-removal (5->6 in place), max-removal via group move, delete
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("b1", "update", 11, 1, "k1", _doc(6, "a")),
                _ev("b2", "replace", 11, 2, "k2", _doc(7, "b")),
                _ev("b3", "delete", 11, 3, "k3", None),
            ],
        ),
        path, epoch=1, **kw,
    )
    assert _groups_mm(spark, path) == {
        "a": (1, 6, 6, 6), "b": (1, 7, 7, 7),
    }


def test_minmax_net_zero_sum_delta_still_updates_extrema(spark, tmp_path):
    """Value swaps whose count/sum deltas cancel to zero must still
    move min/max: removals {1,5} + arrivals {2,4} keep SUM and COUNT
    but tighten both extrema."""
    path = str(tmp_path / "view")
    kw = dict(value_type="long", n_buckets=4, track_minmax=True)
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "k1", _doc(1, "a")),
                _ev("a2", "insert", 10, 2, "k2", _doc(5, "a")),
            ],
        ),
        path, epoch=0, **kw,
    )
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("b1", "update", 11, 1, "k1", _doc(2, "a")),
                _ev("b2", "update", 11, 2, "k2", _doc(4, "a")),
            ],
        ),
        path, epoch=1, **kw,
    )
    assert _groups_mm(spark, path) == {"a": (2, 6, 2, 4)}


def test_minmax_null_values_ignored(spark, tmp_path):
    path = str(tmp_path / "view")
    kw = dict(value_type="long", n_buckets=4, track_minmax=True)
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "k1", '{"g": "a"}'),
                _ev("a2", "insert", 10, 2, "k2", _doc(4, "a")),
            ],
        ),
        path, epoch=0, **kw,
    )
    assert _groups_mm(spark, path) == {"a": (2, 4, 4, 4)}
    # deleting the only non-null value rescans down to an all-null
    # group: extrema become null, count/sum stay
    agg_view_batch(
        _frame(spark, [_ev("b1", "delete", 11, 2, "k2", None)]),
        path, epoch=1, **kw,
    )
    assert _groups_mm(spark, path) == {"a": (1, 0, None, None)}


def test_minmax_extremum_delete_replays(spark, tmp_path, monkeypatch):
    """The chaos case the r9 verdict prescribed: the delete that
    removes a group's extremum crashes at the groups pointer swap and
    REPLAYS — the persisted rescan flag plus the idempotent keys
    re-merge must converge to the exact new extremum."""
    path = str(tmp_path / "view")
    kw = dict(value_type="long", n_buckets=4, track_minmax=True)
    agg_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "k1", _doc(9, "a")),
                _ev("a2", "insert", 10, 2, "k2", _doc(3, "a")),
            ],
        ),
        path, epoch=0, **kw,
    )
    b1 = _frame(spark, [_ev("b1", "delete", 11, 2, "k2", None)])
    real = storage.write_atomic

    def boom(dest, body):
        if dest.endswith("_current"):
            raise RuntimeError("crash at pointer swap")
        return real(dest, body)

    monkeypatch.setattr(storage, "write_atomic", boom)
    with pytest.raises(RuntimeError, match="pointer swap"):
        agg_view_batch(b1, path, epoch=1, **kw)
    monkeypatch.setattr(storage, "write_atomic", real)
    # the persisted deltas carry the rescan flag
    assert os.path.isdir(os.path.join(path, "deltas", "epoch=1"))
    assert _groups_mm(spark, path) == {"a": (2, 12, 3, 9)}  # pre-crash
    agg_view_batch(b1, path, epoch=1, **kw)
    assert _groups_mm(spark, path) == {"a": (1, 9, 9, 9)}
    agg_view_batch(b1, path, epoch=1, **kw)  # replay again: no-op
    assert _groups_mm(spark, path) == {"a": (1, 9, 9, 9)}


def test_minmax_config_pinned(spark, tmp_path):
    path = str(tmp_path / "view")
    agg_view_batch(
        _frame(spark, [_ev("a1", "insert", 10, 1, "k1", _doc(5, "a"))]),
        path, epoch=0, value_type="long", n_buckets=4, track_minmax=True,
    )
    with pytest.raises(PipelineError, match="do not compose"):
        agg_view_batch(
            _frame(spark, [_ev("a2", "insert", 11, 1, "k2", _doc(6, "a"))]),
            path, epoch=1, value_type="long", n_buckets=4,
        )
