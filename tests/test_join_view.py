"""Incremental join view (streaming/join_view.py): delta-join
maintenance, fk moves, dim fan-out, late-arriving dimensions, LWW
stale events, and the crash-replay contract."""

from __future__ import annotations

import os

import pytest

from pymongo_change_stream_reader_spark.plans.pipeline import PipelineError
from pymongo_change_stream_reader_spark.schema import CHANGE_EVENT_SCHEMA
from pymongo_change_stream_reader_spark.streaming.join_view import (
    join_view_batch,
    read_join_view,
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


def _fact(fk, payload):
    return f'{{"side": "f", "fk": "{fk}", "p": "{payload}"}}'


def _dim(payload):
    return f'{{"side": "d", "p": "{payload}"}}'


def _view(spark, path):
    v = read_join_view(spark, path)
    if v is None:
        return {}
    return {
        r["key"]: (r["fk"], r["fact_doc"], r["dim_doc"])
        for r in v.collect()
    }


def test_join_view_basic_and_dim_fanout(spark, tmp_path):
    path = str(tmp_path / "jv")
    b0 = _frame(
        spark,
        [
            _ev("a1", "insert", 10, 1, "d1", _dim("alpha")),
            _ev("a2", "insert", 10, 2, "d2", _dim("beta")),
            _ev("a3", "insert", 10, 3, "f1", _fact("d1", "x")),
            _ev("a4", "insert", 10, 4, "f2", _fact("d1", "y")),
            _ev("a5", "insert", 10, 5, "f3", _fact("d2", "z")),
        ],
    )
    assert join_view_batch(b0, path, epoch=0) is True
    v = _view(spark, path)
    assert set(v) == {"f1", "f2", "f3"}
    assert v["f1"] == ("d1", _fact("d1", "x"), _dim("alpha"))
    assert v["f3"][2] == _dim("beta")

    # dim update fans out to exactly its facts
    b1 = _frame(
        spark, [_ev("b1", "update", 11, 1, "d1", _dim("ALPHA2"))]
    )
    assert join_view_batch(b1, path, epoch=1) is True
    v = _view(spark, path)
    assert v["f1"][2] == _dim("ALPHA2")
    assert v["f2"][2] == _dim("ALPHA2")
    assert v["f3"][2] == _dim("beta")


def test_join_view_fk_move_and_deletes(spark, tmp_path):
    path = str(tmp_path / "jv")
    join_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "d1", _dim("alpha")),
                _ev("a2", "insert", 10, 2, "d2", _dim("beta")),
                _ev("a3", "insert", 10, 3, "f1", _fact("d1", "x")),
                _ev("a4", "insert", 10, 4, "f2", _fact("d1", "y")),
            ],
        ),
        path,
        epoch=0,
    )
    # f1 moves d1 -> d2
    join_view_batch(
        _frame(spark, [_ev("b1", "replace", 11, 1, "f1", _fact("d2", "x"))]),
        path,
        epoch=1,
    )
    v = _view(spark, path)
    assert v["f1"] == ("d2", _fact("d2", "x"), _dim("beta"))
    # a later d1 change must NOT touch f1 anymore (its old index row
    # was tombstoned), and must still reach f2
    join_view_batch(
        _frame(spark, [_ev("c1", "update", 12, 1, "d1", _dim("A3"))]),
        path,
        epoch=2,
    )
    v = _view(spark, path)
    assert v["f1"][2] == _dim("beta")
    assert v["f2"][2] == _dim("A3")
    # dim delete removes its facts' rows; fact delete removes its own
    join_view_batch(
        _frame(
            spark,
            [
                _ev("d1x", "delete", 13, 1, "d2"),
                _ev("d2x", "delete", 13, 2, "f2"),
            ],
        ),
        path,
        epoch=3,
    )
    assert _view(spark, path) == {}


def test_join_view_late_arriving_dimension(spark, tmp_path):
    path = str(tmp_path / "jv")
    join_view_batch(
        _frame(
            spark,
            [_ev("a1", "insert", 10, 1, "f1", _fact("d9", "x"))],
        ),
        path,
        epoch=0,
    )
    assert _view(spark, path) == {}  # orphan fact: inner join
    join_view_batch(
        _frame(spark, [_ev("b1", "insert", 11, 1, "d9", _dim("late"))]),
        path,
        epoch=1,
    )
    v = _view(spark, path)
    assert v == {"f1": ("d9", _fact("d9", "x"), _dim("late"))}


def test_join_view_stale_events_cannot_regress(spark, tmp_path):
    path = str(tmp_path / "jv")
    join_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "d1", _dim("alpha")),
                _ev("a2", "insert", 20, 1, "f1", _fact("d1", "new")),
            ],
        ),
        path,
        epoch=0,
    )
    # an OLDER fact event arriving in a later batch loses LWW
    join_view_batch(
        _frame(spark, [_ev("b1", "replace", 15, 1, "f1", _fact("d1", "old"))]),
        path,
        epoch=1,
    )
    v = _view(spark, path)
    assert v["f1"][1] == _fact("d1", "new")
    # an older delete cannot kill the newer row either
    join_view_batch(
        _frame(spark, [_ev("c1", "delete", 12, 1, "f1")]),
        path,
        epoch=2,
    )
    assert _view(spark, path)["f1"][1] == _fact("d1", "new")


def test_join_view_replay_same_epoch_is_noop(spark, tmp_path):
    path = str(tmp_path / "jv")
    b = _frame(
        spark,
        [
            _ev("a1", "insert", 10, 1, "d1", _dim("alpha")),
            _ev("a2", "insert", 10, 2, "f1", _fact("d1", "x")),
        ],
    )
    assert join_view_batch(b, path, epoch=0) is True
    assert join_view_batch(b, path, epoch=0) is False
    assert len(_view(spark, path)) == 1


def test_join_view_crash_before_pointer_swap_replays(spark, tmp_path):
    path = str(tmp_path / "jv")
    join_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "d1", _dim("alpha")),
                _ev("a2", "insert", 10, 2, "f1", _fact("d1", "x")),
            ],
        ),
        path,
        epoch=0,
    )
    ptr = os.path.join(path, "view", "_current")
    saved = open(ptr).read()
    b1 = _frame(
        spark,
        [
            _ev("b1", "update", 11, 1, "d1", _dim("A2")),
            _ev("b2", "insert", 11, 2, "f2", _fact("d1", "y")),
        ],
    )
    assert join_view_batch(b1, path, epoch=1) is True
    # simulate a crash between the view commit and the pointer swap:
    # every store landed, the pointer did not — the replay must
    # re-apply from the PERSISTED deltas and converge
    with open(ptr, "w") as f:
        f.write(saved)
    assert join_view_batch(b1, path, epoch=1) is True
    v = _view(spark, path)
    assert v["f1"][2] == _dim("A2")
    assert v["f2"] == ("d1", _fact("d1", "y"), _dim("A2"))


def test_join_view_validation(spark, tmp_path):
    path = str(tmp_path / "jv")
    with pytest.raises(PipelineError, match="post-image"):
        join_view_batch(
            _frame(spark, [_ev("a1", "insert", 10, 1, "f1", None)]),
            path,
            epoch=0,
        )
    with pytest.raises(PipelineError, match="side"):
        join_view_batch(
            _frame(spark, [_ev("a1", "insert", 10, 1, "k1", '{"x": 1}')]),
            path,
            epoch=0,
        )
    join_view_batch(
        _frame(spark, [_ev("a2", "insert", 10, 2, "d1", _dim("a"))]),
        path,
        epoch=0,
    )
    with pytest.raises(PipelineError, match="definition"):
        join_view_batch(
            _frame(spark, [_ev("a3", "insert", 10, 3, "d2", _dim("b"))]),
            path,
            epoch=1,
            fk_path="$.other",
        )


def test_compact_join_view_purges_and_preserves(spark, tmp_path):
    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )
    from pymongo_change_stream_reader_spark.streaming.join_view import (
        compact_join_view,
    )

    path = str(tmp_path / "jv")
    join_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "d1", _dim("alpha")),
                _ev("a2", "insert", 10, 2, "f1", _fact("d1", "x")),
                _ev("a3", "insert", 10, 3, "f2", _fact("d1", "y")),
            ],
        ),
        path,
        epoch=0,
    )
    join_view_batch(
        _frame(spark, [_ev("b1", "delete", 11, 1, "f2")]),
        path,
        epoch=1,
    )
    before = _view(spark, path)
    assert set(before) == {"f1"}
    # the delete tombstoned BOTH stores (unconditional routing): the
    # facts store holds f2's real tombstone AND dims holds the inert one
    facts = read_bucketed_sink(spark, os.path.join(path, "facts"))
    dims = read_bucketed_sink(spark, os.path.join(path, "dims"))
    assert facts.filter("NOT live").count() == 1
    assert dims.filter("NOT live").count() == 1

    counts = compact_join_view(spark, path, purge_tombstones=True)
    assert counts["facts"] == 1 and counts["dims"] == 1
    assert counts["fact_by_fk"] == 1 and counts["view"] == 1
    facts = read_bucketed_sink(spark, os.path.join(path, "facts"))
    assert facts.filter("NOT live").count() == 0
    # state unchanged through the swap, and batches keep applying
    assert _view(spark, path) == before
    join_view_batch(
        _frame(spark, [_ev("c1", "insert", 12, 1, "f3", _fact("d1", "z"))]),
        path,
        epoch=2,
    )
    assert set(_view(spark, path)) == {"f1", "f3"}


def test_join_view_left_null_padding_transitions(spark, tmp_path):
    path = str(tmp_path / "jvl")
    kw = dict(join_type="left")
    # facts arrive BEFORE their dims: visible, NULL-padded
    join_view_batch(
        _frame(
            spark,
            [
                _ev("a1", "insert", 10, 1, "f1", _fact("d1", "x")),
                _ev("a2", "insert", 10, 2, "f2", _fact("d9", "y")),
                _ev("a3", "insert", 10, 3, "d2", _dim("beta")),
            ],
        ),
        path,
        epoch=0,
        **kw,
    )
    v = _view(spark, path)
    assert v["f1"] == ("d1", _fact("d1", "x"), None)
    assert v["f2"] == ("d9", _fact("d9", "y"), None)
    # the dim arrives: NULL flips to joined (dim-driven fan-out)
    join_view_batch(
        _frame(spark, [_ev("b1", "insert", 11, 1, "d1", _dim("alpha"))]),
        path,
        epoch=1,
        **kw,
    )
    v = _view(spark, path)
    assert v["f1"] == ("d1", _fact("d1", "x"), _dim("alpha"))
    assert v["f2"][2] is None
    # dim delete reverts to NULL-padded; the fact stays visible
    join_view_batch(
        _frame(spark, [_ev("c1", "delete", 12, 1, "d1")]),
        path,
        epoch=2,
        **kw,
    )
    v = _view(spark, path)
    assert v["f1"] == ("d1", _fact("d1", "x"), None)
    # fk move from the missing dim onto live d2 fills immediately
    join_view_batch(
        _frame(spark, [_ev("e1", "replace", 13, 1, "f2", _fact("d2", "y"))]),
        path,
        epoch=3,
        **kw,
    )
    v = _view(spark, path)
    assert v["f2"] == ("d2", _fact("d2", "y"), _dim("beta"))
    # fact delete removes the row even under LEFT
    join_view_batch(
        _frame(spark, [_ev("g1", "delete", 14, 1, "f1")]),
        path,
        epoch=4,
        **kw,
    )
    v = _view(spark, path)
    assert set(v) == {"f2"}
    # a later batch with the default (inner) definition must refuse
    with pytest.raises(PipelineError):
        join_view_batch(
            _frame(spark, [_ev("h1", "insert", 15, 1, "d3", _dim("g"))]),
            path,
            epoch=5,
        )
