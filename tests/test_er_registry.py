"""Persisted entity-resolution registry (streaming/er_registry.py):
multi-batch fold == one-shot closure, update re-keying, deletes,
replay idempotence, CDC wrapper, and SIGKILL chaos windows."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.linkage import (
    MatchField,
    entity_resolution,
    sim_edit_distance,
    sim_numeric_closeness,
)
from pymongo_change_stream_reader_spark.streaming.er_registry import (
    ERSpec,
    compact_er_registry,
    er_registry_batch,
    er_registry_cdc_batch,
    read_er_assign,
    read_er_records,
)

ROWS = [
    (1, "jon smith", "nyc", 30),
    (2, "john smith", "nyc", 31),
    (3, "john smyth", "nyc", 30),
    (4, "alice jones", "sf", 25),
    (5, "alice jones", "sfo", 25),
    (6, "bob brown", "la", 40),
]
FIELDS = [
    MatchField("name", 0.6, sim_edit_distance),
    MatchField("city", 0.2, sim_edit_distance),
    MatchField("age", 0.2, sim_numeric_closeness),
]


def _keys():
    return F.array_distinct(
        F.transform(
            F.split(F.col("name"), " "), lambda t: F.substring(t, 1, 3)
        )
    )


def _spec(**kw):
    return ERSpec("id", FIELDS, _keys(), 0.75, **kw)


def _df(spark, rows=ROWS):
    return spark.createDataFrame(
        rows, "id LONG, name STRING, city STRING, age INT"
    )


def _assign(spark, path):
    out = read_er_assign(spark, path)
    return (
        {} if out is None else {r["rid"]: r["entity"] for r in out.collect()}
    )


def test_multi_batch_fold_equals_one_shot(spark, tmp_path):
    path = str(tmp_path / "reg")
    df = _df(spark)
    # the bridge record (2) arrives LAST: batch 3 must merge the
    # 1-cluster and 3-cluster built across earlier epochs
    for ep, ids in enumerate([(1, 4), (3, 5), (2, 6)], start=1):
        b = df.filter(F.col("id").isin(*ids)).withColumn(
            "live", F.lit(True)
        )
        stats: dict = {}
        assert er_registry_batch(
            b, path, ep, _spec(), n_buckets=4, stats=stats
        )
    got = _assign(spark, path)
    one = {
        r["id"]: r["entity"]
        for r in entity_resolution(df, "id", _keys(), FIELDS, 0.75)
        .select("id", "entity")
        .collect()
    }
    assert got == one == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    # replayed epoch: fully-committed => skip, state unchanged
    b = df.filter(F.col("id").isin(2, 6)).withColumn("live", F.lit(True))
    assert not er_registry_batch(b, path, 3, _spec(), n_buckets=4)
    assert _assign(spark, path) == got


def test_update_rekeys_and_merges(spark, tmp_path):
    path = str(tmp_path / "reg")
    b0 = _df(spark, [ROWS[1], ROWS[5]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)
    assert _assign(spark, path) == {2: 2, 6: 6}
    # 6's fields change to match 2: the update must tombstone 6's old
    # bob/bro postings, post its new keys, and merge the entities
    upd = _df(spark, [(6, "john smyth", "nyc", 30)]).withColumn(
        "live", F.lit(True)
    )
    stats: dict = {}
    assert er_registry_batch(
        upd, path, 2, _spec(), n_buckets=4, stats=stats
    )
    assert _assign(spark, path) == {2: 2, 6: 2}
    assert stats["edges"] == 1
    # old postings are dead: a later bob-brown insert finds no
    # candidate through them (its only blocks are bob/bro)
    ins = _df(spark, [(7, "bob brown", "la", 40)]).withColumn(
        "live", F.lit(True)
    )
    stats = {}
    assert er_registry_batch(
        ins, path, 3, _spec(), n_buckets=4, stats=stats
    )
    assert stats["candidates"] == 0
    assert _assign(spark, path) == {2: 2, 6: 2, 7: 7}


def test_member_relabel_fans_out_to_untouched_records(spark, tmp_path):
    path = str(tmp_path / "reg")
    df = _df(spark)
    b0 = df.filter(F.col("id").isin(2, 3)).withColumn("live", F.lit(True))
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)
    assert _assign(spark, path) == {2: 2, 3: 2}
    # record 1 (smaller id) joins the cluster: BOTH prior members must
    # relabel to 1 — record 3 only through the members store (it is
    # not a candidate of this batch's keys... it is via joh/smy? 1 has
    # jon/smi; 3 has joh/smy — no shared key, so 3's relabel is pure
    # member fan-out)
    b1 = df.filter(F.col("id") == 1).withColumn("live", F.lit(True))
    stats: dict = {}
    assert er_registry_batch(
        b1, path, 2, _spec(), n_buckets=4, stats=stats
    )
    assert stats["merged_entities"] == 1
    assert _assign(spark, path) == {1: 1, 2: 1, 3: 1}


def test_delete_removes_record_and_membership(spark, tmp_path):
    path = str(tmp_path / "reg")
    df = _df(spark)
    b0 = df.filter(F.col("id").isin(4, 5)).withColumn("live", F.lit(True))
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)
    d = spark.createDataFrame(
        [(5, None, None, None, False)],
        "id LONG, name STRING, city STRING, age INT, live BOOLEAN",
    )
    assert er_registry_batch(d, path, 2, _spec(), n_buckets=4)
    # no-retraction semantics: 4 keeps its (now singleton) entity
    assert _assign(spark, path) == {4: 4}
    assert sorted(
        r["rid"] for r in read_er_records(spark, path).collect()
    ) == [4]
    # compaction purges the delete's tombstones, preserving the state
    purged = compact_er_registry(spark, path)
    assert purged["records"] >= 1 and purged["keys"] >= 1
    assert _assign(spark, path) == {4: 4}
    # re-inserting an identical record after the purge still resolves
    # through 4's live postings only ((4, 5) is the single candidate)
    ins = _df(spark, [ROWS[4]]).withColumn("live", F.lit(True))
    stats: dict = {}
    assert er_registry_batch(
        ins, path, 3, _spec(), n_buckets=4, stats=stats
    )
    assert stats["candidates"] == 1
    assert _assign(spark, path) == {4: 4, 5: 4}


def test_distributed_closure_path_matches_driver(spark, tmp_path):
    # driver_threshold=0 forces the distributed min-label closure over
    # the contracted supernodes; the registry fold must land on the
    # same assignments as the default driver union-find
    outs = []
    for name, thresh in (("drv", 1_000_000), ("dist", 0)):
        path = str(tmp_path / name)
        df = _df(spark)
        spec = _spec(driver_threshold=thresh)
        for ep, ids in enumerate([(1, 4), (3, 5), (2, 6)], start=1):
            b = df.filter(F.col("id").isin(*ids)).withColumn(
                "live", F.lit(True)
            )
            assert er_registry_batch(b, path, ep, spec, n_buckets=4)
        outs.append(_assign(spark, path))
    assert outs[0] == outs[1] == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_definition_change_is_rejected(spark, tmp_path):
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )

    path = str(tmp_path / "reg")
    b = _df(spark, [ROWS[0]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b, path, 1, _spec(), n_buckets=4)
    with pytest.raises(PipelineError, match="different resolution"):
        er_registry_batch(
            b, path, 2, ERSpec("id", FIELDS, _keys(), 0.9), n_buckets=4
        )


def test_cdc_wrapper_folds_change_events(spark, tmp_path):
    path = str(tmp_path / "reg")
    rows = [
        ("insert", '{"_id": 2}',
         '{"_id": 2, "name": "john smith", "city": "nyc", "age": 31}',
         10, 1, "a1"),
        ("insert", '{"_id": 6}',
         '{"_id": 6, "name": "bob brown", "city": "la", "age": 40}',
         10, 2, "a2"),
    ]
    schema = (
        "operationType STRING, documentKey STRING, fullDocument STRING, "
        "t INT, i INT, d STRING"
    )
    mk = lambda rs: spark.createDataFrame(rs, schema).selectExpr(
        "operationType", "documentKey", "fullDocument",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )
    fp = {
        "name": ("$.name", "string"),
        "city": ("$.city", "string"),
        "age": ("$.age", "long"),
    }
    assert er_registry_cdc_batch(
        mk(rows), path, 1, _spec(), field_paths=fp, n_buckets=4
    )
    assert _assign(spark, path) == {2: 2, 6: 6}
    # update 6 into the 2-cluster, then delete 2 — labels are opaque:
    # the cluster keeps 2 as its id after 2's record is gone
    b1 = [
        ("replace", '{"_id": 6}',
         '{"_id": 6, "name": "john smyth", "city": "nyc", "age": 30}',
         11, 1, "b1"),
    ]
    assert er_registry_cdc_batch(
        mk(b1), path, 2, _spec(), field_paths=fp, n_buckets=4
    )
    assert _assign(spark, path) == {2: 2, 6: 2}
    b2 = [("delete", '{"_id": 2}', None, 12, 1, "c1")]
    assert er_registry_cdc_batch(
        mk(b2), path, 3, _spec(), field_paths=fp, n_buckets=4
    )
    assert _assign(spark, path) == {6: 2}
    assert sorted(
        r["rid"] for r in read_er_records(spark, path).collect()
    ) == [6]


def test_cdc_wrapper_rejects_missing_post_image(spark, tmp_path):
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )

    path = str(tmp_path / "reg")
    schema = (
        "operationType STRING, documentKey STRING, fullDocument STRING, "
        "t INT, i INT, d STRING"
    )
    b = spark.createDataFrame(
        [("update", '{"_id": 2}', None, 10, 1, "a1")], schema
    ).selectExpr(
        "operationType", "documentKey", "fullDocument",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )
    fp = {
        "name": ("$.name", "string"),
        "city": ("$.city", "string"),
        "age": ("$.age", "long"),
    }
    with pytest.raises(PipelineError, match="post-image"):
        er_registry_cdc_batch(
            b, path, 1, _spec(), field_paths=fp, n_buckets=4
        )
    assert read_er_assign(spark, path) is None


_CHILD = """
import json, os, signal, sys, threading

kill_mode, path = sys.argv[1], sys.argv[2]
ROWS = [tuple(r) for r in json.loads(sys.argv[3])]

from pyspark.sql import functions as F
from pymongo_change_stream_reader_spark.session import get_spark
import pymongo_change_stream_reader_spark.streaming.er_registry as er
from pymongo_change_stream_reader_spark.operators.linkage import (
    MatchField, sim_edit_distance, sim_numeric_closeness)

spark = get_spark(app_name="erreg-chaos", cpus=4, shuffle_partitions=4)

def die(tag):
    print("KILLED_AT " + tag, flush=True)
    os.kill(os.getpid(), signal.SIGKILL)

import pymongo_change_stream_reader_spark.storage as storage

if kill_mode == "after-deltas":
    # deltas persisted, NOTHING committed (the fused commit is the
    # whole store wave)
    def cbf_hook(*a, **kw):
        die("after-deltas")
    er.commit_bucketed_fused = cbf_hook
elif kill_mode == "after-records":
    # records store committed, keys store not: the persisted key
    # tombstones must still land on replay (a recompute against the
    # committed records would find no old-vs-new key diff).  r14
    # fused commit: data lands in one write, manifest finalizes run
    # sequentially in spec order (records, keys, members, view) —
    # dying at the keys finalize leaves records committed, keys not.
    real_fin = storage.finalize_bucketed_version
    def fin_hook(path, *a, **kw):
        if path.endswith("keys"):
            die("after-records")
        return real_fin(path, *a, **kw)
    storage.finalize_bucketed_version = fin_hook
else:
    real_wa = storage.write_atomic
    def wa_hook(dest, body):
        if dest.endswith("_current"):
            die("before-pointer")
        real_wa(dest, body)
    storage.write_atomic = wa_hook

FIELDS = [MatchField("name", 0.6, sim_edit_distance),
          MatchField("city", 0.2, sim_edit_distance),
          MatchField("age", 0.2, sim_numeric_closeness)]
KEYS = F.array_distinct(F.transform(
    F.split(F.col("name"), " "), lambda t: F.substring(t, 1, 3)))
spec = er.ERSpec("id", FIELDS, KEYS, 0.75)
b = spark.createDataFrame(
    ROWS, "id LONG, name STRING, city STRING, age INT"
).withColumn("live", F.lit(True))
er.er_registry_batch(b, path, 2, spec, n_buckets=4)
print("SURVIVED", flush=True)
"""


@pytest.mark.slow
@pytest.mark.parametrize(
    "kill_mode", ["after-deltas", "after-records", "before-pointer"]
)
def test_sigkill_windows_converge(spark, tmp_path, kill_mode):
    from pymongo_change_stream_reader_spark.storage import (
        read_bucketed_sink,
    )

    path = str(tmp_path / "reg")
    b0 = _df(spark, [ROWS[1], ROWS[5]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)

    # epoch 2 (killed in-flight): 6's update re-keys it into 2's block
    upd_rows = [(6, "john smyth", "nyc", 30)]
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, kill_mode, path,
         json.dumps(upd_rows)],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert "SURVIVED" not in proc.stdout
    assert f"KILLED_AT {kill_mode}" in proc.stdout
    assert os.path.isdir(os.path.join(path, "deltas", "epoch=2"))
    # crashed mid-epoch: the pointer never advanced
    assert _assign(spark, path) == {2: 2, 6: 6}

    # replay epoch 2: must consume the PERSISTED deltas and converge
    upd = _df(spark, upd_rows).withColumn("live", F.lit(True))
    assert er_registry_batch(upd, path, 2, _spec(), n_buckets=4)
    assert _assign(spark, path) == {2: 2, 6: 2}
    assert not er_registry_batch(upd, path, 2, _spec(), n_buckets=4)

    # replay-stability probe: 6's OLD postings (bob/bro) must be dead
    # even in the after-records window where a re-derivation would
    # have found no key diff and dropped the tombstones
    keys_rows = read_bucketed_sink(spark, os.path.join(path, "keys"))
    stale = keys_rows.filter(
        (F.col("rid") == 6) & F.col("bk").isin("bob", "bro")
    ).collect()
    assert stale and all(not r["live"] for r in stale)

    # member-relabel probe: a later batch merging 1 into the cluster
    # must relabel BOTH prior members (6 purely via the members store)
    b3 = _df(spark, [ROWS[0]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b3, path, 3, _spec(), n_buckets=4)
    assert _assign(spark, path) == {1: 1, 2: 1, 6: 1}


def test_candidate_generation_plan_has_no_cartesian_product(spark):
    # the 100 TB posture claim, explain-asserted: blocking candidates
    # come from KEY-EQUALITY self/probe joins (hash-partitionable),
    # never an all-pairs product; the scoring joins are equi-joins on
    # the candidate rids
    from pymongo_change_stream_reader_spark.operators.linkage import (
        blocked_entity_matches,
    )

    df = _df(spark)
    matches = blocked_entity_matches(
        df, "id", _keys(), FIELDS, threshold=0.75
    )
    plan = matches._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_batch_of_only_non_identity_docs_advances_epoch(spark, tmp_path):
    # a polymorphic batch carrying ONLY non-identity documents (e.g.
    # the composed relay's dim sides) reduces to zero registry rows:
    # the epoch must still commit (pointer advances, replay skips)
    # without disturbing prior state
    path = str(tmp_path / "reg")
    b0 = _df(spark, [ROWS[1]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)
    schema = (
        "operationType STRING, documentKey STRING, fullDocument STRING, "
        "t INT, i INT, d STRING"
    )
    dims_only = spark.createDataFrame(
        [("insert", "d7", '{"side": "d", "dim_name": "x"}', 10, 1, "a1")],
        schema,
    ).selectExpr(
        "operationType", "documentKey", "fullDocument",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )
    fp = {
        "name": ("$.name", "string"),
        "city": ("$.city", "string"),
        "age": ("$.age", "long"),
    }
    assert er_registry_cdc_batch(
        dims_only, path, 2, _spec(), field_paths=fp, n_buckets=4
    )
    assert _assign(spark, path) == {2: 2}
    # the empty epoch is durable: its replay self-skips
    assert not er_registry_cdc_batch(
        dims_only, path, 2, _spec(), field_paths=fp, n_buckets=4
    )
    # and the registry keeps working afterwards
    b3 = _df(spark, [ROWS[2]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b3, path, 3, _spec(), n_buckets=4)
    assert _assign(spark, path) == {2: 2, 3: 2}


HROWS = [
    ("64b0f0000000000000000001", "jon smith", "nyc", 30),
    ("64b0f0000000000000000002", "john smith", "nyc", 31),
    ("64b0f0000000000000000003", "john smyth", "nyc", 30),
    ("64b0f0000000000000000004", "alice jones", "sf", 25),
    ("64b0f0000000000000000005", "alice jones", "sfo", 25),
    ("64b0f0000000000000000006", "bob brown", "la", 40),
]


def _hspec(**kw):
    return ERSpec(
        "sid", FIELDS, _keys(), 0.75,
        id_mode="hashed", block_def="token_prefix:3:name", **kw
    )


def _hdf(spark, rows=HROWS):
    return spark.createDataFrame(
        rows, "sid STRING, name STRING, city STRING, age INT"
    )


def _groups(spark, path):
    """Entity groups as sorted original-id lists (hash labels are
    opaque — group STRUCTURE is the hashed mode's comparable)."""
    asn = read_er_assign(spark, path)
    recs = read_er_records(spark, path)
    rows = (
        recs.join(asn, "rid")
        .groupBy("entity")
        .agg(F.sort_array(F.collect_list("__skey")).alias("g"))
        .collect()
    )
    return sorted(tuple(r["g"]) for r in rows)


def test_hashed_fold_equals_one_shot_groups(spark, tmp_path):
    # string (ObjectId-hex) record ids through the SAME multi-batch
    # bridge-last fold as the integral test: group structure must
    # equal the one-shot resolution's (labels are opaque hashes)
    path = str(tmp_path / "reg")
    df = _hdf(spark)
    by_suffix = lambda *sfx: df.filter(
        F.substring("sid", 24, 1).isin(*sfx)
    )
    for ep, sfx in enumerate([("1", "4"), ("3", "5"), ("2", "6")], 1):
        b = by_suffix(*sfx).withColumn("live", F.lit(True))
        assert er_registry_batch(b, path, ep, _hspec(), n_buckets=4)
    one = entity_resolution(
        df.withColumn("rid", F.xxhash64("sid")), "rid", _keys(),
        FIELDS, 0.75,
    )
    exp = sorted(
        tuple(r["g"])
        for r in one.join(
            df.select(F.xxhash64("sid").alias("rid"), "sid"), "rid"
        )
        .groupBy("entity")
        .agg(F.sort_array(F.collect_list("sid")).alias("g"))
        .collect()
    )
    got = _groups(spark, path)
    assert got == exp
    assert [g for g in got if len(g) == 3] == [(
        "64b0f0000000000000000001",
        "64b0f0000000000000000002",
        "64b0f0000000000000000003",
    )]


def test_cdc_wrapper_objectid_hashed_and_skip_stats(spark, tmp_path):
    # the reference's canonical event shape: documentKey._id is an
    # ObjectId (tests/mocks/events.py:15) — its json_util form is a
    # {"$oid": ...} fragment that no longer casts to LONG.  In hashed
    # mode the fragment IS the injective key; a non-identity document
    # in the same batch is skipped AND counted.
    path = str(tmp_path / "reg")
    oid = lambda n: f'{{"$oid": "64b0f000000000000000000{n}"}}'
    doc = (
        lambda n, name, city, age: f'{{"_id": {oid(n)}, "name": '
        f'"{name}", "city": "{city}", "age": {age}}}'
    )
    schema = (
        "operationType STRING, documentKey STRING, fullDocument STRING, "
        "t INT, i INT, d STRING"
    )
    mk = lambda rs: spark.createDataFrame(rs, schema).selectExpr(
        "operationType", "documentKey", "fullDocument",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )
    fp = {
        "name": ("$.name", "string"),
        "city": ("$.city", "string"),
        "age": ("$.age", "long"),
    }
    b0 = [
        ("insert", f'{{"_id": {oid(2)}}}',
         doc(2, "john smith", "nyc", 31), 10, 1, "a1"),
        ("insert", f'{{"_id": {oid(6)}}}',
         doc(6, "bob brown", "la", 40), 10, 2, "a2"),
        # non-identity side doc: no $._id anywhere, key not a doc id
        ("insert", "d7", '{"side": "d", "dim_name": "x"}', 10, 3, "a3"),
    ]
    stats: dict = {}
    assert er_registry_cdc_batch(
        mk(b0), path, 1, _hspec(), field_paths=fp, n_buckets=4,
        stats=stats,
    )
    # the dim doc has no $._id, but its raw key string still hashes
    # in hashed mode (coalesce falls through to the key) — so it is
    # NOT skipped; it resolves as its own singleton
    assert stats["skipped_ids"] == 0
    assert len(_groups(spark, path)) == 3
    # update 6 into the 2-cluster: re-key + merge under hashed ids
    b1 = [
        ("replace", f'{{"_id": {oid(6)}}}',
         doc(6, "john smyth", "nyc", 30), 11, 1, "b1"),
    ]
    assert er_registry_cdc_batch(
        mk(b1), path, 2, _hspec(), field_paths=fp, n_buckets=4
    )
    gs = _groups(spark, path)
    # stored __skey is get_json_object's compact rendering of the
    # {"$oid": ...} fragment (no whitespace)
    coid = lambda n: oid(n).replace(": ", ":")
    assert (coid(2), coid(6)) in [tuple(sorted(g)) for g in gs]
    # INTEGRAL mode on the same ObjectId events: every id is
    # unparseable -> all rows skipped, counted, epoch still commits
    ipath = str(tmp_path / "ireg")
    spec_i = ERSpec("id", FIELDS, _keys(), 0.75)
    istats: dict = {}
    assert er_registry_cdc_batch(
        mk(b0), ipath, 1, spec_i, field_paths=fp, n_buckets=4,
        stats=istats,
    )
    assert istats["skipped_ids"] == 3
    assert read_er_assign(spark, ipath).count() == 0


def test_hash_collision_within_batch_raises(spark, tmp_path, monkeypatch):
    import pymongo_change_stream_reader_spark.streaming.er_registry as er
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )

    # a weak hash (string length) forces collisions deterministically
    monkeypatch.setattr(
        er, "_rid_hash", lambda c: F.length(c).cast("long")
    )
    path = str(tmp_path / "reg")
    b = _hdf(spark, HROWS[:2]).withColumn("live", F.lit(True))
    with pytest.raises(PipelineError, match="within one batch"):
        er.er_registry_batch(b, path, 1, _hspec(), n_buckets=4)
    # nothing persisted: the check precedes every delta write
    assert read_er_assign(spark, path) is None


def test_hash_collision_against_committed_raises(
    spark, tmp_path, monkeypatch
):
    import pymongo_change_stream_reader_spark.streaming.er_registry as er
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )

    monkeypatch.setattr(
        er, "_rid_hash", lambda c: F.length(c).cast("long")
    )
    path = str(tmp_path / "reg")
    b0 = _hdf(spark, HROWS[:1]).withColumn("live", F.lit(True))
    assert er.er_registry_batch(b0, path, 1, _hspec(), n_buckets=4)
    # same length, different id string -> same weak-hash rid
    b1 = _hdf(spark, HROWS[1:2]).withColumn("live", F.lit(True))
    with pytest.raises(PipelineError, match="committed live record"):
        er.er_registry_batch(b1, path, 2, _hspec(), n_buckets=4)
    # a DELETED record's rid may be reused without tripping the
    # ledger (only LIVE rows witness): delete 1, then 2 applies
    bdel = _hdf(spark, HROWS[:1]).withColumn("live", F.lit(False))
    assert er.er_registry_batch(bdel, path, 2, _hspec(), n_buckets=4)
    assert er.er_registry_batch(b1, path, 3, _hspec(), n_buckets=4)
    assert len(_groups(spark, path)) == 1


def test_rebuild_splits_bridge_deleted_entity(spark, tmp_path):
    from pymongo_change_stream_reader_spark.streaming.er_registry import (
        rebuild_er_registry,
    )

    path = str(tmp_path / "reg")
    df = _df(spark)
    b0 = df.filter(F.col("id").isin(1, 2, 3)).withColumn(
        "live", F.lit(True)
    )
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)
    assert _assign(spark, path) == {1: 1, 2: 1, 3: 1}
    # delete the bridge (2): streaming semantics keep 1 and 3 merged
    # (matches are evidence, no retraction)
    bdel = df.filter(F.col("id") == 2).withColumn("live", F.lit(False))
    assert er_registry_batch(bdel, path, 2, _spec(), n_buckets=4)
    assert _assign(spark, path) == {1: 1, 3: 1}
    # 1 ("jon smith") and 3 ("john smyth") do NOT match directly at
    # 0.75 — the rebuild must split them into singletons
    out = rebuild_er_registry(spark, path, _spec())
    assert out == {"records": 2, "entities": 2}
    assert _assign(spark, path) == {1: 1, 3: 3}
    # folding continues on the corrected state: replay of an applied
    # epoch still skips, and a NEW bridge re-merges
    assert not er_registry_batch(bdel, path, 2, _spec(), n_buckets=4)
    b3 = df.filter(F.col("id") == 2).withColumn("live", F.lit(True))
    assert er_registry_batch(b3, path, 3, _spec(), n_buckets=4)
    assert _assign(spark, path) == {1: 1, 2: 1, 3: 1}
    # spec mismatch is rejected (rebuild is not redefinition)
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )

    with pytest.raises(PipelineError, match="different resolution"):
        rebuild_er_registry(
            spark, path, ERSpec("id", FIELDS, _keys(), 0.9)
        )


def test_fingerprint_rejects_scorer_and_blocking_change(spark, tmp_path):
    # the round-12 ADVICE hole: same field names/weights/threshold but
    # DIFFERENT scorers or blocking must not reopen the registry
    from pymongo_change_stream_reader_spark.operators.linkage import (
        sim_exact,
    )
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )

    path = str(tmp_path / "reg")
    b = _df(spark, [ROWS[0]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b, path, 1, _spec(), n_buckets=4)
    swapped = [
        MatchField("name", 0.6, sim_exact),
        MatchField("city", 0.2, sim_edit_distance),
        MatchField("age", 0.2, sim_numeric_closeness),
    ]
    with pytest.raises(PipelineError, match="different resolution"):
        er_registry_batch(
            b, path, 2, ERSpec("id", swapped, _keys(), 0.75),
            n_buckets=4,
        )
    other_keys = F.array_distinct(
        F.transform(
            F.split(F.col("name"), " "), lambda t: F.substring(t, 1, 4)
        )
    )
    with pytest.raises(PipelineError, match="different resolution"):
        er_registry_batch(
            b, path, 2, ERSpec("id", FIELDS, other_keys, 0.75),
            n_buckets=4,
        )


def test_hashed_null_id_is_skipped_and_counted(spark, tmp_path):
    # r13 ADVICE (medium): xxhash64(NULL) = the seed (42), so an
    # unguarded hash would collapse every NULL-id row onto rid 42 and
    # silently LWW-merge them into one phantom record that both
    # collision-ledger checks are blind to.  The guard must route
    # NULL ids into the existing skip/count path instead.
    path = str(tmp_path / "reg")
    rows = [(None, "jon smith", "nyc", 30), HROWS[1]]
    b = _hdf(spark, rows).withColumn("live", F.lit(True))
    stats: dict = {}
    assert er_registry_batch(
        b, path, 1, _hspec(), n_buckets=4, stats=stats
    )
    assert stats["skipped_ids"] == 1
    recs = read_er_records(spark, path).collect()
    assert len(recs) == 1  # no rid-42 phantom
    assert {r["__skey"] for r in recs} == {HROWS[1][0]}
    asn = read_er_assign(spark, path).collect()
    assert len(asn) == 1


def test_legacy_fingerprint_upgrades_in_place(spark, tmp_path):
    # r13 ADVICE (low): registries created before the r13 fingerprint
    # format (no id_mode / scorer names / block_def) must keep
    # applying batches — the stored legacy config upgrades in place,
    # like the agg/join views' setdefault compatibility.
    import json as _json

    path = str(tmp_path / "reg")
    b0 = _df(spark, [ROWS[0]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)
    cfg_path = os.path.join(path, "_config.json")
    cfg = _json.load(open(cfg_path))
    legacy = {
        "n_buckets": cfg["n_buckets"],
        "id_col": cfg["id_col"],
        "fields": [f[:2] for f in cfg["fields"]],
        "threshold": cfg["threshold"],
        "max_block_size": cfg["max_block_size"],
        "extra_cols": cfg["extra_cols"],
    }
    with open(cfg_path, "w") as fh:
        _json.dump(legacy, fh)
    b1 = _df(spark, [ROWS[1]]).withColumn("live", F.lit(True))
    assert er_registry_batch(b1, path, 2, _spec(), n_buckets=4)
    assert _assign(spark, path) == {1: 1, 2: 1}
    upgraded = _json.load(open(cfg_path))
    assert upgraded.get("id_mode") == "integral"
    assert "block_def" in upgraded
    # a DIFFERENT spec against a legacy config still rejects
    with open(cfg_path, "w") as fh:
        _json.dump(legacy, fh)
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        PipelineError,
    )

    with pytest.raises(PipelineError, match="different resolution"):
        er_registry_batch(
            b1, path, 3, ERSpec("id", FIELDS, _keys(), 0.9), n_buckets=4
        )


_REBUILD_CHILD = """
import json, os, signal, sys, threading, time

path = sys.argv[1]

from pyspark.sql import functions as F
from pymongo_change_stream_reader_spark.session import get_spark
import pymongo_change_stream_reader_spark.streaming.er_registry as er
from pymongo_change_stream_reader_spark.operators.linkage import (
    MatchField, sim_edit_distance, sim_numeric_closeness)

spark = get_spark(app_name="erreg-rebuild-chaos", cpus=4,
                  shuffle_partitions=4)

def die(tag):
    print("KILLED_AT " + tag, flush=True)
    os.kill(os.getpid(), signal.SIGKILL)

real_cb = er.commit_bucketed
done = []
def cb_hook(df, store, *a, **kw):
    # torn-rebuild window: three stores committed, the view (the
    # assignment table the pointer serves) not — exactly the mixed
    # state the r13 ADVICE names
    if store.endswith("view"):
        t0 = time.time()
        while len(done) < 3 and time.time() - t0 < 120:
            time.sleep(0.05)
        die("before-view-commit")
    res = real_cb(df, store, *a, **kw)
    done.append(store)
    return res
er.commit_bucketed = cb_hook

FIELDS = [MatchField("name", 0.6, sim_edit_distance),
          MatchField("city", 0.2, sim_edit_distance),
          MatchField("age", 0.2, sim_numeric_closeness)]
KEYS = F.array_distinct(F.transform(
    F.split(F.col("name"), " "), lambda t: F.substring(t, 1, 3)))
spec = er.ERSpec("id", FIELDS, KEYS, 0.75)
er.rebuild_er_registry(spark, path, spec)
print("SURVIVED", flush=True)
"""


@pytest.mark.slow
def test_rebuild_sigkill_window_heals_on_next_batch(spark, tmp_path):
    # r13 ADVICE (medium): a rebuild crashing after some store
    # commits but before the view commit/pointer swap must not let
    # the next incremental batch fold onto mixed clustering state.
    # The _rebuild.json marker forces a re-run first.
    path = str(tmp_path / "reg")
    df = _df(spark)
    b0 = df.filter(F.col("id").isin(1, 2, 3)).withColumn(
        "live", F.lit(True)
    )
    assert er_registry_batch(b0, path, 1, _spec(), n_buckets=4)
    bdel = df.filter(F.col("id") == 2).withColumn("live", F.lit(False))
    assert er_registry_batch(bdel, path, 2, _spec(), n_buckets=4)
    assert _assign(spark, path) == {1: 1, 3: 1}  # no-retraction drift

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g", SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-c", _REBUILD_CHILD, path],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == -signal.SIGKILL, proc.stderr[-2000:]
    assert "KILLED_AT before-view-commit" in proc.stdout
    assert os.path.exists(os.path.join(path, "_rebuild.json"))

    # the next batch re-runs the rebuild from the marker BEFORE
    # folding: 1/3 split (the rebuild's outcome), then 6 arrives as
    # its own singleton
    b3 = df.filter(F.col("id") == 6).withColumn("live", F.lit(True))
    assert er_registry_batch(b3, path, 3, _spec(), n_buckets=4)
    assert not os.path.exists(os.path.join(path, "_rebuild.json"))
    assert _assign(spark, path) == {1: 1, 3: 3, 6: 6}
