"""Stream-static and stream-stream joins with watermarks (SURVEY
§2.C ◐), the foreachBatch per-topic file-writer (the reference's
file-writer test flavor), and the env-config surface (A22)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


def _write_json(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


CLICKS = [
    {"event_id": 1, "ts": "2024-01-01T00:00:00Z", "user_id": 1, "value": 1.0},
    {"event_id": 2, "ts": "2024-01-01T00:02:00Z", "user_id": 2, "value": 2.0},
]
PURCHASES = [
    {"event_id": 10, "ts": "2024-01-01T00:05:00Z", "user_id": 1, "value": 50.0},
    {"event_id": 11, "ts": "2024-01-01T02:00:00Z", "user_id": 2, "value": 60.0},
]
SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"


def test_stream_static_join(spark, tmp_path):
    src = tmp_path / "clicks"
    src.mkdir()
    _write_json(src / "b.json", CLICKS)
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    users = spark.createDataFrame(
        [(1, "gold"), (2, "basic")], "user_id LONG, tier STRING"
    )
    joined = stream.join(F.broadcast(users), "user_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_static")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        r["event_id"]: r["tier"] for r in spark.sql("SELECT * FROM ss_static").collect()
    }
    assert out == {1: "gold", 2: "basic"}


def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Purchases join clicks of the same user within 1 hour: the
    watermark + time-bound condition lets Spark expire join state."""
    c_src = tmp_path / "c"
    p_src = tmp_path / "p"
    c_src.mkdir()
    p_src.mkdir()
    _write_json(c_src / "b.json", CLICKS)
    _write_json(p_src / "b.json", PURCHASES)
    clicks = (
        spark.readStream.schema(SCHEMA)
        .json(str(c_src))
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    purchases = (
        spark.readStream.schema(SCHEMA)
        .json(str(p_src))
        .withWatermark("ts", "10 minutes")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_stream")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    pairs = {
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM ss_stream").collect()
    }
    # purchase 10 (00:05, user 1) matches click 1 (00:00); purchase 11
    # (02:00, user 2) is > 1h after click 2 -> no match
    assert pairs == {(10, 1)}


def test_foreach_batch_per_topic_files(spark, tmp_path):
    """foreachBatch demux: one output directory per topic — the
    reference's file-writer variant (tests/test_file_writer/) with the
    file sink's exactly-once per batch."""
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import (
        RelaySettings,
        build_relay,
    )

    src = tmp_path / "in"
    src.mkdir()
    import shutil

    shutil.copy("tests/fixtures/change_events.jsonl", src / "b.json")
    out_root = tmp_path / "topics"

    def write_per_topic(batch, epoch_id):
        (
            batch.write.mode("append")
            .partitionBy("topic")
            .parquet(str(out_root))
        )

    records = build_relay(
        stream_change_events_json(spark, str(src)),
        RelaySettings(stream_reader_name="fw", kafka_prefix="test"),
    )
    q = (
        records.writeStream.foreachBatch(write_per_topic)
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(str(out_root))
    assert out.count() == 7
    assert {r["topic"] for r in out.select("topic").distinct().collect()} == {
        "test.test-database.TestCollection"
    }


def test_settings_from_env(monkeypatch):
    from pymongo_change_stream_reader_spark.config import settings_from_env

    for k, v in {
        "STREAM_READER_NAME": "r1",
        "MONGO_URI": "mongodb://h:27017",
        "KAFKA_BOOTSTRAP_SERVERS": "k:9092",
        "DATABASE": "appdb",
        "PIPELINE": '[{"$match": {"operationType": "insert"}}]',
        "COMMIT_INTERVAL": "15",
        "NEW_TOPIC_CONFIG": '{"cleanup.policy": "compact"}',
    }.items():
        monkeypatch.setenv(k, v)
    cfg = settings_from_env()
    assert cfg.stream_reader_name == "r1"
    assert cfg.commit_interval == 15
    assert cfg.new_topic_config == {"cleanup.policy": "compact"}
    assert cfg.checkpoint_location.endswith("/r1")
    # index-store extensions default off
    assert cfg.dedup_index_path is None and cfg.ann_index_path is None
    assert cfg.ann_kind == "ivf"


def test_settings_from_env_composed_stores(monkeypatch):
    from pymongo_change_stream_reader_spark.config import settings_from_env

    for k, v in {
        "STREAM_READER_NAME": "r1",
        "MONGO_URI": "mongodb://h:27017",
        "KAFKA_BOOTSTRAP_SERVERS": "k:9092",
        "REPLICA_PATH": "/data/replica",
        "DEDUP_INDEX_PATH": "/data/lsh",
        "DEDUP_FLAGS_PATH": "/data/flags",
        "BM25_INDEX_PATH": "/data/bm25",
        "ANN_INDEX_PATH": "/data/ivfpq",
        "ANN_KIND": "ivfpq",
        "ANN_VEC_COL": "emb",
        "ANN_KEY_COL": "vec_key",
        "AGG_VIEW_PATH": "/data/view",
        "AGG_GROUP_PATH": "$.category",
        "AGG_VALUE_TYPE": "long",
        "AGG_TRACK_MINMAX": "true",
        "JOIN_VIEW_PATH": "/data/jview",
        "JOIN_FK_PATH": "$.customer_id",
        "JOIN_VIEW_JOIN_TYPE": "left",
    }.items():
        monkeypatch.setenv(k, v)
    cfg = settings_from_env()
    assert cfg.dedup_index_path == "/data/lsh"
    assert cfg.bm25_index_path == "/data/bm25"
    assert cfg.ann_index_path == "/data/ivfpq"
    assert (cfg.ann_kind, cfg.ann_vec_col, cfg.ann_key_col) == (
        "ivfpq", "emb", "vec_key",
    )
    assert (cfg.agg_view_path, cfg.agg_group_path, cfg.agg_value_path,
            cfg.agg_value_type) == ("/data/view", "$.category", "$.v",
                                    "long")
    assert cfg.agg_track_minmax is True
    assert (cfg.join_view_path, cfg.join_side_path, cfg.join_fk_path,
            cfg.join_dim_id_path) == ("/data/jview", "$.side",
                                      "$.customer_id", "$._id")
    assert cfg.join_join_type == "left"


def test_settings_join_type_validation(monkeypatch):
    from pymongo_change_stream_reader_spark.config import settings_from_env

    for k, v in {
        "STREAM_READER_NAME": "r1",
        "MONGO_URI": "mongodb://h:27017",
        "KAFKA_BOOTSTRAP_SERVERS": "k:9092",
        "JOIN_VIEW_JOIN_TYPE": "full",
    }.items():
        monkeypatch.setenv(k, v)
    with pytest.raises(ValueError, match="JOIN_VIEW_JOIN_TYPE"):
        settings_from_env()


def test_settings_validation(monkeypatch):
    from pymongo_change_stream_reader_spark.config import EngineSettings

    with pytest.raises(ValueError, match="collection requires database"):
        EngineSettings(
            stream_reader_name="x", mongo_uri="m", kafka_bootstrap_servers="k",
            collection="C",
        )
    with pytest.raises(Exception):
        EngineSettings(
            stream_reader_name="x", mongo_uri="m", kafka_bootstrap_servers="k",
            pipeline="{not-a-list}",
        )
    with pytest.raises(ValueError, match="BOTH DEDUP_INDEX_PATH"):
        EngineSettings(
            stream_reader_name="x", mongo_uri="m", kafka_bootstrap_servers="k",
            dedup_index_path="/data/lsh",
        )
    with pytest.raises(ValueError, match="ANN_KIND"):
        EngineSettings(
            stream_reader_name="x", mongo_uri="m", kafka_bootstrap_servers="k",
            ann_kind="hnsw",
        )


def test_range_join_bucketed_matches_theta(spark):
    """Bucketed range join: identical rows to the naive theta join,
    but the plan contains an equi-join on the bucket id, not a
    nested-loop/cartesian join."""
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.operators.joins import (
        range_join_bucketed,
    )

    points = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "pid INT, x DOUBLE"
    )
    intervals = spark.createDataFrame(
        [(1, 5.0, 20.0), (2, 17.5, 18.5), (3, 90.0, 200.0), (4, -10.0, -1.0)],
        "iid INT, lo DOUBLE, hi DOUBLE",
    )
    got = range_join_bucketed(points, intervals, "x", "lo", "hi", 10.0)
    naive = points.join(
        intervals, (F.col("x") >= F.col("lo")) & (F.col("x") < F.col("hi"))
    )
    assert {(r["pid"], r["iid"]) for r in got.collect()} == {
        (r["pid"], r["iid"]) for r in naive.collect()
    }
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" in naive_plan or "Cartesian" in naive_plan


def test_main_composed_wiring(spark, monkeypatch, tmp_path):
    """The CLI entry decodes the embedding field out of the
    Extended-JSON document into a typed column and points the composed
    relay at it — without this the ANN store could never run from env
    (the change-event schema has no array column)."""
    import pymongo_change_stream_reader_spark.__main__ as entry
    import pymongo_change_stream_reader_spark.streaming.composed_relay as cr

    captured = {}

    def fake_stream(spark_, uri, **kw):
        return spark_.createDataFrame(
            [],
            "operationType STRING, documentKey STRING, "
            "fullDocument STRING, "
            "clusterTime STRUCT<t:INT,i:INT>, _id STRUCT<_data:STRING>",
        )

    class _Q:
        def awaitTermination(self):
            return None

    def fake_start(events, ckpt, **kw):
        captured["events"] = events
        captured["kw"] = kw
        return _Q()

    monkeypatch.setattr(entry, "mongo_change_stream", fake_stream)
    monkeypatch.setattr(entry, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(cr, "start_composed_relay", fake_start)
    for k, v in {
        "STREAM_READER_NAME": "r1",
        "MONGO_URI": "mongodb://h:27017",
        "KAFKA_BOOTSTRAP_SERVERS": "k:9092",
        "FULL_DOCUMENT": "updateLookup",
        "BM25_INDEX_PATH": str(tmp_path / "bm25"),
        "ANN_INDEX_PATH": str(tmp_path / "ivf"),
        "ANN_VEC_COL": "emb",
    }.items():
        monkeypatch.setenv(k, v)
    entry.main()
    kw = captured["kw"]
    assert kw["ann_vec_col"] == "_ann_vec"
    assert kw["bm25_index_path"] == str(tmp_path / "bm25")
    assert dict(captured["events"].dtypes)["_ann_vec"] == "array<double>"

    # all eight stores, every store setting off its default: the
    # name-based mapping must enable every store and carry every store
    # field of EngineSettings (a field it silently drops fails here)
    import dataclasses
    import json

    from pymongo_change_stream_reader_spark.config import (
        EngineSettings,
        settings_from_env,
    )

    er_fields = [
        {"name": "name", "path": "$.name", "dtype": "string",
         "weight": 1.0, "scorer": "edit"},
    ]
    for k, v in {
        "REPLICA_PATH": str(tmp_path / "replica"),
        "REPLICA_BUCKETS": "8",
        "DEDUP_INDEX_PATH": str(tmp_path / "lsh"),
        "DEDUP_FLAGS_PATH": str(tmp_path / "flags"),
        "ANN_KIND": "ivfpq",
        "ANN_KEY_COL": "vec_key",
        "AGG_VIEW_PATH": str(tmp_path / "agg"),
        "AGG_GROUP_PATH": "$.k",
        "AGG_VALUE_PATH": "$.cents",
        "AGG_VALUE_TYPE": "long",
        "AGG_TRACK_MINMAX": "true",
        "JOIN_VIEW_PATH": str(tmp_path / "join"),
        "JOIN_SIDE_PATH": "$.js",
        "JOIN_FK_PATH": "$.jfk",
        "JOIN_DIM_ID_PATH": "$.jid",
        "JOIN_VIEW_JOIN_TYPE": "left",
        "STAR_VIEW_PATH": str(tmp_path / "star"),
        "STAR_VIEW_DIMS": '[{"side": "a", "fk_path": "$.fka"}]',
        "STAR_SIDE_PATH": "$.ss",
        "STAR_VIEW_JOIN_TYPE": "inner",
        "ER_REGISTRY_PATH": str(tmp_path / "er"),
        "ER_FIELDS": json.dumps(er_fields),
        "ER_ID_PATH": "$.rid",
        "ER_THRESHOLD": "0.7",
        "ER_BLOCK_FIELD": "name",
        "ER_BLOCK_KIND": "word_ngram",
        "ER_BLOCK_PARAM": "2",
        "ER_MAX_BLOCK": "50",
        "ER_ID_MODE": "hashed",
    }.items():
        monkeypatch.setenv(k, v)
    entry.main()
    kw, cfg = captured["kw"], settings_from_env()
    assert all(kw[p] is not None for s in cr.STORES for p in s.paths)
    # the settings __main__ derives instead of passing through by name
    assert kw["n_buckets"] == 8 and kw["ann_vec_col"] == "_ann_vec"
    assert kw["er_field_paths"] == {"name": ("$.name", "string")}
    spec = kw["er_spec"].fingerprint()
    assert (spec["threshold"], spec["max_block_size"], spec["id_mode"],
            spec["block_def"]) == (0.7, 50, "hashed", "word_ngram:2:name")
    derived = {"replica_buckets", "ann_vec_col", "er_fields",
               "er_threshold", "er_block_field", "er_block_kind",
               "er_block_param", "er_max_block", "er_id_mode"}
    prefixes = (
        "replica_", "dedup_", "bm25_", "ann_", "agg_", "join_", "star_",
        "er_",
    )
    for f in dataclasses.fields(EngineSettings):
        if f.name.startswith(prefixes) and f.name not in derived:
            assert f.name in kw, f"{f.name} not passed to the relay"
            assert kw[f.name] == getattr(cfg, f.name), f.name


def test_settings_star_view_env(monkeypatch):
    from pymongo_change_stream_reader_spark.config import settings_from_env

    base = {
        "STREAM_READER_NAME": "r1",
        "MONGO_URI": "mongodb://h:27017",
        "KAFKA_BOOTSTRAP_SERVERS": "k:9092",
    }
    for k, v in {
        **base,
        "STAR_VIEW_PATH": "/data/sview",
        "STAR_VIEW_DIMS": '[{"side": "a", "fk_path": "$.fka"},'
        ' {"side": "b", "fk_path": "$.fkb", "dim_id_path": "$._id"}]',
        "STAR_VIEW_JOIN_TYPE": "inner",
    }.items():
        monkeypatch.setenv(k, v)
    cfg = settings_from_env()
    assert cfg.star_view_path == "/data/sview"
    assert cfg.star_view_dims[1]["dim_id_path"] == "$._id"
    assert cfg.star_join_type == "inner"

    # a path without dims fails fast at config parse
    monkeypatch.delenv("STAR_VIEW_DIMS")
    with pytest.raises(ValueError, match="STAR_VIEW_DIMS"):
        settings_from_env()
    monkeypatch.setenv("STAR_VIEW_DIMS", '[{"side": "a"}]')
    with pytest.raises(ValueError, match="fk_path"):
        settings_from_env()
    # an operator typo like 'dim_id' fails at parse, not as a
    # DimSide(**d) TypeError at first-batch time mid-stream
    monkeypatch.setenv(
        "STAR_VIEW_DIMS",
        '[{"side": "a", "fk_path": "$.fka", "dim_id": "$._id"}]',
    )
    with pytest.raises(ValueError, match="unknown key"):
        settings_from_env()
    # side must be store/column-suffix safe, same regex as the batch
    monkeypatch.setenv(
        "STAR_VIEW_DIMS", '[{"side": "a-b", "fk_path": "$.fka"}]'
    )
    with pytest.raises(ValueError, match="side must match"):
        settings_from_env()


def test_settings_er_registry_env(monkeypatch):
    from pymongo_change_stream_reader_spark.config import settings_from_env

    base = {
        "STREAM_READER_NAME": "r1",
        "MONGO_URI": "mongodb://h:27017",
        "KAFKA_BOOTSTRAP_SERVERS": "k:9092",
        "ER_REGISTRY_PATH": "/data/erreg",
        "ER_FIELDS": '[{"name": "name", "path": "$.name", '
        '"dtype": "string", "weight": 0.6, "scorer": "edit"}]',
        "ER_BLOCK_FIELD": "name",
        "ER_THRESHOLD": "0.75",
        "ER_MAX_BLOCK": "50",
    }
    for k, v in base.items():
        monkeypatch.setenv(k, v)
    cfg = settings_from_env()
    assert cfg.er_registry_path == "/data/erreg"
    assert cfg.er_fields[0]["scorer"] == "edit"
    assert cfg.er_threshold == 0.75 and cfg.er_max_block == 50
    assert cfg.er_block_kind == "token_prefix"

    # the declarative surface fails fast at config parse
    monkeypatch.delenv("ER_BLOCK_FIELD")
    with pytest.raises(ValueError, match="ER_BLOCK_FIELD"):
        settings_from_env()
    monkeypatch.setenv("ER_BLOCK_FIELD", "nope")
    with pytest.raises(ValueError, match="not an ER_FIELDS name"):
        settings_from_env()
    monkeypatch.setenv("ER_BLOCK_FIELD", "name")
    monkeypatch.setenv(
        "ER_FIELDS",
        '[{"name": "name", "path": "$.name", "dtype": "string", '
        '"weight": 0.6, "scorer": "levenshtein"}]',
    )
    with pytest.raises(ValueError, match="scorer"):
        settings_from_env()
    monkeypatch.setenv(
        "ER_FIELDS",
        '[{"name": "name", "path": "$.name", "dtype": "string", '
        '"weight": 0.6}]',
    )
    with pytest.raises(ValueError, match="ER_FIELDS entries"):
        settings_from_env()
    monkeypatch.setenv(
        "ER_FIELDS",
        '[{"name": "name", "path": "$.name", "dtype": "string", '
        '"weight": 0.6, "scorer": "edit"}]',
    )
    monkeypatch.setenv("ER_BLOCK_KIND", "soundex")
    with pytest.raises(ValueError, match="ER_BLOCK_KIND"):
        settings_from_env()
    monkeypatch.setenv("ER_BLOCK_KIND", "token_prefix")
    # id_mode: default integral, hashed accepted, anything else fails
    # fast at config parse (streaming/er_registry.py id_mode surface)
    assert settings_from_env().er_id_mode == "integral"
    monkeypatch.setenv("ER_ID_MODE", "hashed")
    assert settings_from_env().er_id_mode == "hashed"
    monkeypatch.setenv("ER_ID_MODE", "uuid")
    with pytest.raises(ValueError, match="ER_ID_MODE"):
        settings_from_env()
