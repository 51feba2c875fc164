"""Streaming-only semantics (SURVEY §2.C ◐): watermarked windowed
aggregation, session windows, dropDuplicatesWithinWatermark (the A3
token-dedup analog), and the foreachBatch topic-creation cache."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _stream_events(spark, tmp_path, rows):
    """Write rows as a JSON file and open them as a stream."""
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "stream-in"
    src.mkdir(exist_ok=True)
    with open(src / "batch.json", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return spark.readStream.schema(schema).json(str(src))


EVENTS = [
    {"event_id": 1, "ts": "2024-01-01T00:05:00Z", "user_id": 1, "value": 10.0},
    {"event_id": 2, "ts": "2024-01-01T00:20:00Z", "user_id": 1, "value": 5.0},
    {"event_id": 3, "ts": "2024-01-01T01:10:00Z", "user_id": 1, "value": 7.0},
    {"event_id": 4, "ts": "2024-01-01T00:30:00Z", "user_id": 2, "value": 2.0},
]


def test_watermarked_tumbling_window(spark, tmp_path):
    stream = _stream_events(spark, tmp_path, EVENTS)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r["w"]["start"].isoformat(): (r["n"], r["v"])
        for r in spark.sql("SELECT * FROM wm_out").collect()
    }
    assert rows == {
        "2024-01-01T00:00:00": (3, 17.0),
        "2024-01-01T01:00:00": (1, 7.0),
    }


def test_streaming_session_window(spark, tmp_path):
    stream = _stream_events(spark, tmp_path, EVENTS)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r["user_id"], r["w"]["start"].isoformat()): r["n"]
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # user 1: events at 00:05 and 00:20 merge (gap 15m < 30m); 01:10 is
    # a new session (gap 50m)
    assert out == {
        (1, "2024-01-01T00:05:00"): 2,
        (1, "2024-01-01T01:10:00"): 1,
        (2, "2024-01-01T00:30:00"): 1,
    }


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """A3 analog: duplicate resume tokens / event ids are suppressed
    inside the watermark horizon."""
    dup_rows = EVENTS + [
        {"event_id": 1, "ts": "2024-01-01T00:06:00Z", "user_id": 1, "value": 10.0},
        {"event_id": 2, "ts": "2024-01-01T00:21:00Z", "user_id": 1, "value": 5.0},
    ]
    stream = _stream_events(spark, tmp_path, dup_rows)
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ids = sorted(
        r["event_id"] for r in spark.sql("SELECT * FROM dedup_out").collect()
    )
    assert ids == [1, 2, 3, 4]


def test_foreach_batch_topic_cache(monkeypatch):
    """Topic auto-creation caches created topics and treats
    already-exists as success (reference change_event_handler.py:50-58,
    producer.py:58-64) — exercised without a broker via the
    import-gated fallback."""
    from pymongo_change_stream_reader_spark.streaming import kafka_sink

    monkeypatch.setattr(kafka_sink, "_created_topics", set())
    kafka_sink._ensure_topics("host:9092", {"a.b.c", "a.b.d"})
    assert kafka_sink._created_topics == {"a.b.c", "a.b.d"}
    # second call with a superset only needs the delta (cache hit)
    kafka_sink._ensure_topics("host:9092", {"a.b.c", "a.b.e"})
    assert kafka_sink._created_topics == {"a.b.c", "a.b.d", "a.b.e"}


def test_rate_source_smoke(spark, tmp_path):
    """Rate source: the built-in synthetic unbounded source (SURVEY
    §2.C streaming sources) drives the relay-side projection."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", "50").load()
    )
    shaped = stream.select(
        F.col("timestamp").alias("ts"), F.col("value").alias("event_id")
    )
    q = (
        shaped.writeStream.format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", str(tmp_path / "ckr"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.sql("SELECT * FROM rate_out").count() > 0:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert spark.sql("SELECT * FROM rate_out").count() > 0


def test_stateful_window_survives_restart(spark, tmp_path):
    """Stateful streaming recovery: a windowed count restarted from its
    checkpoint resumes with prior state instead of recounting."""
    import json as _json

    from pyspark.sql import functions as F

    src = tmp_path / "win-in"
    src.mkdir()
    schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    def start():
        stream = spark.readStream.schema(schema).json(str(src))
        agg = (
            stream.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        return (
            agg.writeStream.format("memory")
            .queryName("win_restart")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckw"))
            .start()
        )

    write("b0.json", [{"event_id": 1, "ts": "2024-01-01T00:10:00Z", "value": 1.0}])
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # restart with one more event in the same window: state carries
    write("b1.json", [{"event_id": 2, "ts": "2024-01-01T00:20:00Z", "value": 2.0}])
    q2 = start()
    try:
        q2.processAllAvailable()
        out = {
            r["w"]["start"].isoformat(): r["n"]
            for r in spark.sql("SELECT * FROM win_restart").collect()
        }
        assert out == {"2024-01-01T00:00:00": 2}
    finally:
        q2.stop()


def test_new_topic_specs_from_settings():
    """NewTopic specs are built from EngineSettings (reference
    producer.py:43-53), not broker defaults (VERDICT r1: the settings
    argument was accepted but never read)."""
    from pymongo_change_stream_reader_spark.config import EngineSettings
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        _new_topic_specs,
    )

    settings = EngineSettings(
        stream_reader_name="r",
        mongo_uri="mongodb://x",
        kafka_bootstrap_servers="host:9092",
        new_topic_num_partitions=6,
        new_topic_replication_factor=3,
        new_topic_config={"cleanup.policy": "compact"},
    )
    specs = _new_topic_specs({"t.b", "t.a"}, settings)
    assert specs == [
        {
            "topic": "t.a",
            "num_partitions": 6,
            "replication_factor": 3,
            "config": {"cleanup.policy": "compact"},
        },
        {
            "topic": "t.b",
            "num_partitions": 6,
            "replication_factor": 3,
            "config": {"cleanup.policy": "compact"},
        },
    ]
    # no settings -> reference defaults (1 / 1 / {})
    assert _new_topic_specs({"x"})[0] == {
        "topic": "x", "num_partitions": 1, "replication_factor": 1, "config": {},
    }


def test_streaming_near_dup_flags(spark, tmp_path):
    """Stream-static LSH dedup: documents arriving on a stream are
    flagged against a precomputed corpus band index; the planted
    near-duplicate is caught, the novel doc is not."""
    import json

    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.operators.dedup import (
        lsh_band_table,
        streaming_near_dup_candidates,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the tired "
        "hunter watches from the quiet hill near the old river bridge"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "spark shuffles wide joins across the whole cluster"),
        ],
        "doc_id LONG, text STRING",
    )
    index = lsh_band_table(corpus, "text", "doc_id").persist()
    index.count()

    src = tmp_path / "in"
    src.mkdir()
    events = [
        # near-dup of corpus doc 1 (one word appended -> Jaccard ~0.9)
        {"doc_id": 100, "text": base + " today"},
        {"doc_id": 101, "text": "an entirely unrelated sentence about databases"},
    ]
    (src / "b0.json").write_text("\n".join(json.dumps(e) for e in events))
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .json(str(src))
    )
    flags = streaming_near_dup_candidates(stream, index, "text", "doc_id")
    assert flags.isStreaming
    q = (
        flags.writeStream.format("memory")
        .queryName("near_dup_flags")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["stream_doc"], r["corpus_doc"])
        for r in spark.sql(
            "SELECT DISTINCT stream_doc, corpus_doc FROM near_dup_flags"
        ).collect()
    }
    assert (100, 1) in got
    assert all(sd != 101 for sd, _ in got)


def test_parquet_demux_exactly_once_replay(spark, tmp_path):
    """Replayed epochs (same epoch_id) must not double-write: the
    atomic epoch-dir rename is both commit point and replay marker."""
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_parquet_demux,
        read_parquet_demux,
    )

    out = str(tmp_path / "demux")
    batch = spark.createDataFrame(
        [("t.a", "k1", "v1"), ("t.b", "k2", "v2")],
        "topic STRING, key STRING, value STRING",
    )
    write = foreach_batch_parquet_demux(out)
    write(batch, 0)
    write(batch, 0)  # injected replay of the SAME epoch
    got = read_parquet_demux(spark, out)
    assert got.count() == 2  # not 4
    write(batch, 1)  # a NEW epoch appends
    assert read_parquet_demux(spark, out).count() == 4
    assert {r["topic"] for r in got.collect()} == {"t.a", "t.b"}


def test_kafka_epoch_guard_skips_replay(tmp_path, spark):
    """The Kafka foreachBatch path consults the durable epoch log
    before producing: a marked epoch returns without touching the
    (absent) broker, an unmarked one attempts the produce and fails —
    proving the guard is what suppressed the write."""
    import pytest as _pytest

    from pymongo_change_stream_reader_spark.storage import commit_epoch
    from pymongo_change_stream_reader_spark.streaming.job import RelaySettings
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_kafka_with_topics,
    )

    settings = RelaySettings(
        stream_reader_name="eo-guard", checkpoint_dir=str(tmp_path / "ckpt")
    )
    import os

    marker_dir = os.path.join(settings.checkpoint_location, "epoch_log")
    commit_epoch(marker_dir, 7)
    batch = spark.createDataFrame(
        [("t.a", "k", "v")], "topic STRING, key STRING, value STRING"
    )
    write = foreach_batch_kafka_with_topics("localhost:1", settings)
    write(batch, 7)  # committed epoch: skipped, no broker needed
    with _pytest.raises(Exception):
        write(batch, 8)  # uncommitted epoch: tries to produce, no broker


def test_demux_restart_replay_no_duplicates(spark, tmp_path):
    """End-to-end exactly-once contract of the demux sink, both sides
    of the checkpoint boundary:

    - SAME checkpoint, query restarted: already-published epochs are
      skipped (the epoch marker is query-id-scoped) — no duplicates.
    - Checkpoint WIPED: epoch ids restart under a NEW query id, so
      everything re-delivers (honest at-least-once) — crucially, new
      rows that arrived before the wipe are NOT silently skipped just
      because their epoch number collides with an old epoch's (the
      at-most-once data-loss hole the query-id scope closes)."""
    import shutil as _shutil

    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import (
        RelaySettings,
        build_relay,
    )
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_parquet_demux,
        read_parquet_demux,
    )

    src = tmp_path / "in"
    src.mkdir()
    _shutil.copy("tests/fixtures/change_events.jsonl", src / "batch0.json")
    out = str(tmp_path / "demux")
    ckpt = str(tmp_path / "ckpt")
    settings = RelaySettings(stream_reader_name="eo-e2e", kafka_prefix="test")

    def run_once():
        q = (
            build_relay(stream_change_events_json(spark, str(src)), settings)
            .writeStream.foreachBatch(
                foreach_batch_parquet_demux(out, ckpt)
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    assert read_parquet_demux(spark, out).count() == 7
    run_once()  # same checkpoint: nothing new, nothing re-published
    assert read_parquet_demux(spark, out).count() == 7

    # checkpoint loss + NEW data: the old behavior (epoch-number-only
    # markers) would skip the replayed epoch 0 and LOSE the new rows
    _shutil.copy("tests/fixtures/change_events.jsonl", src / "batch1.json")
    _shutil.rmtree(ckpt)
    run_once()
    # old 7 + full re-delivery of both files under the new query id
    assert read_parquet_demux(spark, out).count() == 7 + 14


def test_demux_multi_topic_mid_batch_crash_no_partial_topic(
    spark, tmp_path, monkeypatch
):
    """r3 verdict ask #7: multi-topic demux under an injected MID-BATCH
    crash.  Two fault points:

    1. crash AFTER the staging write, BEFORE the publish rename — the
       reader must see none of the epoch's topics (a partial topic
       directory never becomes visible: staging dirs are invisible by
       construction);
    2. a stale partial staging dir left by an earlier crash (one topic
       written, one truncated file) — the replay must clobber it and
       publish ALL topics exactly once.

    After the retry, per-topic counts are exact, no duplicates, and no
    .staging residue remains."""
    import os as _os
    import shutil as _shutil

    import pytest

    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_parquet_demux,
        read_parquet_demux,
    )

    out = str(tmp_path / "demux")
    batch = spark.createDataFrame(
        [
            ("t.a", "k1", "v1"),
            ("t.a", "k2", "v2"),
            ("t.b", "k3", "v3"),
            ("t.c", "k4", "v4"),
        ],
        "topic STRING, key STRING, value STRING",
    )
    write = foreach_batch_parquet_demux(out)

    # fault point 1: crash between staging write and publish rename
    real_rename = _os.rename

    def crash_rename(src, dst):
        raise OSError("injected crash before publish")

    monkeypatch.setattr(_os, "rename", crash_rename)
    with pytest.raises(OSError, match="injected"):
        write(batch, 0)
    monkeypatch.setattr(_os, "rename", real_rename)
    # nothing published: the reader sees NO epoch (not a partial one)
    with pytest.raises(FileNotFoundError):
        read_parquet_demux(spark, out)
    staging = [d for d in _os.listdir(out) if d.endswith(".staging")]
    assert staging, "crash must leave only an invisible staging dir"

    # fault point 2: corrupt the leftover staging (truncate one topic,
    # drop another) to simulate a crash MID-write, then replay
    sdir = _os.path.join(out, staging[0])
    tdirs = [d for d in _os.listdir(sdir) if d.startswith("topic=")]
    _shutil.rmtree(_os.path.join(sdir, tdirs[0]))
    write(batch, 0)  # replay of the SAME epoch
    got = read_parquet_demux(spark, out)
    per_topic = {
        r["topic"]: r["n"]
        for r in got.groupBy("topic").agg(F.count("*").alias("n")).collect()
    }
    assert per_topic == {"t.a": 2, "t.b": 1, "t.c": 1}
    assert not [d for d in _os.listdir(out) if d.endswith(".staging")]
    # and a further replay of the published epoch is a no-op
    write(batch, 0)
    assert read_parquet_demux(spark, out).count() == 4


def test_demux_read_jobs_do_not_grow_with_epochs(spark, tmp_path):
    """The reader scans every published epoch at once: its Spark job
    count is the same over 40 and 400 epochs, and the rows scale."""
    import shutil as _shutil

    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_parquet_demux,
        read_parquet_demux,
    )

    seed = str(tmp_path / "seed")
    batch = spark.createDataFrame(
        [("t.a", "k1", "v1"), ("t.b", "k2", "v2"), ("t.b", "k3", "v3")],
        "topic STRING, key STRING, value STRING",
    )
    foreach_batch_parquet_demux(seed)(batch, 0)
    (epoch,) = os.listdir(seed)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for n in (40, 400):
        out = tmp_path / f"demux-{n}"
        for i in range(n):
            _shutil.copytree(os.path.join(seed, epoch), out / f"epoch-{i:020d}")
        j0 = sched.nextJobId()
        assert read_parquet_demux(spark, str(out)).count() == 3 * n
        jobs[n] = sched.nextJobId() - j0
    assert jobs[40] == jobs[400] <= 4, jobs


def test_demux_topics_read_back_exactly(spark, tmp_path):
    """Topic names Spark escapes in dir names (and the file path
    URI-encodes again) come back byte-equal, a null topic comes back
    null, and an all-numeric topic stays a STRING instead of an
    inferred int."""
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_parquet_demux,
        read_parquet_demux,
    )

    out = str(tmp_path / "demux")
    write = foreach_batch_parquet_demux(out)
    topics = ["a:b", "p%q", "x y", "t+u", None]
    write(
        spark.createDataFrame(
            [(t, f"k{i}", "v") for i, t in enumerate(topics)],
            "topic STRING, key STRING, value STRING",
        ),
        0,
    )
    got = read_parquet_demux(spark, out)
    assert got.columns == ["key", "value", "topic"]
    assert {r["key"]: r["topic"] for r in got.collect()} == {
        f"k{i}": t for i, t in enumerate(topics)
    }

    numeric = str(tmp_path / "numeric")
    foreach_batch_parquet_demux(numeric)(
        spark.createDataFrame(
            [("123", "k", "v")], "topic STRING, key STRING, value STRING"
        ),
        0,
    )
    got = read_parquet_demux(spark, numeric)
    assert dict(got.dtypes)["topic"] == "string"
    assert [r["topic"] for r in got.collect()] == ["123"]


def test_demux_staging_dir_is_never_read(spark, tmp_path):
    """A ``.staging`` dir that holds parquet (a crash leftover, in the
    layout a publish would have renamed) is invisible to the reader."""
    import shutil as _shutil

    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_parquet_demux,
        read_parquet_demux,
    )

    out = str(tmp_path / "demux")
    batch = spark.createDataFrame(
        [("t.a", "k1", "v1"), ("t.b", "k2", "v2")],
        "topic STRING, key STRING, value STRING",
    )
    foreach_batch_parquet_demux(out)(batch, 0)
    (epoch,) = os.listdir(out)
    _shutil.copytree(
        os.path.join(out, epoch), os.path.join(out, f"epoch-{1:020d}.staging")
    )
    assert read_parquet_demux(spark, out).count() == 2


def test_demux_empty_epoch_publishes_nothing(spark, tmp_path):
    """A zero-row epoch leaves neither a published nor a staging dir,
    and the next epoch publishes and reads back."""
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_parquet_demux,
        read_parquet_demux,
    )

    out = str(tmp_path / "demux")
    write = foreach_batch_parquet_demux(out)
    batch = spark.createDataFrame(
        [("t.a", "k1", "v1"), ("t.b", "k2", "v2")],
        "topic STRING, key STRING, value STRING",
    )
    write(batch.limit(0), 0)
    assert not os.path.exists(out) or os.listdir(out) == []
    write(batch, 1)
    assert len(os.listdir(out)) == 1
    got = read_parquet_demux(spark, out)
    assert sorted((r["topic"], r["key"]) for r in got.collect()) == [
        ("t.a", "k1"),
        ("t.b", "k2"),
    ]


def test_kafka_empty_batch_marks_nothing(tmp_path, spark):
    """An empty batch at an unmarked epoch returns before the produce
    (no broker is reachable) and writes no epoch marker."""
    from pymongo_change_stream_reader_spark.storage import epoch_committed
    from pymongo_change_stream_reader_spark.streaming.job import RelaySettings
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        foreach_batch_kafka_with_topics,
    )

    settings = RelaySettings(
        stream_reader_name="eo-empty", checkpoint_dir=str(tmp_path / "ckpt")
    )
    empty = spark.createDataFrame([], "topic STRING, key STRING, value STRING")
    foreach_batch_kafka_with_topics("localhost:1", settings)(empty, 3)
    marker_dir = os.path.join(settings.checkpoint_location, "epoch_log")
    assert not epoch_committed(marker_dir, 3)


def test_streaming_metrics_recorder(spark, tmp_path):
    """r4: per-batch progress persists through the listener and reads
    back as a DataFrame — relay throughput is queryable after the
    fact (the reference's Prometheus counters, Spark-native)."""
    import shutil as _shutil
    import time as _time

    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import (
        RelaySettings,
        start_memory_relay,
    )
    from pymongo_change_stream_reader_spark.streaming.metrics import (
        attach_metrics_recorder,
        read_streaming_metrics,
    )

    src = tmp_path / "in"
    src.mkdir()
    _shutil.copy("tests/fixtures/change_events.jsonl", src / "b0.json")
    mpath = str(tmp_path / "metrics.jsonl")
    rec = attach_metrics_recorder(spark, mpath)
    try:
        settings = RelaySettings(
            stream_reader_name="metrics-e2e",
            kafka_prefix="m",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q = start_memory_relay(
            stream_change_events_json(spark, str(src)),
            settings,
            "metrics_out",
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(30)
        # listener events deliver asynchronously — poll briefly
        deadline = _time.time() + 30
        rows = []
        while _time.time() < deadline:
            m = read_streaming_metrics(spark, mpath)
            if m is not None:
                rows = (
                    m.filter("event = 'progress' AND numInputRows > 0")
                    .collect()
                )
                if rows:
                    break
            _time.sleep(0.5)
        assert rows, "no progress rows recorded"
        assert sum(int(r["numInputRows"]) for r in rows) >= 7
        assert all(r["id"] for r in rows)
    finally:
        spark.streams.removeListener(rec)
