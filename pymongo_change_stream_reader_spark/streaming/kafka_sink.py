"""Kafka sink with dynamic topic auto-creation (SURVEY §4 custom #2).

Topic creation is the one sink-side behavior Spark's Kafka sink lacks
(reference: change_event_handler.py:50-58 caches created topics;
producer.py:43-64 tolerates TOPIC_ALREADY_EXISTS error 36).  We
reproduce it inside ``foreachBatch``: collect the batch's distinct
topics (tiny — one per collection), create the missing ones via
AdminClient with an in-process cache, then hand the batch to the
regular Kafka writer.

``confluent_kafka`` is not bundled in this environment — the import
is gated and the admin step becomes a no-op with a warning, keeping
the Spark-side plumbing real and testable.
"""

from __future__ import annotations

import logging
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.storage import (
    commit_epoch,
    dir_has_parquet,
    epoch_committed,
    epoch_marker,
    query_id,
    require_local_path,
)

logger = logging.getLogger(__name__)

# Spark's partition dir prefix of the demux column, and the dir value
# it writes for a null (or empty) topic.
_TOPIC_DIR = "topic="
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"

# Process-wide cache of topics known to exist (mirrors the reference's
# ChangeEventHandler._created_topics, change_event_handler.py:29,38-42).
_created_topics: set[str] = set()


def _new_topic_specs(topics: set[str], settings=None) -> list[dict]:
    """NewTopic constructor kwargs for each missing topic, taken from
    ``EngineSettings`` exactly as the reference builds them
    (producer.py:43-53: num_partitions / replication_factor / config
    from NewTopicConfiguration).  Pure + lib-free so the spec wiring is
    unit-testable without a broker."""
    return [
        {
            "topic": t,
            "num_partitions": getattr(settings, "new_topic_num_partitions", 1),
            "replication_factor": getattr(
                settings, "new_topic_replication_factor", 1
            ),
            "config": dict(getattr(settings, "new_topic_config", {}) or {}),
        }
        for t in sorted(topics)
    ]


def _ensure_topics(bootstrap_servers: str, topics: set[str], settings=None) -> None:
    missing = topics - _created_topics
    if not missing:
        return
    specs = _new_topic_specs(missing, settings)
    try:
        from confluent_kafka.admin import AdminClient, NewTopic
    except ImportError:  # pragma: no cover - lib not bundled here
        logger.warning(
            "confluent_kafka unavailable; relying on broker "
            "auto.create.topics.enable for %s", sorted(missing)
        )
        _created_topics.update(missing)
        return
    admin = AdminClient({"bootstrap.servers": bootstrap_servers})
    futures = admin.create_topics([NewTopic(**spec) for spec in specs])
    for topic_name, fut in futures.items():
        try:
            fut.result()
        except Exception as exc:
            # TOPIC_ALREADY_EXISTS (36) is success for our purposes
            # (reference: producer.py:58-64).
            if "TOPIC_ALREADY_EXISTS" not in str(exc):
                raise
        _created_topics.add(topic_name)


def foreach_batch_kafka_with_topics(
    bootstrap_servers: str, settings
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: create missing topics, then write the batch
    through the regular Kafka batch writer (idempotent producer).

    Exactly-once upgrade over the reference's at-least-once contract
    (SURVEY §3.3): Structured Streaming re-invokes foreachBatch with
    the SAME epoch_id when a failed/restarted batch is replayed, and
    epoch_id is the documented dedup key.  A durable per-epoch marker
    (under the query's checkpoint dir) short-circuits replayed epochs
    so they cannot double-produce.  The one remaining at-least-once
    window — a crash BETWEEN the produce and the marker write — is
    inherent to any non-transactional sink; the parquet demux flavor
    below closes even that (its rename IS the marker).

    Scale: the distinct-topic collect is bounded by collection count,
    not row count; the write itself stays fully distributed.  That
    collect is also the batch's emptiness test: a batch without topics
    returns before any produce or marker."""
    require_local_path(settings.checkpoint_location, "checkpoint_location")
    marker_dir = os.path.join(settings.checkpoint_location, "epoch_log")

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        qid = query_id(settings.checkpoint_location)
        if epoch_committed(marker_dir, epoch_id, qid):
            logger.info("epoch %s already produced; skipping replay", epoch_id)
            return
        topics = {r["topic"] for r in batch.select("topic").distinct().collect()}
        if not topics:  # an empty batch: nothing to produce, nothing to mark
            return
        _ensure_topics(bootstrap_servers, topics, settings)
        (
            batch.selectExpr(
                "topic", "CAST(key AS BINARY) AS key", "CAST(value AS BINARY) AS value"
            )
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("kafka.enable.idempotence", "true")
            .save()
        )
        commit_epoch(marker_dir, epoch_id, qid)

    return write_batch


def foreach_batch_parquet_demux(
    out_dir: str, checkpoint_location: str | None = None
) -> Callable[[DataFrame, int], None]:
    """File flavor of the dynamic-topic sink (reference
    tests/test_file_writer/): one parquet partition per topic,
    EXACTLY-ONCE under replay within a checkpoint lifetime.

    Each epoch writes to a ``<epoch>.staging`` dir, then a single
    atomic rename publishes the epoch — the rename is both the commit
    point and the replay marker, so no crash point can double-write:
    before the rename a replay overwrites the staging dir; after it,
    the replay sees the published epoch and skips.  The write is the
    epoch's one Spark job: a zero-row batch leaves a staging dir with
    no ``topic=`` dir, which is removed instead of published.  Pass
    ``checkpoint_location`` so epochs are scoped by the streaming
    query id: epoch ids are only unique per checkpoint, and without
    the scope a NEW query (checkpoint lost/reset) would silently SKIP
    batches that collide with old epoch numbers — at-most-once loss.
    With it, checkpoint loss re-delivers (honest at-least-once across
    that boundary).  ``read_parquet_demux`` reads every published
    epoch in one scan."""
    require_local_path(out_dir, "demux out_dir")

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        final = epoch_marker(out_dir, epoch_id, query_id(checkpoint_location))
        if os.path.exists(final):
            logger.info("epoch %s already published; skipping replay", epoch_id)
            return
        staging = final + ".staging"
        if os.path.exists(staging):  # crash leftover from a prior try
            shutil.rmtree(staging)
        batch.write.mode("overwrite").partitionBy("topic").parquet(staging)
        if any(d.startswith(_TOPIC_DIR) for d in os.listdir(staging)):
            os.rename(staging, final)
        else:  # zero rows: the write left only _SUCCESS, nothing to publish
            shutil.rmtree(staging)

    return write_batch


def read_parquet_demux(spark, out_dir: str) -> DataFrame:
    """Every PUBLISHED epoch of a parquet-demux sink as one scan:
    columns are the written ones, then ``topic`` (STRING).

    The driver lists the published ``epoch-*`` dirs (staging dirs are
    excluded by name) and hands them all to one recursive file read,
    so the read's Spark jobs do not grow with the epoch count.  A
    recursive read infers no partition column, so ``topic`` comes back
    from each file's ``topic=<escaped>`` dir: the driver maps each
    listed dir name, as the file path column spells it (URI-encoded on
    top of Spark's path escaping), to Spark's unescaped value."""
    epochs, names = [], set()
    for e in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, e)
        published = e.startswith("epoch-") and not e.endswith(".staging")
        if published and dir_has_parquet(path):
            epochs.append(path)
            names.update(d for d in os.listdir(path) if d.startswith(_TOPIC_DIR))
    if not epochs:
        raise FileNotFoundError(f"no published epochs under {out_dir}")
    jvm = spark._jvm
    catalog_utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    topic_of = {}
    for d in names:
        value = d[len(_TOPIC_DIR):]
        spelled = jvm.org.apache.hadoop.fs.Path("/" + d).toUri().getRawPath()[1:]
        topic_of[spelled] = (
            None if value == _NULL_PARTITION else catalog_utils.unescapePathName(value)
        )
    lookup = F.create_map(*(F.lit(x) for kv in topic_of.items() for x in kv))
    dir_name = F.regexp_extract(F.col("_metadata.file_path"), r"/([^/]*)/[^/]*$", 1)
    df = spark.read.option("recursiveFileLookup", "true").parquet(*epochs)
    return df.withColumn("topic", lookup[dir_name].cast("string"))
