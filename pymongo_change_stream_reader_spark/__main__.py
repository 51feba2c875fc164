"""Run the CDC relay: ``python -m pymongo_change_stream_reader_spark``.

The reference's entry point builds Settings() from env and runs the
manager topology (reference main.py:5-8); here the same env surface
builds one Structured Streaming query and awaits it.
"""

from __future__ import annotations

from pymongo_change_stream_reader_spark.config import settings_from_env
from pymongo_change_stream_reader_spark.session import get_spark
from pymongo_change_stream_reader_spark.sources.change_events import (
    mongo_change_stream,
)
from pymongo_change_stream_reader_spark.streaming.job import (
    RelaySettings,
    start_kafka_relay,
)


def main() -> None:
    cfg = settings_from_env()
    spark = get_spark(app_name=cfg.stream_reader_name)
    events = mongo_change_stream(
        spark,
        cfg.mongo_uri,
        database=cfg.database,
        collection=cfg.collection,
        pipeline=cfg.pipeline,
        full_document=cfg.full_document,
        full_document_before_change=cfg.full_document_before_change,
    )
    relay = RelaySettings(
        stream_reader_name=cfg.stream_reader_name,
        kafka_prefix=cfg.kafka_prefix,
        producers_count=cfg.producers_count,
        commit_interval_s=float(cfg.commit_interval),
        checkpoint_dir=cfg.checkpoint_dir,
        # pipeline stays None here: mongo_change_stream pushed it down
        # server-side above.  Relays over non-pushdown sources (custom
        # DataSource / Kafka / file) must set RelaySettings.pipeline so
        # build_relay applies the translated pipeline (watch.py:79).
    )
    from pymongo_change_stream_reader_spark.streaming import (
        composed_relay as cr,
    )

    # the config fields carry the composed relay's keyword names
    stores = {k: getattr(cfg, k) for k in cr.DEFAULTS if hasattr(cfg, k)}
    if any(
        stores[p] is not None
        for s in cr.STORES
        if s.name != "replica"
        for p in s.paths
    ):
        # engine extension: any non-replica store path switches the
        # entry point to the single-pass composed relay — every
        # enabled store maintained from ONE source read per micro-batch
        import logging

        from pyspark.sql import functions as F

        if cfg.full_document != "updateLookup":
            # the indexing relays fold each event's POST-image; without
            # updateLookup (or collection-level post-images), updates
            # arrive with fullDocument=null and are silently dropped
            # from the indexes — index_relay._last_effect_per_key.
            # The REPLICA is exempt: it applies updateDescription
            # deltas to the stored document (streaming/materialize.py)
            logging.getLogger(__name__).warning(
                "index stores enabled with FULL_DOCUMENT=%r — updates "
                "without a post-image cannot be INDEXED (the replica "
                "still applies their updateDescription deltas); set "
                "FULL_DOCUMENT=updateLookup (or enable collection "
                "pre/post images) or the serving indexes go stale on "
                "every update",
                cfg.full_document,
            )
        stores["n_buckets"] = cfg.replica_buckets
        if cfg.ann_index_path is not None:
            # the embedding rides INSIDE the Extended-JSON document
            # string; decode the ANN_VEC_COL field into a typed column
            # for the relay (the key stays the documentKey string
            # unless ANN_KEY_COL points at a derived column — the id
            # type must match the bootstrapped index's)
            stores["ann_vec_col"] = "_ann_vec"
            events = events.withColumn(
                "_ann_vec",
                F.from_json(
                    F.get_json_object(
                        F.col("fullDocument"), f"$.{cfg.ann_vec_col}"
                    ),
                    "array<double>",
                ),
            )
        if cfg.er_registry_path is not None:
            from pymongo_change_stream_reader_spark.streaming.er_registry import (
                er_spec_from_config,
            )

            stores["er_spec"], stores["er_field_paths"] = er_spec_from_config(
                cfg.er_fields,
                cfg.er_threshold,
                cfg.er_block_field,
                block_kind=cfg.er_block_kind,
                block_param=cfg.er_block_param,
                max_block_size=cfg.er_max_block,
                id_mode=cfg.er_id_mode,
            )
        query = cr.start_composed_relay(
            events,
            cfg.checkpoint_location,
            trigger_interval=f"{cfg.commit_interval} seconds",
            **stores,
        )
    elif cfg.replica_path:
        # engine extension: REPLICA_PATH switches the sink to replica
        # maintenance (a queryable parquet mirror of the collection)
        from pymongo_change_stream_reader_spark.streaming.job import (
            start_replica_relay,
        )

        query = start_replica_relay(
            events, relay, cfg.replica_path, n_buckets=cfg.replica_buckets
        )
    else:
        query = start_kafka_relay(
            events, relay, cfg.kafka_bootstrap_servers, create_topics=True
        )
    query.awaitTermination()


if __name__ == "__main__":
    main()
