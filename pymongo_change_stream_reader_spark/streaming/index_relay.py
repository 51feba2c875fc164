"""Online BM25 serving-index maintenance from the change stream — the
lexical-retrieval sibling of the streaming LSH dedup consumer
(streaming/dedup_relay.py): each micro-batch's document changes fold
into the stored BM25 index, so the ingest-once/query-many serving
contract holds for a corpus that never stops CHANGING — inserts,
updates, replaces, and deletes, the reference's full per-event loop
(reference change_handler.py:11,43-48), not inserts alone.

Per micro-batch:

1. reduce the batch to its FINAL EFFECT per key — upsert with the
   last document text, or delete if the last event is a delete (the
   LWW triple reduction shared with the replica materializer);
2. if the index does not exist yet, build it from the batch's upserts
   (write_bm25_index); otherwise apply changes through the
   generation-tagged LSM path (_bm25_apply_locked): new ids append at
   gen 0, updated ids tombstone their live generation and re-ingest
   under the next one, deletes tombstone only — scores afterwards
   equal a from-scratch rebuild over the live corpus;
3. the composed relay's epoch marker (streaming/composed_relay.py)
   guards replays: a redelivered batch cannot double-apply, and a crashed
   half-applied batch rolls back via the append journal BEFORE the
   replay re-applies (both the journal check and the recovery run
   INSIDE the index write lock — a pre-lock check could pass, block,
   and wake over a newer holder's crashed state).

Scale: per batch, tokenize cost = the batch; the only index-sized
reads are the doclen id/gen columns (live-generation lookup) — the
corpus is never re-tokenized.  Tombstone growth is bounded by
compact_bm25_index, which purges dead generations and clears the set.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.maintenance import (
    bm25_lock,
)
from pymongo_change_stream_reader_spark.operators.retrieval import (
    _bm25_apply_locked,
    _recover_bm25_append_locked,
    write_bm25_index,
)
from pymongo_change_stream_reader_spark.storage import require_local_path

logger = logging.getLogger(__name__)

_DATA_OPS = ("insert", "update", "replace", "delete")


def _last_effect_per_key(batch: DataFrame, text_col: str, key_col: str):
    """One (doc, op, text) row per key: the batch's FINAL effect by the
    LWW triple (clusterTime.t, clusterTime.i, _id._data) — delete if
    the last event is a delete, else upsert with the last text.  The
    same reduction the replica materializer uses, so the index always
    converges to the LIVE document set under any batch replay.

    Non-delete events without a post-image are dropped before the
    reduction (can't index what we can't see — run the stream with
    fullDocument=updateLookup).  Frames without the change-event
    columns (direct batch use) fall back to ordering on the text
    itself — still deterministic, just not time-ordered."""
    cols = set(batch.columns)
    if {"clusterTime", "_id"} <= cols:
        order = F.struct(
            F.col("clusterTime.t"), F.col("clusterTime.i"), F.col("_id._data")
        )
    else:
        order = F.struct(F.col(text_col))
    payload = F.struct(
        F.col("operationType").alias("op"), F.col(text_col).alias("text")
    )
    return (
        batch.filter(F.col("operationType").isin(*_DATA_OPS))
        .filter(
            (F.col("operationType") == "delete")
            | F.col(text_col).isNotNull()
        )
        .groupBy(F.col(key_col).alias("doc"))
        .agg(F.max_by(payload, order).alias("p"))
        .select("doc", F.col("p.op").alias("op"), F.col("p.text").alias("text"))
    )


def bm25_ingest_batch(
    batch: DataFrame,
    index_path: str,
    text_col: str = "fullDocument",
    key_col: str = "documentKey",
) -> dict:
    """Fold one batch of change events into the stored BM25 index.
    Returns ``{"upserted": n, "tombstoned": m}``."""
    require_local_path(index_path, "index_path")
    effects = _last_effect_per_key(batch, text_col, key_col).localCheckpoint(
        eager=False  # split two ways + aggregated below; first
        # consumer materializes
    )
    upserts = effects.filter(F.col("op") != "delete").select(
        F.col("doc").alias("doc_id"), F.col("text")
    )
    deletes = effects.filter(F.col("op") == "delete").select(
        F.col("doc").alias("doc_id")
    )
    spark = batch.sparkSession
    if not os.path.exists(os.path.join(index_path, "_consts.json")):
        # deletes against an index that doesn't exist yet are no-ops
        n = upserts.count()
        if n:
            write_bm25_index(upserts, index_path, "text", "doc_id")
        return {"upserted": int(n), "tombstoned": 0}
    with bm25_lock(index_path):
        # a crashed previous apply rolls back here, INSIDE the lock:
        # its epoch never committed, so this batch IS the replay and
        # must see the exact pre-crash index state
        if _recover_bm25_append_locked(index_path):
            logger.warning(
                "bm25 index at %s: rolled back a crashed apply before "
                "re-applying the replayed batch",
                index_path,
            )
        return _bm25_apply_locked(
            spark, index_path, upserts, deletes, "text", "doc_id"
        )
