"""Online ANN serving-index maintenance from the change stream — the
vector-retrieval sibling of the BM25 relay (streaming/index_relay.py):
each micro-batch's document changes fold into the stored ANN index
(``kind="ivf"`` float cells, or ``kind="ivfpq"`` — the compressed
composed layout that is the 100 TB serving shape), so similarity
serving stays current for a corpus that never stops CHANGING —
inserts, updates, replaces, and deletes, the reference's full
per-event loop (reference change_handler.py:11,43-48).

Per micro-batch:

1. reduce the batch to its FINAL EFFECT per key — upsert with the last
   embedding, or delete if the last event is a delete (the LWW triple
   reduction shared with the replica materializer and BM25 relay);
2. apply through the journaled IVF batch path (_ivf_apply_locked):
   deletes tombstone the live generation, new ids assign to their
   nearest FROZEN centroid at gen 0, updated ids tombstone + re-assign
   under the next generation — serving results afterwards equal a
   frozen-quantizer rebuild over the live vectors, and the whole batch
   is ONE journal span (a crash rolls all of it back together);
3. the composed relay's epoch marker (streaming/composed_relay.py)
   guards replays, and a crashed half-applied batch rolls back via the append
   journal INSIDE the index write lock before the replay re-applies.

The index must be BOOTSTRAPPED from a corpus snapshot
(write_ivf_index) before the relay starts: the quantizer trains once
on representative data and stays frozen on the ingest path — training
centroids on whatever the first micro-batch happens to contain would
freeze a non-representative model (centroid drift is a periodic
retrain + rebuild concern, same as the reference's resume-from-token
bootstrap split, reference run.py).

Scale: per batch, assignment cost = |batch| x nlist broadcast-compare;
the only index-sized reads are the (id, gen) columns.  Tombstone
growth is bounded by compact_ivf_index, which purges dead generations
and clears the sidecar.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.maintenance import (
    IndexWriteLock,
)
from pymongo_change_stream_reader_spark.operators.similarity import (
    _ann_code_apply_locked,
    _ivf_apply_locked,
    _ivfpq_encode,
    _recover_ann_append_locked,
)

from pymongo_change_stream_reader_spark.storage import require_local_path
from pymongo_change_stream_reader_spark.streaming.index_relay import (
    _last_effect_per_key,
)

logger = logging.getLogger(__name__)

# per-kind model sidecar: what the bootstrap check looks for, and (for
# the PQ-family kinds) what _ann_code_apply_locked parses
_KINDS = {
    "ivf": "_centroids.json",
    "ivfpq": "_model.json",
}


def _require_kind(kind: str, op: str) -> None:
    if kind not in _KINDS:
        raise ValueError(
            f"{op}: unknown kind {kind!r} (one of {sorted(_KINDS)})"
        )


def ann_ingest_batch(
    batch: DataFrame,
    index_path: str,
    vec_col: str = "embedding",
    key_col: str = "documentKey",
    kind: str = "ivf",
) -> dict:
    """Fold one batch of change events into the stored ANN index —
    ``kind="ivf"`` (float vectors, cell-partitioned) or
    ``kind="ivfpq"`` (the compressed composed layout, the 100 TB
    serving shape: frozen coarse quantizer + frozen codebooks).
    Returns ``{"upserted": n, "tombstoned": m}``."""
    require_local_path(index_path, "index_path")
    _require_kind(kind, "ann_ingest_batch")
    # the same LWW reduction as the BM25 relay, over the embedding
    # column (max_by orders on the event's cluster time, not the value)
    effects = _last_effect_per_key(batch, vec_col, key_col).localCheckpoint(
        eager=False  # split two ways below; first consumer materializes
    )
    upserts = effects.filter(F.col("op") != "delete").select(
        F.col("doc").alias("vec_id"), F.col("text").alias("embedding")
    )
    deletes = effects.filter(F.col("op") == "delete").select(
        F.col("doc").alias("vec_id")
    )
    spark = batch.sparkSession
    with IndexWriteLock(index_path.rstrip("/") + ".writelock"):
        # bootstrap check INSIDE the lock: during a compaction's swap
        # window the index dir is briefly absent, and an unlocked
        # existence check would kill the stream with a misleading
        # "bootstrap it first" error (same rule as append_ivf_index's
        # in-lock sidecar read)
        sidecar = _KINDS[kind]
        if not os.path.exists(os.path.join(index_path, sidecar)):
            raise RuntimeError(
                f"no {kind} index at {index_path!r} — bootstrap it from a "
                "corpus snapshot (write_ivf_index / write_ivfpq_index) "
                "before starting the relay (training the quantizer on a "
                "first micro-batch would freeze a model from a "
                "non-representative sample)"
            )
        # a crashed previous apply rolls back here, INSIDE the lock:
        # its epoch never committed, so this batch IS the replay and
        # must see the exact pre-crash index state
        if _recover_ann_append_locked(index_path):
            logger.warning(
                "%s index at %s: rolled back a crashed apply before "
                "re-applying the replayed batch",
                kind,
                index_path,
            )
        # the upserts frame passes through even when EMPTY: the fused
        # apply probe (_ann_apply_batch_locked) resolves emptiness in
        # its one discovery job, so no dedicated isEmpty() job runs
        # per batch — it was a measurable slice of the per-batch
        # floor; the model parse it used to skip is a driver-side
        # json read (r12)
        if kind == "ivf":
            return _ivf_apply_locked(
                spark, index_path, upserts, deletes, "vec_id", "embedding"
            )
        return _ann_code_apply_locked(
            spark,
            index_path,
            upserts,
            deletes,
            "vec_id",
            "ann_relay_ivfpq",
            sidecar,
            lambda nv, model: _ivfpq_encode(
                nv, model["centroids"], model["codebooks"], "vec_id",
                "embedding",
            ),
            partition_by="cell",
        )
