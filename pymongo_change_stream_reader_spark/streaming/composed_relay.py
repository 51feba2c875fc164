"""Single-pass composed relay: every store in ONE foreachBatch consumer.

The reference runs ONE change-stream cursor and hands each event to
every consumer in-process (reference process_manager.py,
change_handler.py); this is that topology on Structured Streaming.
Each micro-batch is read once, pinned with a localCheckpoint, and fanned
out to every enabled store.  The stores are declared once, in
``STORES``; both entry points take every keyword, default and start
check from that table.  Each store is exactly-once under replay by one
of three protocols:

- ``lww``: the replica's LWW merge is idempotent — a replay is a no-op;
- ``marker``: dedup, BM25 and ANN each keep a query-id-scoped epoch
  marker at ``<name>_epoch_log`` (storage.commit_epoch), so a crash
  between two stores' commits replays only the missing store;
- ``pointer``: the views and the ER registry keep their own epoch
  pointer + persisted deltas; their batch function returns False for a
  replayed epoch.

The stores touch independent directories under independent locks, so
their applies overlap from a driver thread pool (``max_parallel_stores``,
default 4) — each is mostly blocked on small driver-bound jobs.  Replay
correctness never depends on apply order; ``max_parallel_stores=1``
applies strictly in table order (deterministic kill-point testing).
"""

from __future__ import annotations

import logging
import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from threading import Lock
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame

from pymongo_change_stream_reader_spark.storage import (
    commit_epoch,
    epoch_committed,
    query_id,
    require_local_path,
)
from pymongo_change_stream_reader_spark.streaming import (
    agg_view,
    ann_relay,
    dedup_relay,
    er_registry,
    index_relay,
    join_view,
    star_view,
)
from pymongo_change_stream_reader_spark.streaming.materialize import (
    materialize_change_batch,
    reduce_batch_shared,
)

logger = logging.getLogger(__name__)


class Store(NamedTuple):
    """One composed store.  ``name`` keys its outcome and timing;
    ``paths`` enable it (all or none); ``options`` are its own keywords
    with their defaults; ``replay`` is ``lww``/``marker``/``pointer``;
    ``reduce(columns)`` says whether it takes the shared LWW reduce;
    ``apply(pinned, reduced, epoch, kw)`` folds the batch in, ``kw``
    holding every keyword plus ``scope`` (the query id) and
    ``store_stats``.  ``required`` options must be set and ``choices``
    pairs (option, allowed values) hold, checked at stream start."""

    name: str
    paths: tuple
    options: dict
    replay: str
    reduce: Callable
    apply: Callable
    required: tuple = ()
    choices: tuple = ()


# options several stores read
_SHARED = {
    "text_col": "fullDocument", "key_col": "documentKey",
    "n_buckets": 16, "retain": 2,
}
_JOIN_TYPES = ("inner", "left")


def _replica(pinned, reduced, epoch, kw):
    materialize_change_batch(
        pinned, kw["replica_path"], kw["n_buckets"], retain=kw["retain"],
        return_df=False, reduced=reduced,
    )


def _dedup(pinned, reduced, epoch, kw):
    dedup_relay.dedup_flag_batch(
        pinned, kw["dedup_index_path"], kw["dedup_flags_path"],
        kw["text_col"], kw["key_col"], kw["num_hashes"], kw["bands"],
        kw["n"], epoch_id=epoch, scope=kw["scope"],
    )


def _bm25(pinned, reduced, epoch, kw):
    index_relay.bm25_ingest_batch(
        pinned, kw["bm25_index_path"], kw["text_col"], kw["key_col"]
    )


def _ann(pinned, reduced, epoch, kw):
    ann_relay.ann_ingest_batch(
        pinned, kw["ann_index_path"], kw["ann_vec_col"],
        kw["ann_key_col"] or kw["key_col"], kw["ann_kind"],
    )


def _aggview(pinned, reduced, epoch, kw):
    return agg_view.agg_view_batch(
        pinned, kw["agg_view_path"], int(epoch),
        group_path=kw["agg_group_path"], value_path=kw["agg_value_path"],
        value_type=kw["agg_value_type"], n_buckets=kw["n_buckets"],
        retain=kw["retain"], track_minmax=kw["agg_track_minmax"],
        reduced=reduced,
    )


def _joinview(pinned, reduced, epoch, kw):
    return join_view.join_view_batch(
        pinned, kw["join_view_path"], int(epoch),
        side_path=kw["join_side_path"], fact_side=kw["join_fact_side"],
        dim_side=kw["join_dim_side"], fk_path=kw["join_fk_path"],
        dim_id_path=kw["join_dim_id_path"], n_buckets=kw["n_buckets"],
        retain=kw["retain"], join_type=kw["join_join_type"],
        reduced=reduced,
    )


def _starview(pinned, reduced, epoch, kw):
    dims = [
        d if isinstance(d, star_view.DimSide) else star_view.DimSide(**d)
        for d in kw["star_view_dims"]
    ]
    return star_view.star_view_batch(
        pinned, kw["star_view_path"], int(epoch), dims,
        side_path=kw["star_side_path"], fact_side=kw["star_fact_side"],
        n_buckets=kw["n_buckets"], retain=kw["retain"],
        join_type=kw["star_join_type"], reduced=reduced,
    )


def _erregistry(pinned, reduced, epoch, kw):
    # per-epoch counters: a misconfigured ER_ID_PATH shows up as a
    # growing skipped_ids, not a silent no-op
    stats = kw["store_stats"]
    if stats is not None:
        stats = stats.setdefault("erregistry", {}).setdefault(
            f"epoch_{int(epoch)}", {}
        )
    return er_registry.er_registry_cdc_batch(
        pinned, kw["er_registry_path"], int(epoch), kw["er_spec"],
        id_path=kw["er_id_path"], field_paths=kw["er_field_paths"],
        n_buckets=kw["n_buckets"], retain=kw["retain"], reduced=reduced,
        stats=stats,
    )


# the eight stores, in apply and thread-pool submit order
STORES = (
    # the replica's updateDescription-delta path reduces on its own
    Store("replica", ("replica_path",), {}, "lww",
          lambda cols: "updateDescription" not in cols, _replica),
    Store("dedup", ("dedup_index_path", "dedup_flags_path"),
          {"num_hashes": 32, "bands": 8, "n": 3},
          "marker", lambda cols: False, _dedup),
    Store("bm25", ("bm25_index_path",), {},
          "marker", lambda cols: False, _bm25),
    Store("ann", ("ann_index_path",),
          {"ann_vec_col": "embedding", "ann_key_col": None,
           "ann_kind": "ivf"},
          "marker", lambda cols: False, _ann,
          choices=(("ann_kind", tuple(ann_relay._KINDS)),)),
    Store("aggview", ("agg_view_path",),
          {"agg_group_path": "$.g", "agg_value_path": "$.v",
           "agg_value_type": "double", "agg_track_minmax": False},
          "pointer", lambda cols: True, _aggview),
    Store("joinview", ("join_view_path",),
          {"join_side_path": "$.side", "join_fact_side": "f",
           "join_dim_side": "d", "join_fk_path": "$.fk",
           "join_dim_id_path": "$._id", "join_join_type": "inner"},
          "pointer", lambda cols: True, _joinview,
          choices=(("join_join_type", _JOIN_TYPES),)),
    Store("starview", ("star_view_path",),
          {"star_view_dims": None, "star_side_path": "$.side",
           "star_fact_side": "f", "star_join_type": "left"},
          "pointer", lambda cols: True, _starview,
          required=("star_view_dims",),
          choices=(("star_join_type", _JOIN_TYPES),)),
    # er_spec_from_config builds er_spec and er_field_paths
    Store("erregistry", ("er_registry_path",),
          {"er_spec": None, "er_id_path": "$._id", "er_field_paths": None},
          "pointer", lambda cols: True, _erregistry,
          required=("er_spec", "er_field_paths")),
)

DEFAULTS = {
    **_SHARED,
    **{p: None for s in STORES for p in s.paths},
    **{k: v for s in STORES for k, v in s.options.items()},
}


def _resolve(stores: dict) -> dict:
    unknown = sorted(set(stores) - set(DEFAULTS))
    if unknown:
        raise TypeError(f"composed relay: unknown keyword(s) {unknown}")
    return {**DEFAULTS, **stores}


def composed_apply_batch(
    batch: DataFrame,
    epoch_id: int,
    checkpoint_dir: str,
    *,
    max_parallel_stores: int = 4,
    store_timings: dict | None = None,
    store_stats: dict | None = None,
    **stores,
) -> dict:
    """Apply one micro-batch to every store enabled in ``stores`` (the
    ``STORES`` keywords).  Returns each store's outcome: ``applied``,
    ``replayed-skip`` or ``disabled``.

    A ``store_timings`` dict accumulates wall seconds across calls
    under ``pin``, ``reduce`` (when a store takes the shared reduce)
    and each enabled store's name; a store's marker probe counts in
    its own section, so a replayed-skip still records its probe cost.
    With ``max_parallel_stores`` > 1 the sections overlap, so their
    sum exceeds the batch wall.  If a store raises, the other
    submitted applies still finish, then the first error re-raises so
    the engine retries the batch.  ``store_stats`` collects the ER
    registry's per-epoch counters."""
    kw = _resolve(stores)
    tlock = Lock()

    def _timed(name, fn):
        t0 = time.monotonic()
        try:
            return fn()
        finally:
            if store_timings is not None:
                with tlock:
                    store_timings[name] = store_timings.get(name, 0.0) + (
                        time.monotonic() - t0
                    )

    def _pin() -> DataFrame:
        # the lazy checkpoint + count is ONE driver job; then narrow to
        # ~250 rows/task so a small trigger in many source partitions
        # does not cost every store's first stage near-empty tasks
        p = batch.localCheckpoint(eager=False)
        n = p.count()
        parts = p.rdd.getNumPartitions()
        tgt = max(1, min(parts, math.ceil(n / 250)))
        return p.coalesce(tgt) if tgt < parts else p

    pinned = _timed("pin", _pin)
    enabled = [s for s in STORES if kw[s.paths[0]] is not None]
    cols = pinned.columns
    takes_reduce = {s.name for s in enabled if s.reduce(cols)}
    # ONE eager LWW reduction shared by every last-event-wins store
    reduced = None
    if takes_reduce:
        reduced = _timed(
            "reduce",
            lambda: reduce_batch_shared(pinned).localCheckpoint(eager=True),
        )
    qid = query_id(checkpoint_dir)
    ctx = dict(kw, scope=qid, store_stats=store_stats)

    def _section(s: Store) -> Callable[[], str]:
        marker = os.path.join(checkpoint_dir, f"{s.name}_epoch_log")

        def run() -> str:
            if s.replay == "marker" and epoch_committed(
                marker, epoch_id, qid
            ):
                return "replayed-skip"
            done = s.apply(
                pinned, reduced if s.name in takes_reduce else None,
                epoch_id, ctx,
            )
            if s.replay == "marker":
                commit_epoch(marker, epoch_id, qid)
            if s.replay == "pointer" and not done:
                return "replayed-skip"
            return "applied"

        return run

    outcome = {s.name: "disabled" for s in STORES}
    workers = min(max_parallel_stores, len(enabled))
    if workers < 2:
        for s in enabled:
            outcome[s.name] = _timed(s.name, _section(s))
        return outcome
    with ThreadPoolExecutor(
        workers, thread_name_prefix="composed-store"
    ) as pool:
        futures = [
            (s.name, pool.submit(_timed, s.name, _section(s)))
            for s in enabled
        ]
    errors = [(n, f.exception()) for n, f in futures if f.exception()]
    for name, exc in errors[1:]:
        logger.error(
            "composed relay: %s also failed for epoch %s: %s",
            name, epoch_id, exc,
        )
    if errors:
        raise errors[0][1]
    outcome.update((n, f.result()) for n, f in futures)
    return outcome


def _check(kw: dict, checkpoint_dir: str) -> None:
    """Refuse at stream start what would otherwise fail mid-stream on
    the first non-empty batch."""
    enabled = [s for s in STORES if any(kw[p] is not None for p in s.paths)]
    if not enabled:
        names = ", ".join("+".join(s.paths) for s in STORES)
        raise ValueError(
            f"composed relay: enable at least one store ({names})"
        )
    require_local_path(checkpoint_dir, "checkpoint_dir")
    for s in enabled:
        for p in s.paths:
            if kw[p] is None:
                raise ValueError(
                    f"composed relay: {s.name} needs BOTH "
                    + " and ".join(s.paths)
                )
            require_local_path(kw[p], p)
        for k in s.required:
            if not kw[k]:
                raise ValueError(f"composed relay: {s.paths[0]} needs {k}")
        for k, allowed in s.choices:
            if kw[k] not in allowed:
                raise ValueError(
                    f"composed relay: {k} must be one of {allowed}, "
                    f"got {kw[k]!r}"
                )


def start_composed_relay(
    events: DataFrame,
    checkpoint_dir: str,
    *,
    trigger_interval: str | None = None,
    max_parallel_stores: int = 4,
    **stores,
):
    """Streaming entry point: one source read per trigger, every store
    enabled in ``stores`` (the ``STORES`` keywords; at least one)
    maintained.  The indexes and views fold post-images
    (fullDocument=updateLookup).  ``max_parallel_stores`` as in
    composed_apply_batch (1 = strictly sequential)."""
    _check(_resolve(stores), checkpoint_dir)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        composed_apply_batch(
            batch_df, epoch_id, checkpoint_dir,
            max_parallel_stores=max_parallel_stores, **stores,
        )

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
