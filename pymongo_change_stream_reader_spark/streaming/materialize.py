"""CDC replica maintenance: apply change events to a queryable,
bucket-partitioned parquet replica of the watched collection — the
Debezium->lakehouse pattern layered on the reference's change-stream
semantics (reference emits the events to Kafka and stops;
a downstream consumer doing exactly this is the canonical use).

Contract:
- Updates apply through their POST-IMAGE when one rides on the event
  (``fullDocument`` via ``updateLookup`` / required pre-post images —
  the configuration the reference runs with, watch.py full_document
  default).  An update WITHOUT a post-image applies its
  ``updateDescription`` DELTA (updatedFields / removedFields /
  truncatedArrays, dotted paths included) to the stored document —
  the reference relays exactly these deltas as its normal output when
  no post-image is configured (reference
  producing/change_event_handler.py:100-113), so a replica fed the
  reference's default ``full_document=None`` stream stays current
  instead of raising.  A delta for a key with no stored document (and
  no in-batch base) cannot be applied and leaves a tombstone — the
  reference-side fix is resume-from-a-token-at-or-before-bootstrap.
  An insert/replace without a document, or an update with neither
  post-image nor updateDescription, still raises.
- Within a batch, the LAST event per key wins; across batches (and
  across micro-batch replays after a restart) conflict resolution is
  last-writer-wins on the BSON-order triple
  (clusterTime.t, clusterTime.i, _id._data), so re-applying any prefix
  or suffix of the event history converges to the same table — the
  apply is idempotent AND commutative for stale replays, which is what
  makes the foreachBatch sink safe under Spark's at-least-once batch
  redelivery.
- Deletes drop the stored row only when the delete's write triple is
  >= the stored row's (a stale replayed delete cannot resurrect-kill a
  newer upsert), and they persist as TOMBSTONES (doc = null) so that a
  reordered OLDER upsert cannot resurrect a deleted key either — true
  convergence under arbitrary batch reordering, pytest-asserted over
  every permutation of a batch history.  ``compact_replica`` purges
  tombstones (log-compaction semantics: protection against replays
  older than the compaction point is traded away, exactly as in a
  compacted Kafka topic).

Scale: each micro-batch touches only the buckets its keys hash into
(the bucketed versioned-sink protocol from storage.py — write
cost scales with touched partitions, not replica size); the per-batch
reduction is one hash aggregation on the key.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.storage import (
    PipelineError,
    bucket_entries,
    bucket_of,
    bucketed_sink_lock,
    commit_bucketed,
    read_bucket_manifest,
    read_bucketed_sink,
    read_entry_dirs,
    read_schemaed,
)

_KEY = "documentKey"
_ORDER = ("__t", "__i", "__d")


def _last_event_per_key(
    batch: DataFrame, extra_aggs: dict | None = None
) -> DataFrame:
    """Reduce a micro-batch to its final effect per document key:
    max_by the LWW triple.  One hash aggregation (map-side partials);
    no window, no sort.  ``extra_aggs`` ({name: aggregate Column over
    the (key, op, doc, __t, __i, __d) projection}) piggybacks
    validation aggregates onto the SAME shuffle — one batch scan
    instead of two for callers that must also inspect every raw event
    (the agg view's post-image check)."""
    ev = batch.select(
        F.col(_KEY).alias("key"),
        F.col("operationType").alias("op"),
        F.col("fullDocument").alias("doc"),
        F.col("clusterTime.t").alias("__t"),
        F.col("clusterTime.i").alias("__i"),
        F.col("_id._data").alias("__d"),
    )
    trip = F.struct(*[F.col(c) for c in _ORDER])
    payload = F.struct(
        F.col("op"), F.col("doc"), *[F.col(c) for c in _ORDER]
    )
    extras = extra_aggs or {}
    last = ev.groupBy("key").agg(
        F.max_by(payload, trip).alias("p"),
        *[v.alias(k) for k, v in extras.items()],
    )
    return last.select(
        "key", "p.op", "p.doc", *[F.col(f"p.{c}") for c in _ORDER],
        *extras,
    )


def merge_lww(
    spark: SparkSession,
    winners: DataFrame,
    store: str,
    merge_on: list[str],
    bucket_on: list[str],
    n_buckets: int,
    changed: list[int] | None = None,
    schema=None,
    batch_flag: str | None = None,
) -> tuple[DataFrame, DataFrame, dict, list[int]]:
    """LWW merge of ``winners`` against the committed rows of their
    touched buckets in ``store`` (bucketed by ``bucket_on``, row
    identity ``merge_on`` — the secondary index buckets by fk but
    merges per (fk, key)): returns (merged rows to commit, the old
    rows frame, manifest entries, changed buckets).  Winner wins on
    triple >= (replay-safe).  ``changed`` passes a precomputed
    touched-bucket list (the batch computes every store's buckets in
    ONE combined job — see join_view_batch); None collects it here.

    r14 shape: ONE hash aggregation (union both sides tagged, max_by
    on (triple, side)) replaces the r13 full-outer join — the join
    form paid two exchanges plus a sort per merge; this pays one
    exchange with map-side partial aggregation.  A triple TIE resolves
    to the new side (__new orders last), exactly the join form's
    ``trip(new) >= trip(old)``; NULL merge keys group
    together, matching the join form's eqNullSafe equality.  Both
    sides hold at most one row per merge key (store invariant /
    pre-reduced batch), so max_by picks the lone row when only one
    side has it.

    ``batch_flag``: when set, the merged frame carries an extra
    BOOLEAN column of that name — True iff the merge key appeared in
    ``winners``.  Callers derive their post-LWW batch subset with a
    filter on the already-checkpointed merged frame instead of a
    separate semi-join job (drop the column before commit)."""
    if changed is None:
        changed = sorted(
            r["b"]
            for r in winners.select(
                bucket_of(bucket_on, n_buckets).alias("b")
            )
            .distinct()
            .collect()
        )
    entries = bucket_entries(store, n_buckets, f"store {store!r}")
    rels = [entries[k] for k in changed if k in entries]
    if schema is not None:
        # schema-fixed stores skip the per-version driver-side
        # footer inference
        old = read_schemaed(spark, store, rels, schema)
    else:
        old = read_entry_dirs(spark, store, rels)
    if old is None:
        old = spark.createDataFrame([], winners.schema)
    cols = winners.columns
    u = (
        old.select(*cols)
        .withColumn("__new", F.lit(0))
        .unionByName(winners.select(*cols).withColumn("__new", F.lit(1)))
    )
    payload = F.struct(*[F.col(c) for c in cols])
    ordk = F.struct(*[F.col(c) for c in _ORDER], F.col("__new"))
    aggs = [F.max_by(payload, ordk).alias("__w")]
    if batch_flag is not None:
        aggs.append(
            F.max("__new").cast("boolean").alias(batch_flag)
        )
    merged = (
        u.groupBy(*merge_on)
        .agg(*aggs)
        .select(
            "__w.*", *([batch_flag] if batch_flag is not None else [])
        )
    )
    return merged, old, entries, changed


def _last_event_per_key_with_deltas(batch: DataFrame) -> DataFrame:
    """Delta-aware batch reduction: per key, the last FULL-STATE anchor
    (insert / replace / delete / update-with-post-image) plus the
    ordered update DELTAS that follow it — an update without a
    post-image cannot be collapsed away by max_by, because its effect
    composes with whatever precedes it.

    Returns (key, op, doc, deltas, __t, __i, __d): ``doc`` is the
    anchor's document (null for delete or no-anchor), ``deltas`` the
    ordered post-anchor update descriptions (each with its own write
    triple, so the merge can skip deltas the stored row already
    reflects), and the triple is the LAST event's — the LWW frontier.
    Deltas after an in-batch delete are dropped (nothing to patch).

    Scale: one hash aggregation like _last_event_per_key, but delta
    batches buffer the per-key event list (collect_list) — bounded by
    events-per-key-per-trigger, not by replica size."""
    ev = batch.select(
        F.col(_KEY).alias("key"),
        F.col("operationType").alias("op"),
        F.col("fullDocument").alias("doc"),
        F.col("updateDescription.updatedFields").alias("upd"),
        F.col("updateDescription.removedFields").alias("rmv"),
        F.col("updateDescription.truncatedArrays").alias("trunc"),
        F.col("clusterTime.t").alias("__t"),
        F.col("clusterTime.i").alias("__i"),
        F.col("_id._data").alias("__d"),
    )
    # triple-first struct: array_sort orders events by the LWW triple
    # (unique — _id._data is per-event), so the fold below reads a
    # time-ordered history
    evs = ev.groupBy("key").agg(
        F.array_sort(
            F.collect_list(
                F.struct("__t", "__i", "__d", "op", "doc", "upd", "rmv", "trunc")
            )
        ).alias("__evs")
    )
    not_delta = "e -> NOT (e.op = 'update' AND e.doc IS NULL)"
    r = (
        evs.withColumn(
            "__a", F.expr(f"try_element_at(filter(__evs, {not_delta}), -1)")
        )
        .withColumn("__last", F.expr("try_element_at(__evs, -1)"))
        .withColumn(
            "deltas",
            F.expr(
                "CASE WHEN __a IS NOT NULL AND __a.op = 'delete' "
                # deltas after a delete have nothing to patch
                "THEN filter(__evs, e -> false) "
                "ELSE filter(__evs, e -> e.op = 'update' AND e.doc IS NULL "
                "AND (__a IS NULL OR struct(e.__t, e.__i, e.__d) > "
                "struct(__a.__t, __a.__i, __a.__d))) END"
            ),
        )
    )
    return r.select(
        "key",
        F.expr(
            "CASE WHEN __a IS NOT NULL AND __a.op = 'delete' "
            "THEN 'delete' ELSE 'update' END"
        ).alias("op"),
        F.expr(
            "CASE WHEN __a IS NOT NULL AND __a.op <> 'delete' "
            "THEN __a.doc END"
        ).alias("doc"),
        "deltas",
        F.col("__last.__t").alias("__t"),
        F.col("__last.__i").alias("__i"),
        F.col("__last.__d").alias("__d"),
    )


def _walk_path(obj, parts):
    """Resolve a dotted-path prefix inside a parsed document; None when
    any segment is missing / type-mismatched (Mongo path semantics:
    numeric segments index arrays)."""
    cur = obj
    for p in parts:
        if isinstance(cur, list):
            if not p.isdigit() or int(p) >= len(cur):
                return None
            cur = cur[int(p)]
        elif isinstance(cur, dict):
            if p not in cur:
                return None
            cur = cur[p]
        else:
            return None
    return cur


def _set_path(obj, path: str, value) -> None:
    """$set semantics: intermediate documents are created, array
    indexes pad with nulls, a scalar in the way is replaced."""
    parts = path.split(".")
    cur = obj
    for p in parts[:-1]:
        if isinstance(cur, list) and p.isdigit():
            k = int(p)
            while len(cur) <= k:
                cur.append(None)
            if not isinstance(cur[k], (dict, list)):
                cur[k] = {}
            cur = cur[k]
        elif isinstance(cur, dict):
            nxt = cur.get(p)
            if not isinstance(nxt, (dict, list)):
                nxt = {}
                cur[p] = nxt
            cur = nxt
        else:  # scalar mid-path on a list index mismatch: nothing to set
            return
    last = parts[-1]
    if isinstance(cur, list) and last.isdigit():
        k = int(last)
        while len(cur) <= k:
            cur.append(None)
        cur[k] = value
    elif isinstance(cur, dict):
        cur[last] = value


def _unset_path(obj, path: str) -> None:
    """$unset semantics: missing paths no-op; unsetting an array
    ELEMENT nulls it (Mongo keeps array positions)."""
    parts = path.split(".")
    parent = _walk_path(obj, parts[:-1]) if len(parts) > 1 else obj
    last = parts[-1]
    if isinstance(parent, dict):
        parent.pop(last, None)
    elif isinstance(parent, list) and last.isdigit() and int(last) < len(parent):
        parent[int(last)] = None


def _apply_update_deltas(doc_json, deltas, min_triple):
    """Apply ordered updateDescription deltas to a stored document
    (Extended-JSON string -> string).  ``min_triple``: skip deltas the
    stored row already reflects (its LWW triple) — None applies all
    (the in-batch-anchor case, where every delta follows the anchor by
    construction).  A missing base (None) cannot be patched -> None
    (the caller records a tombstone).  Per delta: truncatedArrays,
    then removedFields, then updatedFields — the three are disjoint
    within one Mongo update."""
    import json

    if doc_json is None:
        return None
    doc = json.loads(doc_json)
    for e in deltas:
        if min_triple is not None:
            if (e["__t"], e["__i"], e["__d"]) <= min_triple:
                continue
        trunc = e.get("trunc")
        for tr in trunc if trunc is not None else ():  # numpy-safe
            arr = _walk_path(doc, str(tr["field"]).split("."))
            if isinstance(arr, list) and tr["newSize"] is not None:
                del arr[int(tr["newSize"]):]
        rmv = e.get("rmv")
        for path in rmv if rmv is not None else ():
            _unset_path(doc, path)
        upd = e.get("upd")
        if upd:
            for path, value in json.loads(upd).items():
                _set_path(doc, path, value)
    return json.dumps(doc)


def _patch_doc_udf():
    """Arrow-batched (base, deltas, stored triple) -> patched document
    string.  Python only runs for DELTA rows — materialize_change_batch
    keeps post-image-only batches on the pure-JVM merge."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def patch(
        base: pd.Series,
        deltas: pd.Series,
        ot: pd.Series,
        oi: pd.Series,
        od: pd.Series,
    ) -> pd.Series:
        out = []
        for b, ds, t, i, d in zip(base, deltas, ot, oi, od):
            trip = None if pd.isna(t) else (int(t), int(i), str(d))
            out.append(
                _apply_update_deltas(b, list(ds) if ds is not None else [], trip)
            )
        return pd.Series(out, dtype="object")

    return patch


def reduce_batch_shared(batch: DataFrame) -> DataFrame:
    """The ONE batch reduction every last-event-wins store consumes:
    data ops LWW-reduced to (key, op, doc, __t, __i, __d, __bad),
    exactly one row per key — ``op``/``doc``/triple are the key's
    FINAL event, ``__bad`` is True when ANY of the key's non-delete
    events lacked a post-image (the max_by shuffle carries the
    validation aggregate, so each store's post-image check reads the
    key-sized frame instead of rescanning the batch).

    The composed relay computes this ONCE per micro-batch (eagerly
    checkpointed) and hands it to every enabled view store via their
    ``reduced=`` parameter — the r12-measured waste was five stores
    each shuffling the same batch to the same per-key winners."""
    data = batch.filter(
        F.col("operationType").isin("insert", "update", "replace", "delete")
    )
    return _last_event_per_key(
        data,
        extra_aggs={
            "__bad": F.max(
                (F.col("op") != "delete") & F.col("doc").isNull()
            )
        },
    )


def materialize_change_batch(
    batch: DataFrame,
    path: str,
    n_buckets: int = 16,
    retain: int = 2,
    return_df: bool = True,
    reduced: DataFrame | None = None,
) -> DataFrame | None:
    """Apply one batch of change events to the replica at ``path``.

    Returns the post-apply replica (key, doc, __t, __i, __d).  Only
    data ops participate; updates without a post-image apply their
    updateDescription delta (module docstring); an insert/replace
    without a document, or an update carrying neither, raises.
    ``retain`` widens the replica's time-travel window (the newest N
    commits stay readable via ``read_bucketed_sink(path, -n)``; see
    commit_bucketed) — at high trigger rates prefer the default 2 and
    periodic ``vacuum_bucketed_sink``, since every retained commit
    pins its superseded bucket dirs on disk.

    ``reduced``: a pre-computed :func:`reduce_batch_shared` frame of
    THIS batch (the composed relay's shared reduction).  Only honored
    on the post-image path (no ``updateDescription`` column — delta
    batches need the delta-aware reduction); validation still runs
    against the raw batch, unchanged."""
    spark = batch.sparkSession
    data = batch.filter(
        F.col("operationType").isin("insert", "update", "replace", "delete")
    )
    has_ud = "updateDescription" in batch.columns
    # batch reduction + validation probes run BEFORE the write lock —
    # the Spark jobs that compute the batch's effect must not hold
    # other writers (compaction, vacuum) up
    delta_ok = (
        (F.col("operationType") == "update")
        & F.col("updateDescription").isNotNull()
        if has_ud
        else F.lit(False)
    )
    bad = data.filter(
        (F.col("operationType") != "delete")
        & F.col("fullDocument").isNull()
        & ~delta_ok
    )
    if not bad.isEmpty():
        raise PipelineError(
            "replica maintenance needs a post-image or an "
            "updateDescription per non-delete event: got an "
            "insert/update/replace with neither (run the stream with "
            "fullDocument=updateLookup, or keep updateDescription on "
            "update events)"
        )
    if has_ud:
        last = _last_event_per_key_with_deltas(data).localCheckpoint(
            eager=True
        )
        if last.filter(F.size("deltas") > 0).isEmpty():
            # post-image-only batch (the updateLookup deployment):
            # drop to the pure-JVM merge — no Python in the hot path
            last = last.drop("deltas")
    elif reduced is not None:
        # the composed relay's shared reduction — already
        # checkpointed by the caller, no second reduce job
        last = reduced.drop("__bad")
    else:
        last = _last_event_per_key(data).localCheckpoint(eager=True)
    bcol = bucket_of(["key"], n_buckets)
    changed = sorted(
        r["b"] for r in last.select(bcol.alias("b")).distinct().collect()
    )
    # read-merge-commit under the sink write lock: the stored-bucket
    # snapshot this apply bases itself on must stay current until the
    # commit's manifest swap, or a concurrent compaction/committer's
    # effect is silently lost (last-writer-wins)
    with bucketed_sink_lock(path):
        return _materialize_locked(
            spark, last, path, n_buckets, changed, retain,
            return_df=return_df,
        )


def _materialize_locked(
    spark, last, path: str, n_buckets: int, changed, retain: int,
    return_df: bool = True,
) -> DataFrame | None:
    """The manifest-read → LWW-merge → commit span of
    materialize_change_batch; callers hold bucketed_sink_lock."""
    entries = bucket_entries(path, n_buckets, f"replica at {path!r}")
    old = read_entry_dirs(
        spark, path, [entries[k] for k in changed if k in entries]
    )
    new = last
    with_deltas = "deltas" in last.columns
    if with_deltas:
        patch = _patch_doc_udf()
    if old is not None and not with_deltas:
        # post-image path (r14): ONE hash aggregation replaces the
        # full-outer join (the join_view.merge_lww rewrite — one
        # exchange with map-side partials instead of two + a sort).
        # Tie on the triple -> the new effect wins, matching the join
        # form's `stale = trip(n) < trip(o)` exactly; a delete's
        # effect is a NULL doc (tombstone), as before.
        u = (
            old.select("key", "doc", *_ORDER)
            .withColumn("__new", F.lit(0))
            .unionByName(
                new.select(
                    "key",
                    F.when(F.col("op") != "delete", F.col("doc")).alias(
                        "doc"
                    ),
                    *_ORDER,
                ).withColumn("__new", F.lit(1))
            )
        )
        payload = F.struct(
            F.col("doc"), *[F.col(c) for c in _ORDER]
        )
        ordk = F.struct(
            *[F.col(c) for c in _ORDER], F.col("__new")
        )
        merged = (
            u.groupBy("key")
            .agg(F.max_by(payload, ordk).alias("__w"))
            .select("key", "__w.*")
        )
    elif old is not None:
        stale = F.struct(
            *[F.col(f"__n.{c}") for c in _ORDER]
        ) < F.struct(*[F.col(f"__o.{c}") for c in _ORDER])
        joined = old.alias("__o").join(
            new.alias("__n"), F.col("__o.key") == F.col("__n.key"), "full"
        )
        if with_deltas:
            # anchor (if any) then its deltas; a delta-only key patches
            # the STORED doc, skipping deltas its triple already
            # reflects — a missing base stays/void-becomes a tombstone
            new_doc = (
                F.when(F.col("__n.op") == "delete", F.lit(None).cast("string"))
                .when(F.size("__n.deltas") == 0, F.col("__n.doc"))
                .when(
                    F.col("__n.doc").isNotNull(),
                    patch(
                        F.col("__n.doc"),
                        F.col("__n.deltas"),
                        F.lit(None).cast("long"),
                        F.lit(None).cast("int"),
                        F.lit(None).cast("string"),
                    ),
                )
                .otherwise(
                    patch(
                        F.col("__o.doc"),
                        F.col("__n.deltas"),
                        F.col("__o.__t"),
                        F.col("__o.__i"),
                        F.col("__o.__d"),
                    )
                )
            )
        else:
            new_doc = F.when(
                F.col("__n.op") != "delete", F.col("__n.doc")
            )
        merged = joined.select(
            F.coalesce(F.col("__n.key"), F.col("__o.key")).alias("key"),
            # no new event, or the new event is a stale replay -> old
            # row stands; otherwise the new effect (null = delete)
            F.when(
                F.col("__n.key").isNull() | stale, F.col("__o.doc")
            )
            .otherwise(new_doc)
            .alias("doc"),
            *[
                F.when(
                    F.col("__n.key").isNull() | stale, F.col(f"__o.{c}")
                )
                .otherwise(F.col(f"__n.{c}"))
                .alias(c)
                for c in _ORDER
            ],
        )
    else:
        if with_deltas:
            first_doc = (
                F.when(F.col("op") == "delete", F.lit(None).cast("string"))
                .when(F.size("deltas") == 0, F.col("doc"))
                .otherwise(
                    # delta-only key on an empty replica: doc null ->
                    # unappliable -> tombstone; in-batch anchor patches
                    patch(
                        F.col("doc"),
                        F.col("deltas"),
                        F.lit(None).cast("long"),
                        F.lit(None).cast("int"),
                        F.lit(None).cast("string"),
                    )
                )
            )
        else:
            first_doc = F.when(F.col("op") != "delete", F.col("doc"))
        merged = new.select("key", first_doc.alias("doc"), *_ORDER)
    return commit_bucketed(
        merged, path, ["key"], n_buckets, entries, changed, retain=retain,
        return_df=return_df,
    )


def bootstrap_replica(
    snapshot: DataFrame,
    path: str,
    key_col: str,
    doc_col: str,
    n_buckets: int = 16,
    retain: int = 2,
) -> DataFrame:
    """Seed the replica from a SNAPSHOT of the collection — the
    classic CDC bootstrap: load the initial copy first, then start the
    change-stream relay from a resume token captured BEFORE the
    snapshot read, and let LWW converge the overlap.

    Snapshot rows get the MINIMAL write triple (t=0, i=0, _data='') —
    ordered below every real change event — so any event replayed from
    the overlap window (events that committed while the snapshot was
    being read) wins over the snapshot copy, and convergence follows
    from the same LWW contract that makes batch replay safe.  Refuses
    a non-empty replica (bootstrap is a create-time operation; use the
    stream for everything after)."""
    # existence probe repeated under the lock below; this early copy
    # just fails fast before the snapshot materialization
    if read_bucket_manifest(path) is not None:
        raise PipelineError(
            f"replica at {path!r} already exists — bootstrap seeds a NEW "
            "replica; the change stream maintains an existing one"
        )
    # ONE materialization: the validation probes and the commit write
    # must see the same rows (a snapshot of a live source is not
    # deterministic across jobs — the materialize_change_batch lesson)
    seeded = snapshot.select(
        F.col(key_col).alias("key"),
        F.col(doc_col).alias("doc"),
        F.lit(0).alias("__t"),
        F.lit(0).alias("__i"),
        F.lit("").alias("__d"),
    ).localCheckpoint(eager=True)
    if not seeded.filter(F.col("doc").isNull()).isEmpty():
        raise PipelineError(
            "bootstrap snapshot contains null documents — a snapshot "
            "row is by definition a live document"
        )
    # one-row-per-key is the invariant every downstream LWW merge
    # assumes (_last_event_per_key guarantees it on the event path);
    # duplicate snapshot keys would multiply through the full-outer
    # merge forever
    n_rows, n_keys = seeded.agg(
        F.count("*"), F.count_distinct("key")
    ).collect()[0]
    if n_rows != n_keys:
        raise PipelineError(
            f"bootstrap snapshot has {n_rows - n_keys} duplicate "
            f"key(s) in {key_col!r} — dedupe the snapshot (one row per "
            "document) before seeding the replica"
        )
    # entries is empty, so `changed` has nothing to prune: ()
    with bucketed_sink_lock(path):
        if read_bucket_manifest(path) is not None:
            raise PipelineError(
                f"replica at {path!r} already exists — bootstrap seeds a "
                "NEW replica; the change stream maintains an existing one"
            )
        return commit_bucketed(
            seeded, path, ["key"], n_buckets, {}, (), retain=retain
        )


def read_replica(spark: SparkSession, path: str) -> DataFrame | None:
    """The current committed replica (key, doc, __t, __i, __d),
    tombstones filtered out."""
    rep = read_bucketed_sink(spark, path)
    return None if rep is None else rep.filter(F.col("doc").isNotNull())


def start_replica_maintenance(
    events: DataFrame,
    path: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    trigger_interval: str | None = None,
    retain: int = 2,
):
    """Streaming entry point: foreachBatch-apply the change stream to
    the replica.  Safe under batch redelivery by the LWW contract
    above (no epoch bookkeeping needed — the apply itself is
    idempotent).  ``retain`` = replica time-travel depth in commits
    (see materialize_change_batch)."""

    def _apply(batch_df: DataFrame, _epoch_id: int) -> None:
        materialize_change_batch(batch_df, path, n_buckets, retain=retain)

    writer = (
        events.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()


def compact_replica(
    spark: SparkSession,
    path: str,
    files_per_bucket: int = 1,
    purge_tombstones: bool = True,
    retain: int = 2,
) -> DataFrame | None:
    """Rewrite every live bucket into one fresh version dir with
    ``files_per_bucket`` parquet files per bucket — the maintenance
    pass that caps the small-file growth of per-batch commits (each
    micro-batch writes task-count files into every touched bucket; at
    high trigger rates the replica accumulates thousands of tiny
    files, and scan cost becomes file-open-bound).  State is
    unchanged; the swap rides the same atomic-manifest commit, so
    readers never observe a half-compacted table and the pre-compact
    manifest stays one rollback step away."""
    # the WHOLE read-rewrite-commit sequence holds the sink write lock:
    # a micro-batch commit landing between the compaction's read and
    # its manifest swap would otherwise be silently erased by the
    # compaction's swap (last-writer-wins lost update)
    with bucketed_sink_lock(path):
        mf = read_bucket_manifest(path)
        if mf is None:
            return None
        n_buckets, entries = mf
        current = read_bucketed_sink(spark, path)
        if current is None:
            return None
        if purge_tombstones:
            current = current.filter(F.col("doc").isNotNull())
        # repartition on the BUCKET value: every bucket's rows land in
        # one task (files_per_bucket=1 -> exactly one file per bucket
        # dir)
        compacted = current.repartition(
            max(1, files_per_bucket * n_buckets),
            bucket_of(["key"], n_buckets),
        )
        # NOTE: the compact commit applies its own `retain` — with the
        # default 2 it also narrows a wider time-travel window (history
        # snapshots beyond `retain` are pruned), consistent with the
        # documented compaction trade-off; pass a larger retain to keep
        # it.
        return commit_bucketed(
            compacted, path, ["key"], n_buckets, entries, sorted(entries),
            retain=retain,
        )


def replica_changes(spark: SparkSession, path: str) -> DataFrame | None:
    """Change feed between the previous and current commit (the
    one-deep retention window): per key, `op` is ``insert`` (absent
    before), ``update`` (write triple advanced), or ``delete``
    (tombstoned or removed by compaction purge).  The downstream
    incremental-consumer API a lakehouse exposes as a change data
    feed — computed as one full-outer join of two manifest snapshots,
    reading only bucket dirs, never replaying events."""
    cur = read_bucketed_sink(spark, path)
    prev = read_bucketed_sink(spark, path, -1)
    if cur is None or prev is None:
        return None
    trip = lambda side: F.struct(
        *[F.col(f"{side}.{c}") for c in _ORDER]
    )
    live = lambda side: F.col(f"{side}.key").isNotNull() & F.col(
        f"{side}.doc"
    ).isNotNull()
    j = prev.alias("p").join(
        cur.alias("c"), F.col("p.key") == F.col("c.key"), "full"
    )
    op = (
        F.when(~live("p") & live("c"), "insert")
        .when(live("p") & ~live("c"), "delete")
        .when(live("p") & live("c") & (trip("c") != trip("p")), "update")
    )
    return (
        j.select(
            F.coalesce(F.col("c.key"), F.col("p.key")).alias("key"),
            op.alias("op"),
            F.col("c.doc").alias("doc"),
        )
        .filter(F.col("op").isNotNull())
    )
