"""Incremental materialized aggregate view over a CDC stream.

The replica (streaming/materialize.py) answers "what does document k
look like now?"; this store answers "what do the documents SUM to per
group, now?" without ever re-scanning the corpus: each micro-batch
applies only its own keys' contribution CHANGES, so per-batch work is
O(batch + touched buckets + touched groups) — at 100 TB the view
stays a handful of small jobs per trigger while a recompute would be
a full-table aggregation every 30 seconds.

Reference parity: the reference relay (producing/change_event_handler
.py) forwards events; aggregate maintenance is engine extension
surface, with semantics matching classic incremental view maintenance:
the counting algorithm for SUM/COUNT (purely incremental), and —
opt-in via ``track_minmax`` — MIN/MAX maintained the textbook way for
non-fully-incremental aggregates: arrivals fold in with
``least``/``greatest``; a batch that REMOVES a contribution at (or
beyond) a group's stored extremum flags that group for a rescan, and
only the flagged groups are re-aggregated from the keys store after
the keys commit (candidate set = touched groups, bounded per batch;
untouched batches pay nothing).  The rescan job scans the keys store
with a pushed ``grp`` filter — the keys are bucketed by KEY, so this
is the one per-batch job that can touch every key bucket, and only
when an extremum actually left.

## Layout under ``path``

- ``keys/`` — bucketed versioned sink (storage.py bucketed-sink
  protocol): one row per document key,
  ``(key, live, grp, val, __t, __i, __d)`` — the key's CURRENT
  contribution under last-writer-wins; deletes persist as
  ``live=false`` tombstones so late out-of-order events cannot
  resurrect or double-subtract.
- ``deltas/epoch=N/`` — the batch's net per-group deltas
  ``(grp, d_n, d_sum)``, persisted BEFORE the keys commit (the replay
  contract below).
- ``groups/`` + ``groups/_current`` — the aggregate table
  ``(grp, n_docs, sum_val)`` in the SAME bucketed versioned sink
  layout as ``keys/`` (bucketed by ``grp``): a batch rewrites ONLY the
  buckets whose groups appear in its deltas, so the per-trigger groups
  commit is O(touched buckets), not O(|groups|) — with a
  high-cardinality group key the r9 whole-table ``coalesce(1)`` swap
  re-wrote millions of rows per 10-second trigger.  The epoch commit
  point stays a single atomic pointer replace: ``_current`` names the
  committed manifest SNAPSHOT (``v-NNNNNN`` -> ``_manifest.h-v-NNNNNN``)
  plus the applied epoch, so a crash between the bucketed write and
  the pointer swap leaves a phantom commit the replay simply rewrites
  (reads always resolve through ``_current``, never ``_manifest``).
  Stores written by r9 (``groups/g-N`` whole-table versions) migrate
  in place: the first bucketed apply folds the legacy table into all
  buckets and drops the ``g-`` dirs after its pointer swap.

## Exactly-once replay contract

A foreachBatch epoch can replay after any crash.  Apply order is
(1) compute per-group deltas against the PRE-batch keys store and
persist them (atomic dir rename), (2) commit the keys merge,
(3) commit the groups table + epoch pointer.  On replay:

- groups epoch >= N  -> everything landed (groups commit last): skip;
- ``deltas/epoch=N`` exists -> NEVER recompute deltas (the keys store
  may already include this batch, which would make a recomputation
  vanish to zero); re-merge keys (LWW is idempotent) and apply the
  PERSISTED deltas;
- neither -> nothing landed: full first-time apply.

Every window is covered: deltas are valid from the moment they are
persisted because the state they were computed against (pre-batch
keys) cannot change before the keys commit that immediately follows,
and the groups table consumes each epoch's deltas exactly once (the
pointer swap is the commit point).  The whole apply runs under the
view's write lock.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.storage import (
    PipelineError,
    bucket_entries,
    bucket_of,
    bucketed_sink_lock,
    commit_bucketed,
    commit_bucketed_fused,
    pointer_current,
    publish_pointer,
    read_bucket_manifest,
    read_bucketed_sink,
    read_schemaed,
    resolve_pointer,
    write_atomic,
)
from pymongo_change_stream_reader_spark.streaming.materialize import (
    _ORDER,
    _last_event_per_key,
)

__all__ = [
    "agg_view_batch",
    "read_agg_view",
    "read_agg_view_keys",
]


def _deltas_schema(value_type: str, minmax: bool = False) -> str:
    base = f"grp STRING, d_n BIGINT, d_sum {value_type}"
    if minmax:
        base += (
            f", a_min {value_type}, a_max {value_type}, rescan BOOLEAN"
        )
    return base


def _groups_schema(value_type: str, minmax: bool = False) -> str:
    base = f"grp STRING, n_docs BIGINT, sum_val {value_type}"
    if minmax:
        base += f", min_val {value_type}, max_val {value_type}"
    return base


def _read_groups_subset(
    spark: SparkSession,
    path: str,
    buckets: list[int],
    value_type: str,
    minmax: bool = False,
) -> DataFrame:
    """Committed groups rows of the given bucket ids (resolved via
    ``_current``), null-filling any columns the stored files predate.
    Empty frame before the first commit.  Bucketed stores only — the
    legacy whole-table migration path reads its version dir directly.
    """
    schema = _groups_schema(value_type, minmax)
    groot = os.path.join(path, "groups")
    res = resolve_pointer(groot, "agg view")
    # one read, explicit schema: no per-dir footer inference, and
    # pre-minmax files null-fill the extrema columns
    rows = None if res is None else read_schemaed(
        spark, groot, [res[0][k] for k in buckets if k in res[0]], schema
    )
    return rows if rows is not None else spark.createDataFrame([], schema)


def read_agg_view(spark: SparkSession, path: str) -> DataFrame | None:
    """The current aggregate table ``(grp, n_docs, sum_val)`` — plus
    ``min_val``/``max_val`` for a ``track_minmax`` store; None before
    the first applied batch."""
    groot = os.path.join(path, "groups")
    cur = pointer_current(groot)
    if cur is not None and cur[0].startswith("g-"):
        # an r9 store not yet migrated: the pointer names a whole
        # ``g-N`` version dir, not a manifest snapshot
        return spark.read.parquet(os.path.join(groot, cur[0]))
    res = resolve_pointer(groot, "agg view")
    if res is None:
        return None
    entries, _ep = res
    # explicit schema (from the pinned config): no per-dir footer
    # inference, and r14's fused keys+groups commit can leave the
    # other store's columns as nulls in the files — the schema'd
    # read never surfaces them
    import json as _json

    cfg = _json.load(open(os.path.join(path, "_config.json")))
    schema = _groups_schema(
        cfg["value_type"], cfg.get("track_minmax", False)
    )
    dirs = [
        os.path.join(groot, rel)
        for rel in entries.values()
        if os.path.isdir(os.path.join(groot, rel))
    ]
    if not dirs:
        # a committed-but-empty view (every group deleted) is valid
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*dirs)


def read_agg_view_keys(spark: SparkSession, path: str) -> DataFrame | None:
    """Per-key contribution rows (LWW state incl. tombstones)."""
    rows = read_bucketed_sink(spark, os.path.join(path, "keys"))
    if rows is None:
        return None
    # select the store's own columns: r14's fused commit can leave
    # the groups store's columns as nulls in the keys files
    return rows.select("key", "live", "grp", "val", *_ORDER)


def agg_view_batch(
    batch: DataFrame,
    path: str,
    epoch: int,
    group_path: str = "$.g",
    value_path: str = "$.v",
    value_type: str = "double",
    n_buckets: int = 16,
    retain: int = 2,
    track_minmax: bool = False,
    reduced: DataFrame | None = None,
) -> bool:
    """Apply one micro-batch of change events to the view at ``path``.
    Returns True when the batch applied, False when the epoch had
    already been committed (replay short-circuit).

    ``group_path`` / ``value_path`` are JSON paths into the post-image;
    a live document with a missing value contributes 0 to ``sum_val``
    and 1 to ``n_docs`` (COALESCE semantics — mirror it in any SQL
    oracle).  Non-delete events must carry a post-image (run the
    stream with fullDocument=updateLookup), exactly the serving-index
    relays' contract — unlike the replica, a contribution cannot be
    patched from an updateDescription without knowing the old value.

    ``track_minmax`` (config-pinned like the paths) adds
    ``min_val``/``max_val`` to the view (nulls ignored, null when the
    group's live values are all null): arrivals fold incrementally;
    removals at a group's stored extremum flag the group for one
    post-keys-commit rescan (module docstring).  The flags travel IN
    the persisted deltas, so a replay re-derives the same extrema from
    the same persisted decision + the (idempotently re-merged) keys.
    """
    spark = batch.sparkSession
    os.makedirs(os.path.join(path, "deltas"), exist_ok=True)
    os.makedirs(os.path.join(path, "groups"), exist_ok=True)
    keys_path = os.path.join(path, "keys")

    data = batch.filter(
        F.col("operationType").isin("insert", "update", "replace", "delete")
    )
    with bucketed_sink_lock(path):
        # pin the view's definition at first apply: a batch applied
        # with a different group/value path or type would compute
        # deltas against contributions that mean something else —
        # silent corruption, the same class the serving indexes guard
        # with their format sidecars
        import json as _json

        cfg = dict(
            group_path=group_path, value_path=value_path,
            value_type=value_type, n_buckets=n_buckets,
        )
        if track_minmax:
            cfg["track_minmax"] = True
        cfg_path = os.path.join(path, "_config.json")
        if os.path.exists(cfg_path):
            stored = _json.load(open(cfg_path))
            # r9 stores predate the key: absent == False
            stored.setdefault("track_minmax", False)
            cfg.setdefault("track_minmax", False)
            if stored != cfg:
                raise PipelineError(
                    f"agg view at {path!r} was created with {stored}; "
                    f"refusing to apply a batch configured as {cfg} — "
                    "deltas across definitions do not compose"
                )
        else:
            write_atomic(cfg_path, _json.dumps(cfg))
        cur = pointer_current(os.path.join(path, "groups"))
        if cur is not None and cur[1] >= epoch:
            # replayed epoch: fully applied (groups commit last)
            return False
        # the post-image check rides the last-per-key shuffle (one
        # batch scan, not two) and is read off the checkpointed
        # key-sized frame
        # ``reduced``: the composed relay's shared
        # reduce_batch_shared frame (same shape, already
        # checkpointed) — skip this store's own reduce shuffle
        last = reduced if reduced is not None else _last_event_per_key(
            data,
            extra_aggs={
                "__bad": F.max(
                    (F.col("op") != "delete") & F.col("doc").isNull()
                )
            },
        ).localCheckpoint(eager=False)  # the combined probe below
        # materializes it — one batch scan total
        bad = last.filter(F.col("__bad"))
        last = last.drop("__bad")
        live = F.col("op") != "delete"
        new = last.select(
            "key",
            live.alias("live"),
            F.when(live, F.get_json_object("doc", group_path)).alias("grp"),
            F.when(live, F.get_json_object("doc", value_path))
            .cast(value_type)
            .alias("val"),
            *[F.col(c) for c in _ORDER],
        )
        # ONE tagged collect carries the touched buckets AND the
        # post-image validation (r14 — the r13 path paid a dedicated
        # isEmpty job for the __bad probe, like join/star's combined
        # job 1); the raise still precedes any write
        probe = (
            new.select(
                F.lit(0).alias("t"),
                bucket_of(["key"], n_buckets).alias("b"),
            )
            .unionByName(
                bad.select(F.lit(1).alias("t"), F.lit(-1).alias("b"))
            )
            .distinct()
            .collect()
        )
        if any(r["t"] == 1 for r in probe):
            raise PipelineError(
                "agg view maintenance needs a post-image per non-delete "
                "event (fullDocument=updateLookup): an update's old "
                "contribution cannot be subtracted from a field delta"
            )
        changed = sorted(r["b"] for r in probe if r["t"] == 0)
        entries = bucket_entries(keys_path, n_buckets, f"agg view at {path!r}")
        # the key store's layout is config-fixed (the winners frame's
        # own schema), so the read skips per-version driver-side
        # footer inference — the join/star/ER stores' r12 cut
        old = read_schemaed(
            spark, keys_path,
            [entries[k] for k in changed if k in entries],
            new.schema,
        )

        # ONE hash aggregation replaces the r13 full-outer join
        # (materialize.merge_lww's r14 shape, specialized to also keep
        # the OLD row's contribution fields for the delta algebra):
        # union both sides tagged, max_by on (triple, side) — one
        # exchange with map-side partials instead of two + a sort.
        # Tie on the triple -> the new side wins, exactly the join
        # form's trip(n) >= trip(o); at most one row per side per key.
        if old is None:
            old = spark.createDataFrame([], new.schema)
        u = (
            old.withColumn("__new", F.lit(0))
            .unionByName(new.withColumn("__new", F.lit(1)))
        )
        payload = F.struct(*[F.col(c) for c in new.columns])
        old_payload = F.struct(
            F.col("live"), F.col("grp"), F.col("val")
        )
        ordk = F.struct(*[F.col(c) for c in _ORDER], F.col("__new"))
        # pinned: the deltas AND the keys merge must see one layout
        merged_full = (
            u.groupBy("key")
            .agg(
                F.max_by(payload, ordk).alias("w"),
                # at most one old row per key -> max picks it (null
                # when the key is batch-new)
                F.max(
                    F.when(F.col("__new") == 0, old_payload)
                ).alias("__o"),
                F.max("__new").cast("boolean").alias("__in_batch"),
            )
            .select(
                F.col("__o.live").alias("__o_live"),
                F.col("__o.grp").alias("__o_grp"),
                F.col("__o.val").alias("__o_val"),
                "__in_batch",
                "w",
            )
        ).localCheckpoint(eager=False)  # first consumer (deltas write
        # or, on replay, the keys commit) materializes it once

        deltas_dir = os.path.join(path, "deltas", f"epoch={epoch}")
        if not os.path.isdir(deltas_dir):
            # net per-group deltas vs the PRE-batch store: -old and
            # +winner for every key the batch touched (a stale event
            # keeps winner == old and cancels to zero in the sum)
            zero = F.lit(0).cast(value_type)
            minus = merged_full.filter(
                F.col("__in_batch") & F.coalesce("__o_live", F.lit(False))
            ).select(
                F.col("__o_grp").alias("grp"),
                F.lit(-1).cast("long").alias("d_n"),
                (-F.coalesce(F.col("__o_val"), zero)).alias("d_sum"),
            )
            plus = merged_full.filter(
                F.col("__in_batch") & F.col("w.live")
            ).select(
                F.col("w.grp").alias("grp"),
                F.lit(1).cast("long").alias("d_n"),
                F.coalesce(F.col("w.val"), zero).alias("d_sum"),
            )
            d = (
                minus.unionByName(plus)
                .groupBy("grp")
                .agg(
                    F.sum("d_n").alias("d_n"),
                    F.sum("d_sum").cast(value_type).alias("d_sum"),
                )
            )
            if track_minmax:
                # arrivals: the POST-state contributions of the
                # batch's keys — folding their min/max with
                # least/greatest is always sound (they are in the
                # group after this batch)
                arr = (
                    merged_full.filter(
                        F.col("__in_batch") & F.col("w.live")
                    )
                    .groupBy(F.col("w.grp").alias("grp"))
                    .agg(
                        F.min("w.val").alias("a_min"),
                        F.max("w.val").alias("a_max"),
                    )
                )
                # removals: an old live contribution the batch ended
                # (delete / group move / value change) — a stale event
                # (winner == old) removes nothing
                ended = ~(
                    F.col("w.live")
                    & F.col("w.grp").eqNullSafe(F.col("__o_grp"))
                    & F.col("w.val").eqNullSafe(F.col("__o_val"))
                )
                removals = merged_full.filter(
                    F.col("__in_batch")
                    & F.coalesce("__o_live", F.lit(False))
                    & ended
                    & F.col("__o_val").isNotNull()
                ).select(
                    F.col("__o_grp").alias("grp"),
                    F.col("__o_val").alias("val"),
                )
                # a removal AT the stored extremum may expose a new
                # one -> rescan that group after the keys commit.
                # Extrema come from the COMMITTED groups state, read
                # for the removal groups' buckets only.
                rb = sorted(
                    r["b"]
                    for r in removals.select(
                        bucket_of(["grp"], n_buckets).alias("b")
                    ).distinct().collect()
                )
                gstate = _read_groups_subset(
                    spark, path, rb, value_type, track_minmax
                )
                resc = (
                    removals.alias("__r")
                    .join(
                        gstate.alias("__s"),
                        F.col("__r.grp").eqNullSafe(F.col("__s.grp")),
                    )
                    .filter(
                        (F.col("__r.val") <= F.col("__s.min_val"))
                        | (F.col("__r.val") >= F.col("__s.max_val"))
                    )
                    .select(F.col("__r.grp").alias("grp"))
                    .distinct()
                    .withColumn("rescan", F.lit(True))
                )
                a = lambda c: F.col(f"__a.{c}")
                d = (
                    d.alias("__d")
                    .join(
                        arr.alias("__a"),
                        F.col("__d.grp").eqNullSafe(a("grp")),
                        "left",
                    )
                    .join(
                        resc.alias("__rs"),
                        F.col("__d.grp").eqNullSafe(F.col("__rs.grp")),
                        "left",
                    )
                    .select(
                        F.col("__d.grp").alias("grp"),
                        "d_n",
                        "d_sum",
                        a("a_min").alias("a_min"),
                        a("a_max").alias("a_max"),
                        F.coalesce(
                            F.col("__rs.rescan"), F.lit(False)
                        ).alias("rescan"),
                    )
                    # keep rows that move min/max even when the
                    # count/sum deltas net to zero (e.g. removals
                    # {1,5} + arrivals {2,4}): rescan flags and new
                    # candidate extrema must reach the groups commit
                    .filter(
                        (F.col("d_n") != 0)
                        | (F.col("d_sum") != 0)
                        | F.col("rescan")
                        | F.col("a_min").isNotNull()
                    )
                )
            else:
                d = d.filter((F.col("d_n") != 0) | (F.col("d_sum") != 0))
            tmp = os.path.join(path, "deltas", f".tmp-{epoch}")
            shutil.rmtree(tmp, ignore_errors=True)
            d.coalesce(1).write.mode("overwrite").parquet(tmp)
            os.rename(tmp, deltas_dir)  # atomic: the delta commit point

        # keys commit (idempotent under replay: same triples re-merge
        # to the same winners).  In minmax mode it must land BEFORE
        # the groups rescan reads the committed keys; the plain mode
        # defers it into the fused keys+groups write below (r14)
        merged_keys = merged_full.select("w.*")
        if track_minmax:
            commit_bucketed(
                merged_keys, keys_path, ["key"], n_buckets, entries,
                changed=changed, retain=retain, return_df=False,
            )

        # groups commit: the persisted deltas merge into ONLY the
        # buckets whose groups they touch (read through the _current
        # pointer — the committed state — then one bucketed write);
        # the epoch commit point stays a single atomic pointer replace
        # naming the new manifest snapshot + epoch.  A replay after a
        # crash between the bucketed write and the swap re-derives the
        # SAME bucket contents from the same committed base + deltas,
        # so the phantom commit is simply superseded.
        groot = os.path.join(path, "groups")
        d = spark.read.schema(
            _deltas_schema(value_type, track_minmax)
        ).parquet(deltas_dir)
        gentries = bucket_entries(
            groot, n_buckets, f"agg view groups at {path!r}"
        )
        legacy = cur is not None and cur[0].startswith("g-")
        if legacy:
            # one-time in-place migration of an r9 whole-table store:
            # fold the legacy version into every bucket this commit
            # (legacy stores predate track_minmax, so no minmax here)
            base = spark.read.parquet(os.path.join(groot, cur[0]))
            gchanged = list(range(n_buckets))
        else:
            # deltas are batch-sized: the distinct-bucket collect is
            # <= n_buckets rows
            gchanged = sorted(
                r["b"]
                for r in d.select(
                    bucket_of(["grp"], n_buckets).alias("b")
                ).distinct().collect()
            )
            base = _read_groups_subset(
                spark, path, gchanged, value_type, track_minmax
            )
        if track_minmax:
            # exact extrema for the flagged groups, from the
            # just-committed keys (idempotent under replay: the keys
            # re-merge to the same state).  The flag set is
            # batch-bounded -> broadcast; the keys scan runs only
            # when some extremum actually left its group.
            resc_g = d.filter(F.col("rescan")).select("grp")
            keys_now = read_bucketed_sink(spark, keys_path)
            rescanned = (
                keys_now.filter(F.col("live"))
                .alias("__k")
                .join(
                    F.broadcast(resc_g.alias("__g2")),
                    F.col("__k.grp").eqNullSafe(F.col("__g2.grp")),
                )
                .groupBy(F.col("__k.grp").alias("grp"))
                .agg(
                    F.min(F.col("__k.val")).alias("r_min"),
                    F.max(F.col("__k.val")).alias("r_max"),
                )
            )
        if track_minmax:
            g = lambda c: F.col(f"__g.{c}")
            dd = lambda c: F.col(f"__d.{c}")
            joined = base.alias("__g").join(
                d.alias("__d"), g("grp").eqNullSafe(dd("grp")), "full"
            )
            sel = [
                F.coalesce(g("grp"), dd("grp")).alias("grp"),
                (
                    F.coalesce(g("n_docs"), F.lit(0))
                    + F.coalesce(dd("d_n"), F.lit(0))
                ).alias("n_docs"),
                (
                    F.coalesce(g("sum_val"), F.lit(0).cast(value_type))
                    + F.coalesce(dd("d_sum"), F.lit(0).cast(value_type))
                )
                .cast(value_type)
                .alias("sum_val"),
            ]
            joined = joined.join(
                rescanned.alias("__r"),
                F.coalesce(g("grp"), dd("grp")).eqNullSafe(
                    F.col("__r.grp")
                ),
                "left",
            )
            flagged = F.coalesce(dd("rescan"), F.lit(False))
            sel += [
                F.when(flagged, F.col("__r.r_min"))
                .otherwise(F.least(g("min_val"), dd("a_min")))
                .cast(value_type)
                .alias("min_val"),
                F.when(flagged, F.col("__r.r_max"))
                .otherwise(F.greatest(g("max_val"), dd("a_max")))
                .cast(value_type)
                .alias("max_val"),
            ]
            nxt = joined.select(*sel)
        else:
            # ONE hash aggregation replaces the full-outer base⋈delta
            # (r14, same rewrite as the keys merge): base and deltas
            # each hold ONE row per grp, so summing the union equals
            # the coalesce-add of the join form exactly (two-term
            # addition either way)
            nxt = (
                base.select("grp", "n_docs", "sum_val")
                .unionByName(
                    d.select(
                        "grp",
                        F.col("d_n").alias("n_docs"),
                        F.col("d_sum").cast(value_type).alias("sum_val"),
                    )
                )
                .groupBy("grp")
                .agg(
                    F.sum("n_docs").alias("n_docs"),
                    F.sum("sum_val").cast(value_type).alias("sum_val"),
                )
            )
        nxt = nxt.localCheckpoint(eager=False)
        # the invariant probe below materializes it
        # a NEGATIVE count can only mean a double-subtract (deltas
        # applied twice / contribution removed that was never added) —
        # fail the batch loudly instead of silently dropping the group
        # with the n_docs > 0 filter below
        neg = nxt.filter(F.col("n_docs") < 0)
        if not neg.isEmpty():
            bad = neg.limit(3).collect()
            raise PipelineError(
                f"agg view invariant violated at {path!r} epoch "
                f"{epoch}: negative group counts {bad} — deltas "
                "double-applied?"
            )
        nxt = nxt.filter(F.col("n_docs") > 0)
        # snapshots retained >= 3 deep: the pointer always lags the
        # newest commit by at most one (plus at most one phantom), so
        # the snapshot _current names can never be pruned before the
        # swap that follows
        if track_minmax:
            commit_bucketed(
                nxt, groot, ["grp"], n_buckets, gentries,
                changed=gchanged, retain=max(3, retain), return_df=False,
            )
        else:
            # ONE fused write commits keys AND groups (r14); the
            # finalize order (keys first) preserves the documented
            # apply order — a crash between finalizes leaves keys
            # committed and groups not, which the replay re-merges
            # idempotently from the persisted deltas
            commit_bucketed_fused(
                [
                    dict(
                        name="keys", df=merged_keys, path=keys_path,
                        on=["key"], n_buckets=n_buckets,
                        entries=entries, changed=changed,
                        retain=retain,
                    ),
                    dict(
                        name="groups", df=nxt, path=groot,
                        on=["grp"], n_buckets=n_buckets,
                        entries=gentries, changed=gchanged,
                        retain=max(3, retain),
                    ),
                ],
                path,
            )
        publish_pointer(groot, epoch)
        if legacy:
            # the pointer no longer references any g- version: drop
            # the migrated whole-table dirs (numeric order is
            # irrelevant — all of them are superseded)
            for dn in os.listdir(groot):
                if dn.startswith("g-"):
                    shutil.rmtree(
                        os.path.join(groot, dn), ignore_errors=True
                    )

        # GC: consumed delta files older than the retention window
        # (the current epoch's stay for audit/debug one window long);
        # superseded groups versions are GC'd by the bucketed sink's
        # own retention inside commit_bucketed
        droot = os.path.join(path, "deltas")
        depochs = sorted(
            int(dn.split("=", 1)[1])
            for dn in os.listdir(droot)
            if dn.startswith("epoch=")
        )
        for e in depochs[: max(0, len(depochs) - retain)]:
            shutil.rmtree(
                os.path.join(droot, f"epoch={e}"), ignore_errors=True
            )
        return True


def compact_agg_view_keys(
    spark: SparkSession,
    path: str,
    files_per_bucket: int = 1,
    purge_tombstones: bool = False,
    retain: int = 2,
) -> DataFrame | None:
    """Compact the view's keys store (the compact_replica sibling):
    rewrite every bucket into ``files_per_bucket`` files, capping the
    small-file growth of per-batch commits.  Runs under the SAME view
    lock the batch apply takes, so a concurrent batch can never be
    erased by the compaction's manifest swap.

    ``purge_tombstones`` defaults to FALSE here, unlike the replica:
    a purged tombstone lets a late out-of-order event older than the
    delete re-add its contribution — and in this store that silently
    CORRUPTS the aggregate (the group re-gains a count the delete
    already subtracted), rather than just resurrecting a readable
    document.  Purge only when the source's reordering horizon has
    provably passed (e.g. the change stream is the only writer and its
    resume token is beyond the tombstones' triples)."""
    keys_path = os.path.join(path, "keys")
    with bucketed_sink_lock(path):
        mf = read_bucket_manifest(keys_path)
        if mf is None:
            return None
        n_buckets, entries = mf
        cur = read_bucketed_sink(spark, keys_path)
        if cur is None:
            return None
        if purge_tombstones:
            cur = cur.filter(F.col("live"))
        compacted = cur.repartition(
            max(1, files_per_bucket * n_buckets),
            bucket_of(["key"], n_buckets),
        )
        return commit_bucketed(
            compacted, keys_path, ["key"], n_buckets, entries,
            sorted(entries), retain=retain,
        )
