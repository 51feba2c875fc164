"""Incremental materialized JOIN view over a CDC stream.

The replica answers "what does document k look like now?", the
aggregate view "what do documents sum to per group?"; this store
answers "what does FACT ⋈ DIM look like now?" without re-running the
join: each micro-batch applies only the join-row CHANGES its own keys
induce, so per-batch work is O(batch + touched buckets + dim-change
fan-out) — classic incremental view maintenance for joins
(ΔV = ΔF ⋈ D' ∪ (F' − ΔF) ⋈ ΔD), while a recompute would re-shuffle
both full tables every trigger.

The two sides live in ONE watched collection (the polymorphic-
collection pattern Mongo deployments actually use), discriminated by
a JSON field of the post-image (``side_path``; default ``$.side`` with
values ``"f"`` fact / ``"d"`` dim).  Facts reference dims through
``fk_path`` (default ``$.fk``), whose value must equal the dim
document's ``documentKey``.  The maintained view is the INNER join
(one row per live fact whose fk resolves to a live dim) or, with
``join_type="left"``, the LEFT join: one row per live fact, with
``dim_doc`` NULL until its dim exists and NULL again after the dim
is deleted — the semantics a replica-serving join usually wants.

## Layout under ``path``

- ``facts/``      — bucketed sink BY FACT KEY: (key, live, fk, doc,
  __t, __i, __d), LWW per key, deletes persist as tombstones.
- ``dims/``       — bucketed sink BY DIM KEY: (key, live, doc, triple).
- ``fact_by_fk/`` — the SECONDARY INDEX: the same fact state bucketed
  BY FK, LWW per (fk, key).  A fact whose fk CHANGES writes its live
  row into the new fk's bucket and a tombstone (same write triple)
  into the old fk's — both buckets are batch-touched, so a dim change
  finds its affected facts by reading only its own fk buckets instead
  of scanning the fact table.
- ``view_deltas/epoch=N/view/`` — the batch's view-row changes
  (key, live, fk, fact_doc, dim_doc) and ``.../idx/`` — the batch's
  secondary-index deltas (live rows + old-fk tombstones), BOTH
  persisted under ONE atomic rename BEFORE any commit (replay
  contract below; the idx rows are derived from the pre-commit fact
  state and cannot be re-derived once the facts store has committed).
- ``view/`` + ``view/_current`` — the joined table (key, fk,
  fact_doc, dim_doc), bucketed BY FACT KEY; ``_current`` names the
  committed manifest snapshot plus the applied epoch — the single
  atomic commit point, exactly the aggregate view's groups protocol.

## Delta computation (all against PRE-commit state)

Fact-driven: each batch fact key's post-LWW row joins the POST-batch
dim state of its fk (committed dims for the fk's buckets, overlaid
with the batch's dim winners) — live fact + live dim => upsert, else
delete.  Dim-driven: each batch dim key's change fans out to the
COMMITTED live index rows under that fk (batch fact keys excluded —
the fact branch already decided them): dim live => upsert with the
new dim doc, dim delete => delete.  The branches are disjoint by
construction, so their union is the exact ΔV.

## Exactly-once replay contract

Apply order: (1) persist view deltas AND index deltas (one atomic
rename), (2) commit facts, dims, fact_by_fk (LWW re-merges are
idempotent), (3) commit view + epoch pointer.  On replay: view epoch
>= N => skip; ``view_deltas/epoch=N`` exists => NEVER recompute
deltas (the stores may already include the batch — recomputed view
deltas would cancel to nothing, and re-derived index tombstones
compare old.fk against an already-committed winner and vanish),
re-merge the stores, apply the PERSISTED deltas;
neither => full first-time apply.  The whole apply runs under the
view's write lock.

Reference parity: the reference relay (producing/change_event_handler
.py) forwards events; join maintenance is engine extension surface
(SURVEY.md §2.D), semantics per the standard counting/delta-join IVM
literature.
"""

from __future__ import annotations

import json
import logging
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
    flatten_bucket_dirs,
    pointer_current,
    publish_pointer,
    read_bucket_manifest,
    read_bucketed_sink,
    read_delta_dir,
    read_schemaed,
    resolve_pointer,
    write_atomic,
)
from pymongo_change_stream_reader_spark.streaming.materialize import (
    _ORDER,
    _last_event_per_key,
    merge_lww,
)

__all__ = [
    "join_view_batch",
    "read_join_view",
    "compact_join_view",
]

_VIEW_COLS = ("key", "fk", "fact_doc", "dim_doc")


def read_join_view(spark: SparkSession, path: str) -> DataFrame | None:
    """The current joined table (key, fk, fact_doc, dim_doc); None
    before the first applied batch."""
    vroot = os.path.join(path, "view")
    res = resolve_pointer(vroot, "join view")
    if res is None:
        return None
    entries, _ep = res
    dirs = [
        os.path.join(vroot, rel)
        for rel in entries.values()
        if os.path.isdir(os.path.join(vroot, rel))
    ]
    if not dirs:
        return spark.createDataFrame(
            [], "key STRING, fk STRING, fact_doc STRING, dim_doc STRING"
        )
    return spark.read.parquet(*dirs).select(*_VIEW_COLS)


def join_view_batch(
    batch: DataFrame,
    path: str,
    epoch: int,
    side_path: str = "$.side",
    fact_side: str = "f",
    dim_side: str = "d",
    fk_path: str = "$.fk",
    dim_id_path: str | None = None,
    n_buckets: int = 16,
    retain: int = 2,
    join_type: str = "inner",
    reduced: DataFrame | None = None,
) -> bool:
    """Apply one micro-batch of change events to the join view at
    ``path``.  Returns True when the batch applied, False on a
    fully-committed replayed epoch.

    Contract: non-delete events carry a post-image
    (fullDocument=updateLookup — the serving-store contract) with the
    ``side_path`` discriminator; fact post-images carry ``fk_path``.
    ``dim_id_path`` maps a dim's documentKey into the fk value domain
    (``"$._id"`` for the Mongo-shaped ``{"_id": ...}`` documentKey
    whose _id VALUE the facts reference; None when facts reference the
    raw documentKey string) — the dims store and the secondary index
    bucket by this JOIN KEY, so fk lookups hit the right buckets
    directly.  Fact and dim keys are disjoint (one collection, one
    _id space); a delete without a post-image tombstones BOTH stores
    (the wrong side's tombstone is inert under LWW and purged by
    compaction — cheaper than per-batch membership lookups, and
    batch-order independent).

    ``join_type``: ``"inner"`` keeps one view row per live fact whose
    fk resolves to a live dim; ``"left"`` keeps EVERY live fact (the
    semantics a replica-serving join usually wants — facts are
    visible before their dim arrives), NULL-padding ``dim_doc`` until
    the dim shows up and reverting to NULL when it is deleted.  The
    delta algebra is identical except for row liveness (a fact's view
    row lives with the FACT, not the join), so the storage layout,
    index, and replay contract do not change."""
    spark = batch.sparkSession
    if join_type not in ("inner", "left"):
        raise PipelineError(
            f"join view: join_type must be 'inner' or 'left', "
            f"got {join_type!r}"
        )
    left = join_type == "left"
    os.makedirs(os.path.join(path, "view_deltas"), exist_ok=True)
    os.makedirs(os.path.join(path, "view"), exist_ok=True)
    facts_path = os.path.join(path, "facts")
    dims_path = os.path.join(path, "dims")
    idx_path = os.path.join(path, "fact_by_fk")

    data = batch.filter(
        F.col("operationType").isin("insert", "update", "replace", "delete")
    )
    with bucketed_sink_lock(path):
        cfg = dict(
            side_path=side_path, fact_side=fact_side, dim_side=dim_side,
            fk_path=fk_path, dim_id_path=dim_id_path,
            n_buckets=n_buckets, join_type=join_type,
        )
        cfg_path = os.path.join(path, "_config.json")
        if os.path.exists(cfg_path):
            stored = json.load(open(cfg_path))
            # pre-join_type stores were all inner joins
            stored.setdefault("join_type", "inner")
            if stored != cfg:
                raise PipelineError(
                    f"join view at {path!r} was created with a "
                    "different definition; deltas across definitions "
                    "do not compose"
                )
        else:
            write_atomic(cfg_path, json.dumps(cfg))
        cur = pointer_current(os.path.join(path, "view"))
        if cur is not None and cur[1] >= epoch:
            return False

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
        ).localCheckpoint(eager=False)
        side = F.get_json_object("doc", side_path)
        # validation rides the combined bucket-discovery job below
        # (r10 spent a dedicated aggregation job on it): violating
        # keys surface as tagged rows of the same collect, and the
        # raise happens before anything is written
        bad_side = (F.col("op") != "delete") & ~F.coalesce(
            side.isin(fact_side, dim_side), F.lit(False)
        )
        violations = last.filter(F.col("__bad")).select(
            F.lit(3).alias("t"), F.lit(-1).alias("b")
        ).unionByName(
            last.filter(bad_side).select(
                F.lit(4).alias("t"), F.lit(-1).alias("b")
            )
        )
        last = last.drop("__bad")

        live = F.col("op") != "delete"
        jk_of = (
            (lambda col: F.get_json_object(col, dim_id_path))
            if dim_id_path
            else (lambda col: col)
        )
        fact_winners = last.filter(live & (side == fact_side)).select(
            "key",
            F.lit(True).alias("live"),
            F.get_json_object("doc", fk_path).alias("fk"),
            "doc",
            *[F.col(c) for c in _ORDER],
        )
        dim_winners = last.filter(live & (side == dim_side)).select(
            "key",
            jk_of(F.col("key")).alias("jk"),
            F.lit(True).alias("live"),
            "doc",
            *[F.col(c) for c in _ORDER],
        )
        deletes = last.filter(~live).select(
            "key", *[F.col(c) for c in _ORDER]
        )

        # doc-less deletes tombstone BOTH stores unconditionally: the
        # key belongs to exactly one side (disjoint key spaces), so
        # the other side's tombstone is inert — the LWW merge keeps it
        # as a dead row no live row ever contests, the view delta it
        # induces anti-joins into nothing, and compaction purges it.
        # The alternative (membership routing) costs two manifest
        # reads + two bucket-lookup jobs on EVERY batch with a delete
        # — measured as a real slice of the per-batch floor — to save
        # tombstone rows bounded by the delete count.
        fact_winners = fact_winners.unionByName(
            deletes.select(
                "key",
                F.lit(False).alias("live"),
                F.lit(None).cast("string").alias("fk"),
                F.lit(None).cast("string").alias("doc"),
                *[F.col(c) for c in _ORDER],
            )
        ).localCheckpoint(eager=False)
        dim_winners = dim_winners.unionByName(
            deletes.select(
                "key",
                jk_of(F.col("key")).alias("jk"),
                F.lit(False).alias("live"),
                F.lit(None).cast("string").alias("doc"),
                *[F.col(c) for c in _ORDER],
            )
        ).localCheckpoint(eager=False)

        # ONE job discovers BOTH stores' touched buckets (r10 paid a
        # distinct-collect per store), runs the batch validations
        # (tagged rows 3/4), and materializes the two winner
        # checkpoints as a side effect — part of the round-11 cut of
        # the per-batch driver-job floor
        wb = (
            fact_winners.select(
                F.lit(0).alias("t"),
                bucket_of(["key"], n_buckets).alias("b"),
            )
            .unionByName(
                dim_winners.select(
                    F.lit(1).alias("t"),
                    bucket_of(["jk"], n_buckets).alias("b"),
                )
            )
            .unionByName(violations)
            .distinct()
            .collect()
        )
        if any(r["t"] == 3 for r in wb):
            raise PipelineError(
                "join view maintenance needs a post-image per "
                "non-delete event (fullDocument=updateLookup)"
            )
        if any(r["t"] == 4 for r in wb):
            raise PipelineError(
                f"join view: post-image {side_path} must be "
                f"{fact_side!r} or {dim_side!r}"
            )
        f_changed = sorted(r["b"] for r in wb if r["t"] == 0)
        d_changed = sorted(r["b"] for r in wb if r["t"] == 1)

        # winners-derived schemas skip the per-version driver-side
        # footer inference on every store read (config-fixed layouts;
        # missing columns null-fill — read_entry_dirs semantics).
        # The merges carry an __in_batch flag: the post-LWW batch
        # subsets (batch keys only — replays where the store already
        # has the batch keep winner == stored row) are FILTERS over
        # the one checkpointed merged frame instead of two dedicated
        # semi-join jobs (r14)
        fact_merged_f, fact_old, f_entries, _ = merge_lww(
            spark, fact_winners, facts_path, ["key"], ["key"], n_buckets,
            changed=f_changed, schema=fact_winners.schema,
            batch_flag="__in_batch",
        )
        fact_merged_f = fact_merged_f.localCheckpoint(eager=False)
        fact_merged = fact_merged_f.drop("__in_batch")
        batch_fact_post = fact_merged_f.filter(
            F.col("__in_batch")
        ).drop("__in_batch")
        dim_merged_f, _dim_old, d_entries, _ = merge_lww(
            spark, dim_winners, dims_path, ["key"], ["jk"], n_buckets,
            changed=d_changed, schema=dim_winners.schema,
            batch_flag="__in_batch",
        )
        dim_merged_f = dim_merged_f.localCheckpoint(eager=False)
        dim_merged = dim_merged_f.drop("__in_batch")
        batch_dim_post = dim_merged_f.filter(
            F.col("__in_batch")
        ).drop("__in_batch")

        # secondary-index deltas: live row at the winner's fk plus a
        # tombstone at the old fk when the old live row's fk no longer
        # holds (fk move or fact delete); same triple as the winner so
        # the index LWW resolves replays identically
        fo = fact_old.select(
            F.col("key"),
            F.col("live").alias("__ol"),
            F.col("fk").alias("__ofk"),
        )
        w_with_old = batch_fact_post.alias("__w").join(
            fo.alias("__fo"), "key", "left"
        )
        idx_live = w_with_old.filter(F.col("live")).select(
            "fk", "key", "live", "doc", *[F.col(c) for c in _ORDER]
        )
        idx_tomb = w_with_old.filter(
            F.coalesce(F.col("__ol"), F.lit(False))
            & F.col("__ofk").isNotNull()
            & (
                ~F.col("live")
                | ~F.col("fk").eqNullSafe(F.col("__ofk"))
            )
        ).select(
            F.col("__ofk").alias("fk"),
            "key",
            F.lit(False).alias("live"),
            F.lit(None).cast("string").alias("doc"),
            *[F.col(c) for c in _ORDER],
        )
        # a live fact without an fk has no index row (it can join no
        # dim, and no dim change can affect it).  NOT checkpointed
        # (r14b): the fused delta write below is the frame's only
        # consumer — the write materializes it and its touched
        # buckets come back from the write's partition dirs, so a
        # checkpoint here would only add a Catalyst planning pass
        # plus its eagerly-materialized stage jobs (the ER lesson).
        idx_winners = idx_live.filter(
            F.col("fk").isNotNull()
        ).unionByName(idx_tomb)

        # ONE probe job replaces the r10 pin counts: it materializes
        # batch_fact_post and batch_dim_post (everything downstream
        # reads the cached checkpoints) and returns the fact branch's
        # dims-lookup buckets (t=0).  Bucket ids are pure value
        # hashes, so fk values hash identically to the jk/fk
        # bucketing of the stores they address.  The index/view
        # stores' touched buckets no longer ride this collect — they
        # are derived from the delta write's partition dirs (r14b).
        probe = (
            batch_fact_post.filter(
                F.col("live") & F.col("fk").isNotNull()
            )
            .select(
                F.lit(0).alias("t"),
                bucket_of(["fk"], n_buckets).alias("b"),
            )
            .unionByName(
                batch_dim_post.select(
                    F.lit(2).alias("t"), F.lit(-1).alias("b")
                )
            )
            .distinct()
            .collect()
        )
        fkb = sorted(r["b"] for r in probe if r["t"] == 0)

        deltas_dir = os.path.join(path, "view_deltas", f"epoch={epoch}")
        if not os.path.isdir(deltas_dir):
            # ---- fact-driven ΔV: batch fact keys join POST-batch dims
            dmf = read_bucket_manifest(dims_path)
            if dmf is None:
                dim_base = dim_merged.filter(F.lit(False))
            else:
                # dims bucket by JOIN KEY, so the facts' fk values
                # address the buckets directly (fkb: probe job above)
                rows = read_schemaed(
                    spark, dims_path,
                    [dmf[1][k] for k in fkb if k in dmf[1]],
                    dim_winners.schema,
                )
                dim_base = (
                    rows
                    if rows is not None
                    else dim_merged.filter(F.lit(False))
                )
            dim_post = dim_base.join(
                dim_winners.select("key").distinct(), "key", "anti"
            ).unionByName(batch_dim_post).filter(F.col("live"))
            dpost = dim_post.select(
                F.col("jk").alias("fk"),
                F.col("doc").alias("dim_doc"),
            )
            fact_delta = (
                batch_fact_post.alias("__f")
                .join(dpost.alias("__d"), "fk", "left")
                .select(
                    F.col("key"),
                    (
                        # LEFT: the view row lives with the FACT —
                        # dim_doc rides along NULL-padded
                        F.col("live")
                        if left
                        else F.col("live") & F.col("dim_doc").isNotNull()
                    ).alias("live"),
                    F.col("fk"),
                    F.col("doc").alias("fact_doc"),
                    F.col("dim_doc"),
                )
            )
            # ---- dim-driven ΔV: committed live index rows under the
            # batch's dim keys, batch fact keys excluded.  The dim
            # keys' buckets are d_changed (the dims store buckets by
            # the SAME jk values — no second collect).
            imf = read_bucket_manifest(idx_path)
            if imf is None:
                affected = idx_winners.filter(F.lit(False))
            else:
                rows = read_schemaed(
                    spark, idx_path,
                    [imf[1][k] for k in d_changed if k in imf[1]],
                    idx_winners.schema,
                )
                affected = (
                    rows
                    if rows is not None
                    else idx_winners.filter(F.lit(False))
                )
            affected = (
                affected.filter(F.col("live"))
                .join(
                    dim_winners.select(F.col("jk").alias("fk")).distinct(),
                    "fk",
                    "semi",
                )
                .join(
                    batch_fact_post.select("key").distinct(),
                    "key",
                    "anti",
                )
            )
            dim_delta = (
                affected.alias("__x")
                .join(
                    batch_dim_post.select(
                        F.col("jk").alias("fk"),
                        F.col("live").alias("__dl"),
                        F.col("doc").alias("dim_doc"),
                    ).alias("__d"),
                    "fk",
                )
                .select(
                    F.col("key"),
                    (
                        # LEFT: a dim delete reverts its facts' rows
                        # to NULL-padded instead of deleting them
                        F.lit(True)
                        if left
                        else F.col("__dl")
                    ).alias("live"),
                    F.col("fk"),
                    F.col("doc").alias("fact_doc"),
                    F.when(F.col("__dl"), F.col("dim_doc")).alias(
                        "dim_doc"
                    ),
                )
            )
            d = fact_delta.unionByName(dim_delta)
            tmp = os.path.join(path, "view_deltas", f".tmp-{epoch}")
            shutil.rmtree(tmp, ignore_errors=True)
            # the index deltas (tombstones included) ride the SAME
            # atomic rename as the view deltas: they are derived from
            # fact_old, which is only meaningful PRE-commit — the
            # store commits land independently, so a crash after
            # the facts commit but before the index commit would make
            # a re-derivation see old.fk == winner.fk and drop the
            # tombstone, leaving a stale live index row at the old fk
            # forever (a later dim change would fan out to it and
            # overwrite the fact's view row with stale data).  r14:
            # ONE tagged write replaces the two thread-overlapped
            # writes (one Spark action + one commit protocol); the
            # partition dirs rename back to the view/ + idx/ layout
            # so replay readers are unchanged.  r14b: both frames
            # carry their commit-bucket id as a second partition
            # column, so the view/index stores' touched-bucket lists
            # are read off the written dirs (zero driver jobs)
            # instead of riding a probe leg + a post-write collect.
            du = d.withColumn(
                "__b", bucket_of(["key"], n_buckets)
            ).withColumn("__delta", F.lit("view")).unionByName(
                idx_winners.withColumn(
                    "__b", bucket_of(["fk"], n_buckets)
                ).withColumn("__delta", F.lit("idx")),
                allowMissingColumns=True,
            )
            du.coalesce(1).write.partitionBy("__delta", "__b").mode(
                "overwrite"
            ).parquet(tmp)
            derived: dict[str, list[int]] = {}
            for sub in ("view", "idx"):
                src = os.path.join(tmp, f"__delta={sub}")
                dst = os.path.join(tmp, sub)
                if os.path.isdir(src):
                    os.rename(src, dst)
                    derived[sub] = flatten_bucket_dirs(dst)
                else:
                    # empty frame -> no partition dir; keep the
                    # layout so replays read an empty delta (and the
                    # legacy flat-layout fallback never misfires)
                    os.makedirs(dst, exist_ok=True)
                    derived[sub] = []
            # the index AND view stores' touched buckets, persisted
            # with the deltas so neither the replay path nor the
            # first apply needs a discovery job
            write_atomic(
                os.path.join(tmp, "_meta.json"),
                json.dumps(
                    {
                        "i_changed": derived["idx"],
                        "vchanged": derived["view"],
                    }
                ),
            )
            os.rename(tmp, deltas_dir)  # atomic: the delta commit point

        # replay-stable index deltas: ALWAYS consume the persisted
        # rows (captured against the genuinely pre-commit fact_old),
        # never a re-derivation against possibly-already-committed
        # stores.  The touched-bucket list rides the persisted
        # _meta.json (no discovery job on replay).  Legacy epochs
        # persisted before the idx subdir existed fall back to the
        # derived frame and an in-merge collect.
        idx_delta_dir = os.path.join(deltas_dir, "idx")
        i_changed: list[int] | None = None
        vchanged: list[int] | None = None
        if os.path.isdir(idx_delta_dir):
            # schema'd read: r14's fused delta write can leave an
            # EMPTY idx dir (and union-surplus null columns in the
            # files); the explicit schema reads both layouts alike
            idx_winners = read_delta_dir(
                spark, idx_delta_dir, idx_winners.schema
            ).select("fk", "key", "live", "doc", *_ORDER)
            meta_path = os.path.join(deltas_dir, "_meta.json")
            if os.path.exists(meta_path):
                meta = json.load(open(meta_path))
                i_changed = meta["i_changed"]
                # r14b metas carry the view buckets too; older
                # epochs fall back to the discovery collect below
                vchanged = meta.get("vchanged")
        else:
            # legacy pre-idx-subdir delta epoch: the re-derived index
            # frame is NOT replay-stable — a crash AFTER the facts
            # commit re-derives tombstones against the already-
            # committed winner and drops them, leaving a stale live
            # index row.  One-time upgrade window only; surface it
            # (RUNBOOK §"upgrading" says to re-verify/compact an
            # in-flight crashed epoch from a pre-upgrade build).
            logging.getLogger(__name__).warning(
                "join view %s epoch %d: legacy flat-layout delta epoch "
                "(no idx/ subdir) — replaying with RE-DERIVED index "
                "deltas, which can miss tombstones if the crash "
                "happened after the facts commit; re-verify or compact "
                "this view (see RUNBOOK)",
                path,
                epoch,
            )

        # store + view commits (idempotent LWW re-merges) — facts,
        # dims, the index AND the view mutate INDEPENDENT directories,
        # so all four commit chains overlap from one driver-side pool
        # (each spends most of its wall time blocked on write/manifest
        # latency; the inputs are all checkpointed or persisted files,
        # so cross-thread plan reuse is safe).  The view chain (bucket
        # collect over the tiny persisted delta file -> committed-base
        # anti-join merge -> version write) reads only the view's OWN
        # committed state + the delta file, neither touched by the
        # store commits; crash safety is unchanged because the epoch
        # POINTER swap — the single visibility point — still happens
        # strictly after every commit returns (a crash leaves at worst
        # an orphaned unreferenced view version, GC'd by retention).
        idx_merged, _io, i_entries, i_changed = merge_lww(
            spark, idx_winners, idx_path, ["fk", "key"], ["fk"], n_buckets,
            changed=i_changed, schema=idx_winners.schema,
        )
        view_delta_dir = os.path.join(deltas_dir, "view")
        if not os.path.isdir(view_delta_dir):
            view_delta_dir = deltas_dir  # legacy flat layout
        d = spark.read.schema(
            "key STRING, live BOOLEAN, fk STRING, "
            "fact_doc STRING, dim_doc STRING"
        ).parquet(view_delta_dir)
        vroot = os.path.join(path, "view")
        ventries = bucket_entries(vroot, n_buckets, f"join view at {path!r}")

        if vchanged is None:
            # pre-r14b delta epoch without a persisted view-bucket
            # list: one discovery collect over the tiny delta file
            vchanged = sorted(
                r["b"]
                for r in d.select(
                    bucket_of(["key"], n_buckets).alias("b")
                )
                .distinct()
                .collect()
            )
        res = resolve_pointer(vroot, "join view")
        committed = dict(res[0]) if res is not None else {}
        base_rows = read_schemaed(
            spark, vroot,
            [committed[k] for k in vchanged if k in committed],
            ", ".join(f"{c} STRING" for c in _VIEW_COLS),
        )
        if base_rows is None:
            base_rows = spark.createDataFrame(
                [],
                "key STRING, fk STRING, "
                "fact_doc STRING, dim_doc STRING",
            )
        nxt = (
            base_rows.select(*_VIEW_COLS)
            .join(d.select("key").distinct(), "key", "anti")
            .unionByName(d.filter(F.col("live")).select(*_VIEW_COLS))
        )
        # ONE fused write commits all four stores (r14 — the r13 wave
        # pooled four separate commit_bucketed writes, each its own
        # Spark action + commit protocol); the per-store manifest
        # finalize stays sequential filesystem work, and the crash
        # surface (a prefix of stores committed) is exactly what the
        # persisted deltas already cover.
        commit_bucketed_fused(
            [
                dict(
                    name="facts", df=fact_merged, path=facts_path,
                    on=["key"], n_buckets=n_buckets, entries=f_entries,
                    changed=f_changed, retain=retain,
                ),
                dict(
                    name="dims", df=dim_merged, path=dims_path,
                    on=["jk"], n_buckets=n_buckets, entries=d_entries,
                    changed=d_changed, retain=retain,
                ),
                dict(
                    name="fact_by_fk", df=idx_merged, path=idx_path,
                    on=["fk"], n_buckets=n_buckets, entries=i_entries,
                    changed=i_changed, retain=retain,
                ),
                dict(
                    name="view", df=nxt, path=vroot, on=["key"],
                    n_buckets=n_buckets, entries=ventries,
                    changed=vchanged, retain=max(3, retain),
                ),
            ],
            path,
        )

        # the POINTER swap is the batch's single visibility point and
        # runs only after every store and the view version are durable
        publish_pointer(vroot, epoch)

        # GC consumed delta dirs beyond the retention window
        droot = os.path.join(path, "view_deltas")
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


def compact_join_view(
    spark: SparkSession,
    path: str,
    files_per_bucket: int = 1,
    purge_tombstones: bool = False,
    retain: int = 2,
) -> dict:
    """Compact the view's three LWW stores (the compact_replica
    sibling): rewrite every bucket of ``facts/``, ``dims/`` and
    ``fact_by_fk/`` into ``files_per_bucket`` files, capping the
    small-file growth of per-batch commits.  Runs under the SAME view
    lock the batch apply takes.  Returns per-store compacted row
    counts.

    ``purge_tombstones`` defaults to FALSE: a purged tombstone lets a
    late out-of-order event older than the delete re-add its row —
    and here that silently changes the VIEW (a dead fact's join row
    resurrects).  It is also the switch that reclaims the INERT
    wrong-side tombstones the unconditional delete routing writes
    (they are shape-identical to real ones).  Purge only when the
    source's reordering horizon has provably passed.  The ``view/``
    table itself holds no tombstones (deletes remove its rows) and
    compacts with its epoch pointer re-pinned to the fresh snapshot."""
    counts: dict[str, int] = {}
    with bucketed_sink_lock(path):
        for store, bucket_col in (
            ("facts", "key"),
            ("dims", "jk"),
            ("fact_by_fk", "fk"),
        ):
            sp = os.path.join(path, store)
            mf = read_bucket_manifest(sp)
            if mf is None:
                continue
            n_buckets, entries = mf
            cur = read_bucketed_sink(spark, sp)
            if cur is None:
                continue
            if purge_tombstones:
                cur = cur.filter(F.col("live"))
            compacted = cur.repartition(
                max(1, files_per_bucket * n_buckets),
                bucket_of([bucket_col], n_buckets),
            ).localCheckpoint(eager=True)
            counts[store] = compacted.count()
            commit_bucketed(
                compacted, sp, [bucket_col], n_buckets, entries,
                sorted(entries), retain=retain, return_df=False,
            )
        # view table: rewrite the committed buckets and re-pin the
        # pointer to the fresh snapshot at the SAME epoch
        vroot = os.path.join(path, "view")
        res = resolve_pointer(vroot, "join view")
        if res is not None:
            entries, epoch = res
            dirs = [
                os.path.join(vroot, rel)
                for rel in entries.values()
                if os.path.isdir(os.path.join(vroot, rel))
            ]
            if dirs:
                vmf = read_bucket_manifest(vroot)
                n_buckets = vmf[0]
                rows = spark.read.parquet(*dirs).select(*_VIEW_COLS)
                compacted = rows.repartition(
                    max(1, files_per_bucket * n_buckets),
                    bucket_of(["key"], n_buckets),
                ).localCheckpoint(eager=True)
                counts["view"] = compacted.count()
                commit_bucketed(
                    compacted, vroot, ["key"], n_buckets,
                    dict(vmf[1]), sorted(dict(vmf[1])),
                    retain=max(3, retain), return_df=False,
                )
                publish_pointer(vroot, epoch)
    return counts
