"""Incremental materialized STAR view over a CDC stream: ONE fact
side joined against N dimension sides (``fact LEFT/INNER dim_1 ...
LEFT/INNER dim_n``) — the star-schema generalization of
streaming/join_view.py's single-dim view, maintained with the same
bucketed-LWW-store + persisted-delta + epoch-pointer machinery.

All sides live in ONE watched collection, discriminated by a JSON
field of the post-image (``side_path``): the fact side plus one
``DimSide.side`` value per dimension kind.  Facts reference each
dimension through that side's own ``fk_path`` on the fact document.

## Layout under ``path``

- ``facts/``       — (key, live, doc, fk_<side>..., __t, __i, __d)
  bucketed BY FACT KEY; the fk columns are extracted at write time so
  index tombstoning never re-parses stored JSON.
- ``dims_<side>/`` — per dimension side: (key, jk, live, doc, triple)
  bucketed BY JOIN KEY.
- ``idx_<side>/``  — per side's SECONDARY INDEX: fact state bucketed
  BY THAT SIDE'S FK (fk, key, live, doc, triple); fk moves write a
  tombstone into the old fk's bucket.
- ``view_deltas/epoch=N/{view, idx_<side>...}/`` + ``_meta.json`` —
  the batch's view-row changes AND every side's index deltas (plus
  their touched-bucket lists), persisted under ONE atomic rename
  BEFORE any commit — index tombstones are derived from PRE-commit
  fact state and cannot be re-derived after the facts store commits
  (the join-view replay lesson).
- ``view/`` + ``view/_current`` — (key, fact_doc, fk_<side>,
  dim_<side>...) bucketed BY FACT KEY; the pointer swap is the single
  visibility point.

## Delta algebra — the RECOMPUTE SET

The single-dim view patches rows per branch (fact-driven vs
dim-driven); with N sides a fact can be hit by SEVERAL dim sides in
one batch, and branch-wise patching would emit conflicting rows.  The
star view instead builds the batch's recompute set R — batch fact
keys UNION facts found under any batch dim key through that side's
index (batch fact keys excluded) — and recomputes each key's WHOLE
row once: every side's post-batch dim state is resolved by reading
only the dim buckets R's fk values address (committed rows outside
the batch's dim keys, overlaid with the batch's dim winners).  Work
stays O(batch + touched buckets + fan-out); a row is emitted exactly
once per key.

Per batch the driver pays a fixed number of wall sections independent
of N: one combined validation+winner-bucket collect, one index/pin
probe, one recompute-set probe, the (parallel) delta writes, the
(parallel) 2N+2 commit chains, and the pointer swap.

Reference parity: engine extension surface (SURVEY.md §2.D), the
standard delta-join IVM algebra extended to multi-way star joins.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass

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
    "DimSide",
    "star_view_batch",
    "read_star_view",
    "compact_star_view",
]


@dataclass(frozen=True)
class DimSide:
    """One dimension side: ``side`` is its ``side_path`` discriminator
    value (also the store/column suffix — alphanumeric), ``fk_path``
    the JSON path of its foreign key on the FACT document,
    ``dim_id_path`` the optional documentKey -> join-key mapping
    (``"$._id"`` for Mongo-shaped keys; None = raw key string)."""

    side: str
    fk_path: str
    dim_id_path: str | None = None


def _view_cols(sides: list[str]) -> list[str]:
    cols = ["key", "fact_doc"]
    for s in sides:
        cols += [f"fk_{s}", f"dim_{s}"]
    return cols


def read_star_view(spark: SparkSession, path: str) -> DataFrame | None:
    """The current star table; None before the first applied batch.
    Columns: key, fact_doc, then (fk_<side>, dim_<side>) per side in
    the definition's order (read from the persisted config)."""
    cfg_path = os.path.join(path, "_config.json")
    if not os.path.exists(cfg_path):
        return None
    sides = [d["side"] for d in json.load(open(cfg_path))["dims"]]
    vroot = os.path.join(path, "view")
    res = resolve_pointer(vroot, "star view")
    if res is None:
        return None
    entries, _ep = res
    dirs = [
        os.path.join(vroot, rel)
        for rel in entries.values()
        if os.path.isdir(os.path.join(vroot, rel))
    ]
    cols = _view_cols(sides)
    if not dirs:
        return spark.createDataFrame(
            [], ", ".join(f"{c} STRING" for c in cols)
        )
    return spark.read.parquet(*dirs).select(*cols)


def star_view_batch(
    batch: DataFrame,
    path: str,
    epoch: int,
    dims: list[DimSide],
    side_path: str = "$.side",
    fact_side: str = "f",
    n_buckets: int = 16,
    retain: int = 2,
    join_type: str = "left",
    reduced: DataFrame | None = None,
) -> bool:
    """Apply one micro-batch to the star view at ``path``.  Returns
    True when applied, False on a fully-committed replayed epoch.

    Same event contract as the join view: post-images on non-deletes
    (fullDocument=updateLookup) carrying the ``side_path``
    discriminator; fact post-images carry every side's ``fk_path``
    (a missing fk is a NULL — LEFT pads it, INNER drops the row).
    Doc-less deletes tombstone the fact store and EVERY dim store
    (disjoint key spaces make the wrong-side tombstones inert)."""
    spark = batch.sparkSession
    if join_type not in ("inner", "left"):
        raise PipelineError(
            f"star view: join_type must be 'inner' or 'left', "
            f"got {join_type!r}"
        )
    if not dims:
        raise PipelineError("star view needs at least one DimSide")
    for d in dims:
        if not re.fullmatch(r"[A-Za-z0-9_]+", d.side):
            raise PipelineError(
                f"star view: side {d.side!r} must be alphanumeric "
                "(it names stores and columns)"
            )
    if len({d.side for d in dims}) != len(dims):
        raise PipelineError("star view: duplicate DimSide.side values")
    left = join_type == "left"
    sides = [d.side for d in dims]
    os.makedirs(os.path.join(path, "view_deltas"), exist_ok=True)
    os.makedirs(os.path.join(path, "view"), exist_ok=True)
    facts_path = os.path.join(path, "facts")
    dims_path = {s: os.path.join(path, f"dims_{s}") for s in sides}
    idx_path = {s: os.path.join(path, f"idx_{s}") for s in sides}
    VIEW_COLS = _view_cols(sides)
    VIEW_SCHEMA = "key STRING, live BOOLEAN, " + ", ".join(
        f"{c} STRING" for c in VIEW_COLS[1:]
    )

    data = batch.filter(
        F.col("operationType").isin("insert", "update", "replace", "delete")
    )
    with bucketed_sink_lock(path):
        cfg = dict(
            side_path=side_path,
            fact_side=fact_side,
            dims=[
                dict(side=d.side, fk_path=d.fk_path, dim_id_path=d.dim_id_path)
                for d in dims
            ],
            n_buckets=n_buckets,
            join_type=join_type,
        )
        cfg_path = os.path.join(path, "_config.json")
        if os.path.exists(cfg_path):
            if json.load(open(cfg_path)) != cfg:
                raise PipelineError(
                    f"star view at {path!r} was created with a "
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
        ok_sides = [fact_side, *sides]
        bad_side = (F.col("op") != "delete") & ~F.coalesce(
            side.isin(*ok_sides), F.lit(False)
        )
        violations = last.filter(F.col("__bad")).select(
            F.lit(-3).alias("t"), F.lit(-1).alias("b")
        ).unionByName(
            last.filter(bad_side).select(
                F.lit(-4).alias("t"), F.lit(-1).alias("b")
            )
        )

        live = F.col("op") != "delete"
        jk_of = {
            d.side: (
                (lambda p: lambda col: F.get_json_object(col, p))(
                    d.dim_id_path
                )
                if d.dim_id_path
                else (lambda col: col)
            )
            for d in dims
        }
        fk_cols = [
            F.get_json_object("doc", d.fk_path).alias(f"fk_{d.side}")
            for d in dims
        ]
        fact_winners = last.filter(live & (side == fact_side)).select(
            "key", F.lit(True).alias("live"), "doc", *fk_cols,
            *[F.col(c) for c in _ORDER],
        )
        dim_winners = {
            d.side: last.filter(live & (side == d.side)).select(
                "key",
                jk_of[d.side](F.col("key")).alias("jk"),
                F.lit(True).alias("live"),
                "doc",
                *[F.col(c) for c in _ORDER],
            )
            for d in dims
        }
        deletes = last.filter(~live).select(
            "key", *[F.col(c) for c in _ORDER]
        )
        # doc-less deletes tombstone EVERY store (the join view's
        # inert-tombstone trade)
        fact_winners = fact_winners.unionByName(
            deletes.select(
                "key",
                F.lit(False).alias("live"),
                F.lit(None).cast("string").alias("doc"),
                *[
                    F.lit(None).cast("string").alias(f"fk_{s}")
                    for s in sides
                ],
                *[F.col(c) for c in _ORDER],
            )
        ).localCheckpoint(eager=False)
        for d in dims:
            dim_winners[d.side] = dim_winners[d.side].unionByName(
                deletes.select(
                    "key",
                    jk_of[d.side](F.col("key")).alias("jk"),
                    F.lit(False).alias("live"),
                    F.lit(None).cast("string").alias("doc"),
                    *[F.col(c) for c in _ORDER],
                )
            ).localCheckpoint(eager=False)

        # --- job 1: validation + every store's touched buckets ------
        wb_frames = fact_winners.select(
            F.lit(0).alias("t"), bucket_of(["key"], n_buckets).alias("b")
        )
        for i, s in enumerate(sides):
            wb_frames = wb_frames.unionByName(
                dim_winners[s].select(
                    F.lit(10 + i).alias("t"),
                    bucket_of(["jk"], n_buckets).alias("b"),
                )
            )
        wb = wb_frames.unionByName(violations).distinct().collect()
        if any(r["t"] == -3 for r in wb):
            raise PipelineError(
                "star view maintenance needs a post-image per "
                "non-delete event (fullDocument=updateLookup)"
            )
        if any(r["t"] == -4 for r in wb):
            raise PipelineError(
                f"star view: post-image {side_path} must be one of "
                f"{ok_sides!r}"
            )
        f_changed = sorted(r["b"] for r in wb if r["t"] == 0)
        d_changed = {
            s: sorted(r["b"] for r in wb if r["t"] == 10 + i)
            for i, s in enumerate(sides)
        }

        # the merges carry an __in_batch flag, so the post-LWW batch
        # subsets are FILTERS over the one checkpointed merged frame
        # instead of three dedicated semi-join jobs (r14)
        fact_merged_f, fact_old, f_entries, _ = merge_lww(
            spark, fact_winners, facts_path, ["key"], ["key"], n_buckets,
            f_changed, schema=fact_winners.schema, batch_flag="__in_batch",
        )
        fact_merged_f = fact_merged_f.localCheckpoint(eager=False)
        fact_merged = fact_merged_f.drop("__in_batch")
        batch_fact_post = fact_merged_f.filter(
            F.col("__in_batch")
        ).drop("__in_batch")
        dim_merged, dim_entries, batch_dim_post = {}, {}, {}
        for s in sides:
            dm, _old, de, _ = merge_lww(
                spark, dim_winners[s], dims_path[s], ["key"], ["jk"],
                n_buckets, d_changed[s], schema=dim_winners[s].schema,
                batch_flag="__in_batch",
            )
            dm = dm.localCheckpoint(eager=False)
            dim_merged[s] = dm.drop("__in_batch")
            batch_dim_post[s] = dm.filter(F.col("__in_batch")).drop(
                "__in_batch"
            )
            dim_entries[s] = de

        # per-side index deltas from the PRE-commit fact store
        fo_cols = [F.col("key").alias("__okey"), F.col("live").alias("__ol")]
        fo_cols += [
            F.col(f"fk_{s}").alias(f"__ofk_{s}") for s in sides
        ]
        fo = fact_old.select(*fo_cols)
        w_with_old = batch_fact_post.alias("__w").join(
            fo, F.col("__w.key") == F.col("__okey"), "left"
        )
        idx_winners = {}
        for s in sides:
            idx_live = w_with_old.filter(
                F.col("live") & F.col(f"fk_{s}").isNotNull()
            ).select(
                F.col(f"fk_{s}").alias("fk"), "key", "live", "doc",
                *[F.col(c) for c in _ORDER],
            )
            idx_tomb = w_with_old.filter(
                F.coalesce(F.col("__ol"), F.lit(False))
                & F.col(f"__ofk_{s}").isNotNull()
                & (
                    ~F.col("live")
                    | ~F.col(f"fk_{s}").eqNullSafe(F.col(f"__ofk_{s}"))
                )
            ).select(
                F.col(f"__ofk_{s}").alias("fk"),
                "key",
                F.lit(False).alias("live"),
                F.lit(None).cast("string").alias("doc"),
                *[F.col(c) for c in _ORDER],
            )
            # NOT checkpointed (r14b): the fused delta write is the
            # frame's only consumer — the write materializes it and
            # its touched buckets come back from the write's
            # partition dirs (the ER lesson: a lazy checkpoint costs
            # a Catalyst planning pass plus eagerly-materialized
            # stage jobs under AQE)
            idx_winners[s] = idx_live.unionByName(idx_tomb)

        deltas_dir = os.path.join(path, "view_deltas", f"epoch={epoch}")
        first_apply = not os.path.isdir(deltas_dir)
        R = None
        if first_apply:
            # ---- the RECOMPUTE SET R: batch fact keys + every fact a
            # batch dim key reaches through its side's committed index.
            # Built BEFORE the probe job so R's dim-lookup buckets ride
            # the SAME collect (the r11 path paid a dedicated job 3).
            affected = None
            for s in sides:
                imf = read_bucket_manifest(idx_path[s])
                if imf is None:
                    continue
                rows = read_schemaed(
                    spark, idx_path[s],
                    [imf[1][k] for k in d_changed[s] if k in imf[1]],
                    idx_winners[s].schema,
                )
                if rows is None:
                    continue
                hit = (
                    rows.filter(F.col("live"))
                    .join(
                        dim_winners[s]
                        .select(F.col("jk").alias("fk"))
                        .distinct(),
                        "fk",
                        "semi",
                    )
                    .select("key", "doc", *[F.col(c) for c in _ORDER])
                )
                affected = (
                    hit if affected is None else affected.unionByName(hit)
                )
            r_cols = ["key", "live", "doc", *[f"fk_{s}" for s in sides]]
            if affected is not None:
                trip = F.struct(*[F.col(c) for c in _ORDER])
                payload = F.struct(F.col("doc"))
                aff = (
                    affected.join(
                        batch_fact_post.select("key").distinct(),
                        "key",
                        "anti",
                    )
                    # one fact can be reached through SEVERAL sides;
                    # LWW-pick one doc per key
                    .groupBy("key")
                    .agg(F.max_by(payload, trip).alias("p"))
                    .select(
                        "key",
                        F.lit(True).alias("live"),
                        F.col("p.doc").alias("doc"),
                    )
                    .select(
                        "key", "live", "doc",
                        *[
                            F.get_json_object("doc", d.fk_path).alias(
                                f"fk_{d.side}"
                            )
                            for d in dims
                        ],
                    )
                )
                R = batch_fact_post.select(*r_cols).unionByName(aff)
            else:
                R = batch_fact_post.select(*r_cols)
            R = R.localCheckpoint(eager=False)

        # --- job 2 (the batch's ONE combined probe): dim-post pins
        # (t = 2*i + 1) and on a first apply R's per-side dim-lookup
        # buckets (t = 2*N + i) — the tag families are disjoint for
        # ANY number of dims (the former 20+i / 50+i scheme collided
        # at len(dims) >= 31 and silently merged the wrong sides'
        # buckets); the collect also materializes the batch_dim_post
        # and R checkpoints.  The index/view stores' touched buckets
        # no longer ride this collect — they are derived from the
        # delta write's partition dirs (r14b), which also lets the
        # idx_winners frames drop their checkpoints.
        probe_frames = None
        for i, s in enumerate(sides):
            pf = batch_dim_post[s].select(
                F.lit(2 * i + 1).alias("t"), F.lit(-1).alias("b")
            )
            if R is not None:
                pf = pf.unionByName(
                    R.filter(
                        F.col("live") & F.col(f"fk_{s}").isNotNull()
                    ).select(
                        F.lit(2 * len(sides) + i).alias("t"),
                        bucket_of([f"fk_{s}"], n_buckets).alias("b"),
                    )
                )
            probe_frames = (
                pf if probe_frames is None else probe_frames.unionByName(pf)
            )
        probe = probe_frames.distinct().collect()
        rbuckets = {
            s: sorted(
                r["b"] for r in probe if r["t"] == 2 * len(sides) + i
            )
            for i, s in enumerate(sides)
        }

        if first_apply:
            # ---- recompute every R row's whole view row -------------
            delta = R
            for s in sides:
                dmf = read_bucket_manifest(dims_path[s])
                if dmf is None:
                    dim_base = dim_merged[s].filter(F.lit(False))
                else:
                    rows = read_schemaed(
                        spark, dims_path[s],
                        [dmf[1][k] for k in rbuckets[s] if k in dmf[1]],
                        dim_winners[s].schema,
                    )
                    dim_base = (
                        rows
                        if rows is not None
                        else dim_merged[s].filter(F.lit(False))
                    )
                dim_post = dim_base.join(
                    dim_winners[s].select("key").distinct(), "key", "anti"
                ).unionByName(batch_dim_post[s]).filter(F.col("live"))
                dpost = dim_post.select(
                    F.col("jk").alias(f"fk_{s}"),
                    F.col("doc").alias(f"dim_{s}"),
                )
                delta = delta.join(dpost, f"fk_{s}", "left")
            row_live = F.col("live")
            if not left:
                for s in sides:
                    row_live = row_live & F.col(f"dim_{s}").isNotNull()
            delta = delta.select(
                "key",
                row_live.alias("live"),
                F.col("doc").alias("fact_doc"),
                *[
                    c
                    for s in sides
                    for c in (F.col(f"fk_{s}"), F.col(f"dim_{s}"))
                ],
            )

            tmp = os.path.join(path, "view_deltas", f".tmp-{epoch}")
            shutil.rmtree(tmp, ignore_errors=True)
            # ONE Spark write for the view delta + every side's index
            # delta (r14 — the r13 wave paid 1+N coalesce(1) write
            # jobs): union with a __delta tag, write partitioned by
            # it, then rename the partition dirs to the SAME on-disk
            # layout as before (view/, idx_<s>/) so replay readers
            # are unchanged.  Union-surplus columns land as nulls;
            # both readers select/schema their own columns.  r14b:
            # every frame carries its commit-bucket id as a second
            # partition column, so the view/index touched-bucket
            # lists come off the written dirs (zero driver jobs)
            # instead of riding probe legs.
            du = delta.withColumn(
                "__b", bucket_of(["key"], n_buckets)
            ).withColumn("__delta", F.lit("view"))
            for s in sides:
                du = du.unionByName(
                    idx_winners[s].withColumn(
                        "__b", bucket_of(["fk"], n_buckets)
                    ).withColumn("__delta", F.lit(f"idx_{s}")),
                    allowMissingColumns=True,
                )
            du.coalesce(1).write.partitionBy("__delta", "__b").mode(
                "overwrite"
            ).parquet(tmp)
            derived: dict[str, list[int]] = {}
            for sub in ["view", *[f"idx_{s}" for s in sides]]:
                src = os.path.join(tmp, f"__delta={sub}")
                dst = os.path.join(tmp, sub)
                if os.path.isdir(src):
                    os.rename(src, dst)
                    derived[sub] = flatten_bucket_dirs(dst)
                else:
                    # an empty frame writes no partition dir — keep
                    # the layout so replays read an empty delta
                    os.makedirs(dst, exist_ok=True)
                    derived[sub] = []
            write_atomic(
                os.path.join(tmp, "_meta.json"),
                json.dumps(
                    {
                        "i_changed": {
                            s: derived[f"idx_{s}"] for s in sides
                        },
                        "vchanged": derived["view"],
                    }
                ),
            )
            os.rename(tmp, deltas_dir)  # atomic delta commit point

        # replay-stable: consume the PERSISTED index deltas + buckets.
        # Schema'd read (not footer inference): r14's fused delta
        # write leaves an EMPTY dir for a side with no index rows
        # (and union-surplus null columns in the files of the others);
        # the explicit schema reads both layouts identically.
        meta = json.load(open(os.path.join(deltas_dir, "_meta.json")))
        i_changed = meta["i_changed"]
        for s in sides:
            idx_winners[s] = read_delta_dir(
                spark,
                os.path.join(deltas_dir, f"idx_{s}"),
                idx_winners[s].schema,
            ).select("fk", "key", "live", "doc", *_ORDER)

        idx_merged, idx_entries = {}, {}
        for s in sides:
            im, _io, ie, _ = merge_lww(
                spark, idx_winners[s], idx_path[s], ["fk", "key"], ["fk"],
                n_buckets, i_changed[s], schema=idx_winners[s].schema,
            )
            idx_merged[s] = im
            idx_entries[s] = ie

        d = spark.read.schema(VIEW_SCHEMA).parquet(
            os.path.join(deltas_dir, "view")
        )
        vroot = os.path.join(path, "view")
        ventries = bucket_entries(vroot, n_buckets, f"star view at {path!r}")

        # pre-upgrade delta epochs lack the persisted bucket list;
        # fall back to the discovery collect over the tiny file
        vchanged = meta.get("vchanged")
        if vchanged is None:
            vchanged = sorted(
                r["b"]
                for r in d.select(
                    bucket_of(["key"], n_buckets).alias("b")
                )
                .distinct()
                .collect()
            )
        res = resolve_pointer(vroot, "star view")
        committed = dict(res[0]) if res is not None else {}
        base_rows = read_schemaed(
            spark, vroot,
            [committed[k] for k in vchanged if k in committed],
            ", ".join(f"{c} STRING" for c in VIEW_COLS),
        )
        if base_rows is None:
            base_rows = spark.createDataFrame(
                [], ", ".join(f"{c} STRING" for c in VIEW_COLS)
            )
        nxt = (
            base_rows.select(*VIEW_COLS)
            .join(d.select("key").distinct(), "key", "anti")
            .unionByName(d.filter(F.col("live")).select(*VIEW_COLS))
        )

        # ONE fused write commits ALL 2+2N stores (r14 — the r13
        # wave pooled 2+2N separate commit_bucketed writes, each its
        # own Spark action + commit protocol); per-store manifest
        # finalize stays sequential filesystem work.  Crash surface
        # unchanged: a kill between finalizes leaves a store prefix
        # committed — exactly the window the persisted idx deltas
        # cover (chaos suite's after-facts window).
        specs = [
            dict(
                name="facts", df=fact_merged, path=facts_path,
                on=["key"], n_buckets=n_buckets, entries=f_entries,
                changed=f_changed, retain=retain,
            )
        ]
        for s in sides:
            specs.append(
                dict(
                    name=f"dims_{s}", df=dim_merged[s],
                    path=dims_path[s], on=["jk"], n_buckets=n_buckets,
                    entries=dim_entries[s], changed=d_changed[s],
                    retain=retain,
                )
            )
            specs.append(
                dict(
                    name=f"idx_{s}", df=idx_merged[s],
                    path=idx_path[s], on=["fk"], n_buckets=n_buckets,
                    entries=idx_entries[s], changed=i_changed[s],
                    retain=retain,
                )
            )
        specs.append(
            dict(
                name="view", df=nxt, path=vroot, on=["key"],
                n_buckets=n_buckets, entries=ventries,
                changed=vchanged, retain=max(3, retain),
            )
        )
        commit_bucketed_fused(specs, path)

        publish_pointer(vroot, epoch)

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


def compact_star_view(
    spark: SparkSession,
    path: str,
    files_per_bucket: int = 1,
    purge_tombstones: bool = False,
    retain: int = 2,
) -> dict:
    """Compact every LWW store of the star view (facts, each dim
    side, each index side) plus the view table — the join view's
    compact_join_view generalized to N sides; runs under the same
    view lock as the batch apply.  Returns per-store compacted row
    counts.

    ``purge_tombstones`` carries the join view's caveat verbatim: a
    purged tombstone lets a late out-of-order event older than the
    delete resurrect a row (and with it a view row) — purge only
    past the source's reordering horizon."""
    cfg_path = os.path.join(path, "_config.json")
    if not os.path.exists(cfg_path):
        return {}
    sides = [d["side"] for d in json.load(open(cfg_path))["dims"]]
    stores = [("facts", "key")]
    for s in sides:
        stores.append((f"dims_{s}", "jk"))
        stores.append((f"idx_{s}", "fk"))
    counts: dict[str, int] = {}
    with bucketed_sink_lock(path):
        for store, bucket_col in stores:
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
        vroot = os.path.join(path, "view")
        res = resolve_pointer(vroot, "star view")
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
                rows = spark.read.parquet(*dirs).select(
                    *_view_cols(sides)
                )
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
