"""Workload ``churn``: all eight composed stores on a stream that
rewrites the same documents over and over (fixture rows keyed by user,
see ``gen.ChurnGen``), with every store read back after each trigger.

The stream runs through ``start_composed_relay`` with its default
``max_parallel_stores``, exactly as ``python -m
pymongo_change_stream_reader_spark`` runs it.  Closed loop: the next
batch file is written only after the previous trigger (and its reads)
completed.

Set-up: session, the IVF snapshot bootstrap, the load trigger (every
user's document inserted, plus the join/star dimension documents) and
one pass of the read set.  Then, while another cycle is expected to end
within ``--seconds`` (at least once): write ``CHURN_EVENTS`` events,
wait for the trigger, read every store.

A trigger's events are written at once, so they all share one latency:
the wall from the file write to the trigger's commit.  ``latency_ms_*``
are percentiles over triggers, not events.

The traced run (``--trace 1``) replaces the stream's batch function
(see ``TracedApply``) so that each store's public batch function runs
in sequence (the ``max_parallel_stores=1`` order) under a span, and
per-store jobs and self time are exact.
"""

from __future__ import annotations

import math
import os
import random
import time

from cdcbench import gen
from cdcbench.common import jobs_span, median, next_job_id, percentile

# None: every user of the fixture (1,500)
N_USERS = None
CHURN_EVENTS = 2000
N_BUCKETS = 16
RETAIN = 2
SNAPSHOT = 1000
TOPK = 10
# epoch 0 loads the key set; every later epoch is timed
FIRST_TIMED_EPOCH = 1

# store -> (module the layer metrics are named after, its dirs)
STORES = {
    "replica": ("materialize", ("replica",)),
    "dedup": ("dedup_relay", ("lsh", "flags")),
    "bm25": ("index_relay", ("bm25",)),
    "ann": ("ann_relay", ("ivf",)),
    "aggview": ("agg_view", ("aggview",)),
    "joinview": ("join_view", ("joinview",)),
    "starview": ("star_view", ("starview",)),
    "erregistry": ("er_registry", ("erreg",)),
}
READS = (
    "replica", "agg_view", "join_view", "star_view", "er_entities",
    "dedup_flags", "bm25_topk", "ann_topk",
)
VIEW_STORES = ("aggview", "joinview", "starview", "erregistry")
STAR_DIMS = [{"side": "d", "fk_path": "$.fk"}, {"side": "e", "fk_path": "$.fk2"}]


def _er_spec():
    from pymongo_change_stream_reader_spark.streaming.er_registry import (
        er_spec_from_config,
    )

    return er_spec_from_config(
        [
            {"name": "k", "path": "$.k", "dtype": "string",
             "weight": 0.5, "scorer": "edit"},
            {"name": "value_cents", "path": "$.value_cents",
             "dtype": "long", "weight": 0.5, "scorer": "numeric"},
        ],
        threshold=0.9,
        block_field="k",
        max_block_size=64,
    )


def _store_kwargs(root: str) -> dict:
    er_spec, er_fps = _er_spec()
    p = lambda name: os.path.join(root, name)  # noqa: E731
    return dict(
        replica_path=p("replica"),
        dedup_index_path=p("lsh"),
        dedup_flags_path=p("flags"),
        bm25_index_path=p("bm25"),
        ann_index_path=p("ivf"),
        ann_vec_col="embedding",
        ann_key_col="vec_key",
        agg_view_path=p("aggview"),
        agg_group_path="$.k",
        agg_value_path="$.value_cents",
        agg_value_type="long",
        join_view_path=p("joinview"),
        join_dim_id_path=None,
        star_view_path=p("starview"),
        star_view_dims=STAR_DIMS,
        star_side_path="$.sside",
        er_registry_path=p("erreg"),
        er_spec=er_spec,
        er_id_path="$.rid",
        er_field_paths=er_fps,
        n_buckets=N_BUCKETS,
        retain=RETAIN,
    )


def _events(spark, src):
    """The change stream's data operations (``filter_data_ops``, as
    bench.py feeds the composed relay) plus the two columns the ANN
    store reads: the embedding decoded from the post-image (as the
    entry point decodes ANN_VEC_COL) and the integral key the IVF
    snapshot is keyed by (dimension documents, keyed "d3"/"e7", get a
    hashed one)."""
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.operators.cdc import filter_data_ops
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )

    return (
        filter_data_ops(stream_change_events_json(spark, src, 1))
        .withColumn(
            "embedding",
            F.from_json(
                F.get_json_object("fullDocument", "$.emb"), "array<double>"
            ),
        )
        .withColumn(
            "vec_key",
            F.coalesce(
                F.col("documentKey").try_cast("long"), F.xxhash64("documentKey")
            ),
        )
    )


def _snapshot(spark, seed: int):
    rng = random.Random(seed ^ 0x5EED)
    rows = [(10**12 + i, gen.embedding(rng)) for i in range(SNAPSHOT)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _data_files(path: str) -> set[str]:
    return {
        os.path.join(r, f)
        for r, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    }


class TracedApply:
    """foreachBatch body of the traced run.

    Every trigger first runs the untraced composed apply on the main
    store set.  Before the first timed trigger the stores are copied to
    a second set; each timed trigger then also runs the traced
    sequence on that copy, from the same state and with the same batch
    and epoch, so the traced job counts and walls compare exactly with
    the untraced ones.

    The untraced apply's per-store outcomes are kept: on a trigger
    with events every store must report ``applied`` (a
    ``replayed-skip`` there would mean the epoch was not applied)."""

    def __init__(self, spark, tracer, kw, kw_traced, ckpt):
        self.spark, self.tracer, self.ckpt = spark, tracer, ckpt
        self.kw, self.kw_traced = kw, kw_traced
        self.outcomes: list[tuple[int, dict]] = []
        self.traced_skips: list[str] = []
        self.untraced: list[dict] = []
        self.keys_ratio: list[float] = []
        self.files_written: dict[str, list[int]] = {s: [] for s in STORES}
        self.walls: list[float] = []

    def __call__(self, batch, epoch_id):
        import shutil

        from pymongo_change_stream_reader_spark.streaming.composed_relay import (
            composed_apply_batch,
        )

        # the body start_composed_relay runs for each trigger
        j0, t0 = next_job_id(self.spark), time.monotonic()
        if not batch.isEmpty():
            self.outcomes.append(
                (epoch_id, composed_apply_batch(batch, epoch_id, self.ckpt, **self.kw))
            )
        self.untraced.append(
            {"epoch": epoch_id, "jobs": next_job_id(self.spark) - j0,
             "wall": time.monotonic() - t0}
        )
        root, root_traced = (
            os.path.dirname(k["replica_path"]) for k in (self.kw, self.kw_traced)
        )
        if epoch_id < FIRST_TIMED_EPOCH:
            if epoch_id == FIRST_TIMED_EPOCH - 1:
                shutil.copytree(root, root_traced)
            return
        t0 = time.monotonic()
        self._traced(batch, epoch_id)
        self.walls.append(time.monotonic() - t0)

    def _traced(self, batch, epoch_id):
        from pymongo_change_stream_reader_spark.streaming.agg_view import (
            agg_view_batch,
        )
        from pymongo_change_stream_reader_spark.streaming.ann_relay import (
            ann_ingest_batch,
        )
        from pymongo_change_stream_reader_spark.streaming.dedup_relay import (
            dedup_flag_batch,
        )
        from pymongo_change_stream_reader_spark.streaming.er_registry import (
            er_registry_cdc_batch,
        )
        from pymongo_change_stream_reader_spark.streaming.index_relay import (
            bm25_ingest_batch,
        )
        from pymongo_change_stream_reader_spark.streaming.join_view import (
            join_view_batch,
        )
        from pymongo_change_stream_reader_spark.streaming.materialize import (
            materialize_change_batch,
            reduce_batch_shared,
        )
        from pymongo_change_stream_reader_spark.streaming.star_view import (
            DimSide,
            star_view_batch,
        )

        kw, spark, tr = self.kw_traced, self.spark, self.tracer
        trace = f"churn/epoch-{epoch_id}"
        ep = int(epoch_id)
        common = dict(n_buckets=kw["n_buckets"], retain=kw["retain"])
        with jobs_span(tr, spark, "streaming.composed_relay.trigger", trace):
            with jobs_span(tr, spark, "streaming.composed_relay.pin", trace):
                p = batch.localCheckpoint(eager=False)
                n = p.count()
                parts = p.rdd.getNumPartitions()
                tgt = max(1, min(parts, math.ceil(n / 250)))
                pinned = p.coalesce(tgt) if tgt < parts else p
            with jobs_span(tr, spark, "streaming.composed_relay.reduce", trace):
                reduced = reduce_batch_shared(pinned).localCheckpoint(eager=True)
        self.keys_ratio.append(reduced.count() / max(1, n))
        calls = {
            "replica": lambda: materialize_change_batch(
                pinned, kw["replica_path"], return_df=False, **common,
            ),
            "dedup": lambda: dedup_flag_batch(
                pinned, kw["dedup_index_path"], kw["dedup_flags_path"],
                epoch_id=ep, scope="bench-",
            ),
            "bm25": lambda: bm25_ingest_batch(pinned, kw["bm25_index_path"]),
            "ann": lambda: ann_ingest_batch(
                pinned, kw["ann_index_path"], kw["ann_vec_col"],
                kw["ann_key_col"], "ivf",
            ),
            "aggview": lambda: agg_view_batch(
                pinned, kw["agg_view_path"], ep,
                group_path=kw["agg_group_path"],
                value_path=kw["agg_value_path"],
                value_type=kw["agg_value_type"],
                reduced=reduced, **common,
            ),
            "joinview": lambda: join_view_batch(
                pinned, kw["join_view_path"], ep,
                dim_id_path=kw["join_dim_id_path"],
                reduced=reduced, **common,
            ),
            "starview": lambda: star_view_batch(
                pinned, kw["star_view_path"], ep,
                [DimSide(**d) for d in kw["star_view_dims"]],
                side_path=kw["star_side_path"],
                reduced=reduced, **common,
            ),
            "erregistry": lambda: er_registry_cdc_batch(
                pinned, kw["er_registry_path"], ep, kw["er_spec"],
                id_path=kw["er_id_path"], field_paths=kw["er_field_paths"],
                reduced=reduced, **common,
            ),
        }
        for store, (module, dirs) in STORES.items():
            roots = [os.path.join(os.path.dirname(kw["replica_path"]), x) for x in dirs]
            before = set().union(*(_data_files(r) for r in roots))
            with jobs_span(tr, spark, f"streaming.{module}", trace):
                applied = calls[store]()
            # the four view stores return False for a replayed epoch
            if store in VIEW_STORES and applied is False:
                self.traced_skips.append(f"epoch {epoch_id}: traced {store} skipped")
            after = set().union(*(_data_files(r) for r in roots))
            self.files_written[store].append(len(after - before))


def _reads(spark, kw, gen_, tracer, trace, rng) -> dict[str, float]:
    """Read every store once; returns wall seconds per read."""
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.operators.retrieval import (
        bm25_scores_from_index,
    )
    from pymongo_change_stream_reader_spark.operators.similarity import (
        ivf_topk_from_index,
    )
    from pymongo_change_stream_reader_spark.streaming.agg_view import read_agg_view
    from pymongo_change_stream_reader_spark.streaming.dedup_relay import (
        read_dedup_flags,
    )
    from pymongo_change_stream_reader_spark.streaming.er_registry import (
        read_er_entities,
    )
    from pymongo_change_stream_reader_spark.streaming.join_view import read_join_view
    from pymongo_change_stream_reader_spark.streaming.materialize import read_replica
    from pymongo_change_stream_reader_spark.streaming.star_view import read_star_view

    live = sorted(gen_.live, key=lambda k: (len(k), k))
    facts = [k for k in live if k.isdigit()]
    probe = rng.choice(facts)
    probes = rng.sample(facts, 5)
    qvecs = spark.createDataFrame(
        [(i, gen.embedding(rng)) for i in range(5)],
        "vec_id long, embedding array<double>",
    )

    def collect(df):
        return [] if df is None else df.collect()

    ops = {
        "replica": lambda: collect(
            read_replica(spark, kw["replica_path"]).filter(F.col("key") == probe)
        ),
        "agg_view": lambda: collect(read_agg_view(spark, kw["agg_view_path"])),
        "join_view": lambda: collect(read_join_view(spark, kw["join_view_path"])),
        "star_view": lambda: collect(read_star_view(spark, kw["star_view_path"])),
        "er_entities": lambda: collect(
            read_er_entities(spark, kw["er_registry_path"])),
        "dedup_flags": lambda: collect(
            read_dedup_flags(spark, kw["dedup_flags_path"])),
        "bm25_topk": lambda: collect(
            bm25_scores_from_index(spark, kw["bm25_index_path"], probes)
            .orderBy(F.col("score").desc()).limit(TOPK)
        ),
        "ann_topk": lambda: collect(
            ivf_topk_from_index(spark, kw["ann_index_path"], qvecs, k=TOPK)
        ),
    }
    walls = {}
    for name in READS:
        with jobs_span(tracer, spark, f"read.{name}", trace):
            t = time.monotonic()
            ops[name]()
            walls[name] = time.monotonic() - t
    return walls


def _check(spark, kw, gen_) -> list[str]:
    """The replica equals a from-scratch last-writer-wins over every
    generated event, and the aggregate view equals a groupBy over it."""
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.streaming.agg_view import read_agg_view
    from pymongo_change_stream_reader_spark.streaming.materialize import read_replica

    errors = []
    got = {r["key"]: r["doc"] for r in
           read_replica(spark, kw["replica_path"]).select("key", "doc").collect()}
    if got != gen_.live:
        missing = set(gen_.live) - set(got)
        extra = set(got) - set(gen_.live)
        wrong = sum(1 for k in set(got) & set(gen_.live) if got[k] != gen_.live[k])
        errors.append(
            f"replica differs from LWW: {len(missing)} missing, "
            f"{len(extra)} extra, {wrong} stale"
        )
    want = (
        spark.createDataFrame(list(gen_.live.items()), "key string, doc string")
        .groupBy(F.get_json_object("doc", "$.k").alias("grp"))
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(
                F.sum(F.get_json_object("doc", "$.value_cents").cast("long")),
                F.lit(0),
            ).alias("sum_val"),
        )
    )
    view = read_agg_view(spark, kw["agg_view_path"]).select("grp", "n_docs", "sum_val")
    want_rows = sorted(map(tuple, want.collect()), key=repr)
    got_rows = sorted(map(tuple, view.collect()), key=repr)
    if want_rows != got_rows:
        errors.append(
            f"agg view differs from groupBy over LWW: {len(got_rows)} groups "
            f"vs {len(want_rows)}"
        )
    return errors


def run(spark, seconds: float, seed: int, work: str, tracer, t_process: float):
    from pymongo_change_stream_reader_spark.operators.similarity import (
        write_ivf_index,
    )
    from pymongo_change_stream_reader_spark.streaming.composed_relay import (
        start_composed_relay,
    )

    src = os.path.join(work, "in")
    stores = os.path.join(work, "stores")
    ckpt = os.path.join(work, "ckpt")
    for p in (src, stores, ckpt):
        os.makedirs(p, exist_ok=True)
    kw = _store_kwargs(stores)
    g = gen.ChurnGen(seed, N_USERS)
    rng = random.Random(seed ^ 0xBEEF)

    # --- set-up: IVF snapshot, load trigger, read pass ---------------
    write_ivf_index(_snapshot(spark, seed), kw["ann_index_path"], nlist=16,
                    train_iters=1)
    traced = None
    if tracer.enabled:
        kw_traced = _store_kwargs(os.path.join(work, "stores-traced"))
        traced = TracedApply(spark, tracer, kw, kw_traced, ckpt)
        q = (
            _events(spark, src).writeStream.foreachBatch(traced)
            .option("checkpointLocation", ckpt).outputMode("update").start()
        )
    else:
        q = start_composed_relay(_events(spark, src), ckpt, **kw)
    n_files = 0

    def trigger(events):
        nonlocal n_files
        gen.write_jsonl(os.path.join(src, f"b-{n_files:05d}.json"), events)
        n_files += 1
        t = time.monotonic()
        q.processAllAvailable()
        return t, time.monotonic()

    errors: list[str] = []
    attempted = 0
    try:
        trigger(g.load_batch())
        # without this pass the timed reads run cold: measured 4.6 or
        # 6.0 s at random, against a steady 4.3 s once warm
        _reads(spark, kw, g, tracer, "churn/setup-read", rng)
        setup_s = time.monotonic() - t_process

        # --- timed: closed loop of churn triggers and store reads -----
        t_start = time.monotonic()
        walls, lat, reads, n_events = [], [], [], 0
        read_parts: dict[str, list[float]] = {r: [] for r in READS}
        cycle = 0.0
        # start a trigger only if it is expected to end within --seconds
        while not walls or time.monotonic() - t_start + cycle <= seconds:
            t_cycle = time.monotonic()
            batch = g.churn_batch(CHURN_EVENTS)
            t_write, t_done = trigger(batch)
            p = q.lastProgress
            walls.append(p["durationMs"]["triggerExecution"] / 1e3)
            lat.append((t_done - t_write) * 1e3)
            n_events += len(batch)
            parts = _reads(spark, kw, g, tracer, f"churn/read-{len(walls)}", rng)
            for k, v in parts.items():
                read_parts[k].append(v)
            reads.append(sum(parts.values()))
            attempted += 1 + len(READS)
            cycle = time.monotonic() - t_cycle
        progress = [x for x in q.recentProgress
                    if x.get("numInputRows", 0) > 0 and x["batchId"] >= FIRST_TIMED_EPOCH]
    finally:
        q.stop()
        q.awaitTermination(60)

    # --- output checks (untimed) ----------------------------------------
    errors += _check(spark, kw, g)
    attempted += 2
    e2e = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (n_events / sum(walls), "events/s"),
        "latency_ms_p50": (percentile(lat, 50), "ms"),
        "latency_ms_p90": (percentile(lat, 90), "ms"),
        "trigger_s_p50": (median(walls), "s"),
        "read_s_p50": (median(reads), "s"),
    }
    layer = {}
    if traced is not None:
        errors += traced.traced_skips + [
            f"epoch {epoch}: store {store} {outcome}"
            for epoch, o in traced.outcomes for store, outcome in o.items()
            if outcome != "applied"
        ]
        layer = _layer_metrics(tracer, traced, kw_traced, progress, read_parts)
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": attempted,
        "errors": errors,
        "samples": {"events": n_events, "trigger_s": walls, "latency_ms": lat,
                    "read_s": reads},
    }


def _layer_metrics(tracer, traced, kw, progress, read_parts) -> dict:
    from cdcbench.common import self_times
    from cdcbench.relay import PROGRESS_PHASES

    st = self_times(tracer.spans)
    by_name: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["trace"].startswith("churn/epoch-"):
            by_name.setdefault(s["name"], []).append(s)
    layer = {}
    for ph in PROGRESS_PHASES:
        layer[f"streaming.job.{ph}_ms_p50"] = (
            median([p["durationMs"].get(ph, 0) for p in progress]), "ms")
    untraced = [u for u in traced.untraced if u["epoch"] >= FIRST_TIMED_EPOCH]
    untraced_jobs = median([u["jobs"] for u in untraced])
    untraced_wall = median([u["wall"] for u in untraced])
    # addBatch here spans both store sets; report the untraced apply alone
    layer["streaming.job.addBatch_ms_p50"] = (untraced_wall * 1e3, "ms")
    layer["streaming.job.jobs_per_trigger"] = (untraced_jobs, "count")
    layer_jobs = 0.0
    for part in ("pin", "reduce"):
        spans = by_name[f"streaming.composed_relay.{part}"]
        layer[f"streaming.composed_relay.{part}.self_s"] = (
            median([st[s["id"]] for s in spans]), "s")
        jobs = median([s["jobs"] for s in spans])
        layer[f"streaming.composed_relay.{part}.jobs"] = (jobs, "count")
        layer_jobs += jobs
    layer["streaming.composed_relay.reduce.keys_out_ratio"] = (
        median(traced.keys_ratio), "ratio")
    stores_root = os.path.dirname(kw["replica_path"])
    for store, (module, dirs) in STORES.items():
        spans = by_name[f"streaming.{module}"]
        pre = f"streaming.{module}"
        layer[f"{pre}.self_s"] = (median([st[s["id"]] for s in spans]), "s")
        jobs = median([s["jobs"] for s in spans])
        layer[f"{pre}.jobs"] = (jobs, "count")
        layer_jobs += jobs
        layer[f"{pre}.files_written"] = (median(traced.files_written[store]), "count")
        layer[f"{pre}.live_files"] = (
            sum(len(_data_files(os.path.join(stores_root, x))) for x in dirs),
            "count")
    layer["streaming.composed_relay.residual_jobs"] = (
        untraced_jobs - layer_jobs, "count")
    layer["trace.overhead_ratio"] = (median(traced.walls) / untraced_wall, "ratio")
    reads = {}
    for s in tracer.spans:
        if s["name"].startswith("read.") and s["trace"].startswith("churn/read-"):
            reads.setdefault(s["name"], []).append(s)
    for name in READS:
        spans = reads[f"read.{name}"]
        layer[f"read.{name}.s"] = (median(read_parts[name]), "s")
        layer[f"read.{name}.jobs"] = (median([s["jobs"] for s in spans]), "count")
    return layer
