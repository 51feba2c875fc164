"""Workload ``relay``: the reference dataflow as a real streaming query.

file source -> user pipeline ($match on ns.coll, $set) -> op filter ->
envelope -> exactly-once parquet demux sink (the Kafka stand-in: no
broker is reachable offline).

Phases, all in one Spark process:

1. set-up: session, inputs, one warm-up query over ``WARM_FILES`` files;
2. drain: a pre-written backlog of ``DRAIN_FILES`` files read at
   ``DRAIN_FILES_PER_TRIGGER`` files per trigger -> ``events_per_s``;
3. open loop: a generator thread writes one file every
   ``OPEN_INTERVAL_S`` seconds for ``--seconds`` seconds, on a schedule
   that does not wait for the query, which reads one file per trigger.
   The rate is a sixth of the drain rate, so a file normally finds
   the query idle: its latency is discovery plus one trigger, and a
   slower trigger does not make the next trigger bigger.  Each event's
   latency is the publish time of the epoch holding its output record
   (the demux rename) minus the time its file was due ->
   ``latency_ms_*``, ``trigger_s_p50``, and (traced) the highest
   percentile with ten samples beyond it -> ``relay.latency_ms_tail``;
4. read: the sink's published output read back -> ``read_s_p50``;
5. checks (untimed): the sink output equals batch ``build_relay`` over
   the same files, and every record appears exactly once.
"""

from __future__ import annotations

import os
import re
import threading
import time

from cdcbench import gen
from cdcbench.common import (
    jobs_span,
    median,
    next_job_id,
    percentile,
    tail_percentile,
)

PER_FILE = 250
DRAIN_FILES = 40
DRAIN_FILES_PER_TRIGGER = 4
WARM_FILES = 16
# 333 events/s.  A one-file trigger takes about 0.35 s, 0.6 s when the
# host is slow.  Near the drain rate a trigger takes several files, and
# latency spread across runs several times as much as the drain rate.
OPEN_INTERVAL_S = 0.75
OPEN_FILES_PER_TRIGGER = 1
READ_REPS = 3
PROGRESS_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets",
)
_OID = re.compile(r'"\$oid": "([0-9a-f]{24})"')


def _settings(name: str, ckpt_root: str):
    from pymongo_change_stream_reader_spark.streaming.job import RelaySettings

    return RelaySettings(
        stream_reader_name=name,
        kafka_prefix="bench",
        checkpoint_dir=ckpt_root,
        pipeline=gen.RELAY_PIPELINE,
    )


class _Sink:
    """Wraps the demux sink callable: records when each epoch was
    published (the callable returns right after the rename)."""

    def __init__(self, out_dir, ckpt, tracer, spark, trace_id):
        from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
            foreach_batch_parquet_demux,
        )

        self.inner = foreach_batch_parquet_demux(out_dir, ckpt)
        self.published: dict[int, float] = {}
        self.tracer, self.spark, self.trace_id = tracer, spark, trace_id

    def __call__(self, batch, epoch_id):
        with jobs_span(
            self.tracer, self.spark, "streaming.kafka_sink.write",
            f"{self.trace_id}/epoch-{epoch_id}", epoch=epoch_id,
        ):
            self.inner(batch, epoch_id)
        self.published[epoch_id] = time.monotonic()


def _start(spark, src, out, name, ckpt_root, files_per_trigger, tracer, trace_id):
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import build_relay

    settings = _settings(name, ckpt_root)
    sink = _Sink(out, settings.checkpoint_location, tracer, spark, trace_id)
    records = build_relay(
        stream_change_events_json(spark, src, files_per_trigger), settings
    )
    q = (
        records.writeStream.foreachBatch(sink)
        .option("checkpointLocation", settings.checkpoint_location)
        .start()
    )
    return q, sink


def _stop(q) -> list[dict]:
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    q.stop()
    q.awaitTermination(60)
    return progress


def _write_files(src, files, prefix):
    for i, evs in enumerate(files):
        gen.write_jsonl(os.path.join(src, f"{prefix}-{i:05d}.json"), evs)


def _published(spark, out: str) -> list:
    """Every published record with the epoch that published it."""
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        read_parquet_demux,
    )

    epoch = F.regexp_extract(F.input_file_name(), r"epoch-(?:.*-)?0*(\d+)/", 1)
    return (
        read_parquet_demux(spark, out)
        .select("topic", "key", "value", epoch.cast("long").alias("epoch"))
        .collect()
    )


def _check(spark, src, rows, name, ckpt_root) -> list[str]:
    """Sink output vs batch build_relay over the same files, plus the
    exactly-once property.  Returns the errors."""
    from collections import Counter

    from pymongo_change_stream_reader_spark.sources.change_events import (
        read_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.job import build_relay

    errors = []
    events = read_change_events_json(spark, src)
    want = Counter(
        tuple(r) for r in build_relay(events, _settings(name, ckpt_root))
        .select("topic", "key", "value").collect()
    )
    got = Counter((r["topic"], r["key"], r["value"]) for r in rows)
    if got != want:
        errors.append(
            f"{name}: sink output ({sum(got.values())} records) differs from "
            f"batch build_relay ({sum(want.values())} records)"
        )
    keys = Counter(r["key"] for r in rows)
    if any(n > 1 for n in keys.values()):
        errors.append(f"{name}: a record was published more than once")
    return errors


def run(spark, seconds: float, seed: int, work: str, tracer, t_process: float,
        drain_only: bool = False):
    from pymongo_change_stream_reader_spark.plans.pipeline import (
        translate_pipeline,
    )
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.kafka_sink import (
        read_parquet_demux,
    )

    def d(*parts):
        p = os.path.join(work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    ckpt = d("ckpt")
    n_open = max(1, int(round(seconds / OPEN_INTERVAL_S)))
    # one seeded sample of distinct fixture rows, cut into the phases' files
    events = gen.relay_events(seed, (WARM_FILES + DRAIN_FILES + n_open) * PER_FILE)
    files = [events[i:i + PER_FILE] for i in range(0, len(events), PER_FILE)]
    warm_files = files[:WARM_FILES]
    drain_files = files[WARM_FILES:WARM_FILES + DRAIN_FILES]
    open_files = files[WARM_FILES + DRAIN_FILES:]

    # --- set-up: one warm-up query through the whole path ------------
    _write_files(d("warm", "in"), warm_files, "w")
    q, _ = _start(spark, d("warm", "in"), d("warm", "out"), "warm", ckpt,
                  DRAIN_FILES_PER_TRIGGER, tracer, "relay/warm")
    q.processAllAvailable()
    _stop(q)
    read_parquet_demux(spark, d("warm", "out")).groupBy("topic").count().collect()
    setup_s = time.monotonic() - t_process

    # --- drain: fixed backlog at a fixed files-per-trigger ------------
    _write_files(d("drain", "in"), drain_files, "b")
    j0 = next_job_id(spark)
    t0 = time.monotonic()
    q, sink = _start(spark, d("drain", "in"), d("drain", "out"), "drain", ckpt,
                     DRAIN_FILES_PER_TRIGGER, tracer, "relay/drain")
    q.processAllAvailable()
    drain_wall = max(sink.published.values()) - t0
    drain_progress = _stop(q)
    drain_jobs = next_job_id(spark) - j0
    drain_events = DRAIN_FILES * PER_FILE
    events_per_s = drain_events / drain_wall
    if drain_only:
        return {"events_per_s": events_per_s}

    # --- open loop: a fixed-rate generator the query cannot slow ------
    src_open, out_open = d("open", "in"), d("open", "out")
    q, sink = _start(spark, src_open, out_open, "open", ckpt,
                     OPEN_FILES_PER_TRIGGER, tracer, "relay/open")
    due: dict[str, float] = {}
    lags: list[float] = []

    def generate():
        t_start = time.monotonic() + 0.2
        for i, evs in enumerate(open_files):
            at = t_start + i * OPEN_INTERVAL_S
            pause = at - time.monotonic()
            if pause > 0:
                time.sleep(pause)
            for ev in evs:
                if "documentKey" in ev:
                    due[_OID.search(ev["documentKey"]).group(1)] = at
            gen.write_jsonl(os.path.join(src_open, f"o-{i:05d}.json"), evs)
            lags.append(time.monotonic() - at)

    g = threading.Thread(target=generate, name="open-loop-generator")
    g.start()
    g.join()
    q.processAllAvailable()
    open_progress = _stop(q)

    rows = _published(spark, out_open)
    latencies = [
        (sink.published[r["epoch"]] - due[_OID.search(r["key"]).group(1)]) * 1e3
        for r in rows
    ]
    tail = tail_percentile(latencies)
    if tail is None:
        raise RuntimeError(f"only {len(latencies)} latency samples: p90 unsupported")
    triggers = [p["durationMs"]["triggerExecution"] / 1e3 for p in open_progress]

    # --- read the published output back (the drain's: a fixed number
    # of epochs, and the reader's cost grows with the epoch count) -----
    read_walls = []
    for i in range(READ_REPS):
        with jobs_span(tracer, spark, "read.demux", f"relay/read-{i}"):
            t = time.monotonic()
            read_parquet_demux(spark, d("drain", "out")).groupBy("topic").count().collect()
            read_walls.append(time.monotonic() - t)

    # --- output checks (untimed) --------------------------------------
    errors = []
    n_out = 0
    for name, out_rows in (("drain", _published(spark, d("drain", "out"))),
                           ("open", rows)):
        errors += _check(spark, d(name, "in"), out_rows, name, ckpt)
        n_out += len(out_rows)

    attempted = len(drain_progress) + len(open_progress) + READ_REPS + 2 * 2
    e2e = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (events_per_s, "events/s"),
        "latency_ms_p50": (percentile(latencies, 50), "ms"),
        "latency_ms_p90": (percentile(latencies, 90), "ms"),
        "trigger_s_p50": (median(triggers), "s"),
        "read_s_p50": (median(read_walls), "s"),
    }
    layer = {}
    if tracer.enabled:
        prog = drain_progress + open_progress
        for ph in PROGRESS_PHASES:
            layer[f"streaming.job.{ph}_ms_p50"] = (
                median([p["durationMs"].get(ph, 0) for p in prog]), "ms")
        layer["streaming.job.jobs_per_trigger"] = (
            drain_jobs / len(drain_progress), "count")
        writes = [s for s in tracer.spans
                  if s["name"] == "streaming.kafka_sink.write"
                  and s["trace"].startswith("relay/open")]
        layer["streaming.kafka_sink.write_ms_p50"] = (
            median([(s["end"] - s["start"]) * 1e3 for s in writes]), "ms")
        files = [
            sum(f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(out_open, e))
                for f in fs)
            for e in os.listdir(out_open) if e.startswith("epoch-")
        ]
        layer["streaming.kafka_sink.files_per_epoch"] = (median(files), "count")
        n_in = sum(map(len, drain_files + open_files))
        layer["operators.cdc.out_ratio"] = (n_out / n_in, "ratio")
        stream = stream_change_events_json(spark, src_open, 1)
        walls = []
        for _ in range(5):
            t = time.monotonic()
            translate_pipeline(gen.RELAY_PIPELINE)(stream)
            walls.append((time.monotonic() - t) * 1e3)
        layer["plans.pipeline.translate_ms"] = (median(walls), "ms")
        layer["gen.lag_ms_max"] = (max(lags) * 1e3, "ms")
        layer["relay.latency_ms_tail"] = (tail[1], "ms")
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": attempted,
        "errors": errors,
        "samples": {
            "latency": len(latencies),
            "latency_tail_percentile": tail[0],
            "triggers": len(triggers),
            "drain_trigger_s": [
                p["durationMs"]["triggerExecution"] / 1e3 for p in drain_progress
            ],
            "drain_wall_s": drain_wall,
            "read_s": read_walls,
        },
    }
