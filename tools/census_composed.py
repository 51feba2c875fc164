"""Deterministic per-store driver-job census for the composed relay.

The composed relay's small-batch floor is the DRIVER JOB count
(PERF.md round-13): each Spark job costs tens of ms of driver latency
regardless of data size, so the r14 optimization target is jobs per
batch per store.  This tool measures it deterministically (job-id
deltas are noise-free, unlike wall timings on this host): one
composed_relay_bench run per SINGLE-store configuration plus the full
eight-store run, each over a warm-up batch + 3 timed batches at the
bench's standard ~6k-event point.

Usage: python tools/census_composed.py [sf_dir] [store ...]
(store names filter which single-store runs execute; default all)
"""

from __future__ import annotations

import json
import os
import sys

# repo root = this file's parent dir's parent, so the SAME harness
# (bench.composed_relay_bench + this tool, copied together) measures
# any tree — the before/after census must differ only in library code
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pymongo_change_stream_reader_spark.streaming.composed_relay import (  # noqa: E402
    STORES as _TABLE,
)

STORES = tuple(s.name for s in _TABLE)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = [a for a in sys.argv[2:] if a in STORES] or list(STORES)

    from bench import composed_relay_bench
    from pymongo_change_stream_reader_spark.session import get_spark

    spark = get_spark(app_name="census_composed")
    out: dict = {}
    for store in only:
        skip = tuple(s for s in STORES if s != store and s != "replica")
        # every run keeps the replica — a replica-only run skips
        # everything else; for other stores subtract the replica-only
        # figure offline
        if store == "replica":
            skip = tuple(s for s in STORES if s != "replica")
        r = composed_relay_bench(spark, sf_dir, skip_stores=skip)
        out[store] = {
            "jobs_per_batch": r["spark_jobs_per_batch"],
            "jobs": r["spark_jobs"],
            "per_batch_sec": r["per_batch_sec"],
            "events_per_s": r["events_per_s"],
        }
        print(f"{store}: {json.dumps(out[store])}", flush=True)
    full = composed_relay_bench(spark, sf_dir)
    out["ALL8"] = {
        "jobs_per_batch": full["spark_jobs_per_batch"],
        "jobs": full["spark_jobs"],
        "per_batch_sec": full["per_batch_sec"],
        "events_per_s": full["events_per_s"],
    }
    print(f"ALL8: {json.dumps(out['ALL8'])}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
