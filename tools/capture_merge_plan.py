"""Capture the physical plan of the bucketed stores' LWW merge — the
frame every view store commits per micro-batch.  The r14 optimization
claim ("full-outer SortMergeJoin + 2 Exchange -> 1 Exchange +
HashAggregate with map-side partials") is checked against this
output; run it on the before/after tree to produce
plans/r14/store_lww_merge_{before,after}.txt.

Usage: python tools/capture_merge_plan.py [repo_root] > out.txt
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(
    0, sys.argv[1] if len(sys.argv) > 1 else str(Path(__file__).resolve().parents[1])
)


def main() -> None:
    from pyspark.sql import functions as F

    from pymongo_change_stream_reader_spark.session import get_spark
    from pymongo_change_stream_reader_spark.streaming.join_view import (
        join_view_batch,
    )
    from pymongo_change_stream_reader_spark.streaming.materialize import (
        merge_lww,
    )

    spark = get_spark(app_name="capture_merge_plan", cpus=4,
                      shuffle_partitions=4)
    base = tempfile.mkdtemp(prefix="merge_plan_")
    path = os.path.join(base, "jv")
    rows = [
        ("insert", "f1", '{"side": "f", "fk": "d1"}', 10, 1, "a1"),
        ("insert", "d1", '{"side": "d", "p": "alpha"}', 10, 2, "a2"),
    ]
    schema = (
        "operationType STRING, documentKey STRING, fullDocument STRING, "
        "t INT, i INT, d STRING"
    )
    batch = spark.createDataFrame(rows, schema).selectExpr(
        "operationType", "documentKey", "fullDocument",
        "named_struct('t', t, 'i', i) AS clusterTime",
        "named_struct('_data', d) AS _id",
    )
    join_view_batch(batch, path, 1, n_buckets=4)

    # the merge frame a second batch would commit for the facts store
    winners = spark.createDataFrame(
        [("f1", True, "d2", '{"side": "f", "fk": "d2"}', 11, 1, "b1")],
        "key STRING, live BOOLEAN, fk STRING, doc STRING, "
        "__t INT, __i INT, __d STRING",
    )
    merged, _old, _entries, _changed = merge_lww(
        spark, winners, os.path.join(path, "facts"), ["key"], ["key"],
        4, changed=list(range(4)), schema=winners.schema,
    )
    print("== store LWW merge (facts store, one-batch winners) ==")
    merged.explain("formatted")


if __name__ == "__main__":
    main()
