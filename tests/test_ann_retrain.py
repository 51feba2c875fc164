"""retrain_ann_index (operators/similarity.py) — the round-6 "done"
criteria, landed untested in round 7 and pinned here:

* churn to a DRIFTED distribution degrades frozen-model recall, and a
  retrain restores the calibrated floor (IVF, PQ, composed IVF-PQ);
* every live row keeps its generation through the rebuild and the
  tombstone sidecar is cleared;
* relay ingest continues across the swap: the retrain takes the same
  exclusive flock the appends do (cross-process holder proof), and a
  tracked append works against the retrained index afterwards;
* crash between the two swap renames → recover_table restores the
  pre-retrain index exactly;
* retrain refuses over .old/.compact-tmp leftovers; code-only kinds
  (pq/ivfpq) refuse a missing, under-covering, or duplicated corpus
  (driver advice r7 — the silent-shrink trap).

Drift model: dimension reversal — an isometry, so the true neighbor
structure is EXACTLY preserved while every cluster center moves; the
frozen coarse quantizer / codebooks then misassign, and a retrain on
the drifted live rows must recover the pre-drift recall.  All
trainers are deterministic (rounded updates, lowest-id init), so the
recall numbers below are exactly reproducible, not flaky floors."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.maintenance import (
    recover_table,
)
from pymongo_change_stream_reader_spark.operators.similarity import (
    append_ivf_index,
    append_pq_index,
    brute_force_topk,
    ivf_topk_from_index,
    ivfpq_topk_from_index,
    pq_topk_from_index,
    retrain_ann_index,
    upsert_ivfpq_index,
    write_ivf_index,
    write_ivfpq_index,
    write_pq_index,
)
from pymongo_change_stream_reader_spark.sources.tables import load_table
from pymongo_change_stream_reader_spark.storage import list_files
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


@pytest.fixture(scope="module")
def drifted(emb):
    return emb.withColumn(
        "embedding", F.reverse(F.col("embedding"))
    ).cache()


@pytest.fixture(scope="module")
def truth(drifted):
    """Exact top-10 over the drifted corpus for query ids < 5."""
    q = drifted.filter(F.col("vec_id") < 5)
    t = (
        brute_force_topk(drifted, q, k=10)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    return t, t.count()


def _recall(truth, df):
    t, n = truth
    return (
        df.select("query_id", "neighbor_id")
        .join(t, ["query_id", "neighbor_id"])
        .count()
        / n
    )


def _live_gens(spark, path):
    import pymongo_change_stream_reader_spark.operators.similarity as sim

    idc = (
        "neighbor_id"
        if "neighbor_id" in spark.read.parquet(path).columns
        else "vec_id"
    )
    return sorted(
        map(tuple, sim._ann_live_read(spark, path, idc).select(idc, "gen").collect())
    )


def test_ivf_retrain_restores_recall_and_preserves_gens(
    spark, tmp_path, emb, drifted, truth
):
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, nlist=8, train_iters=2)
    append_ivf_index(drifted, path, check_new_ids=False)  # the churn
    q = drifted.filter(F.col("vec_id") < 5)

    frozen = _recall(
        truth, ivf_topk_from_index(spark, path, q, k=10, nprobe=2)
    )
    assert frozen <= 0.5  # measured 0.30: the frozen model is broken

    gens_before = _live_gens(spark, path)
    model = retrain_ann_index(spark, path, kind="ivf")
    assert len(model) == 8  # nlist defaulted from the stored model

    restored = _recall(
        truth, ivf_topk_from_index(spark, path, q, k=10, nprobe=2)
    )
    assert restored >= 0.8  # measured 0.88 == the pre-drift recall
    assert restored > frozen + 0.2
    # gens preserved row-for-row; dead generations purged; sidecar gone
    assert _live_gens(spark, path) == gens_before
    assert spark.read.parquet(path).count() == emb.count()
    assert not os.path.isdir(path + "_tombstones")


def test_pq_retrain_restores_recall(spark, tmp_path, emb, drifted, truth):
    path = str(tmp_path / "pq")
    write_pq_index(emb, path, m_sub=8, k_codes=16, iters=1)
    append_pq_index(drifted, path, check_new_ids=False)
    q = drifted.filter(F.col("vec_id") < 5)

    frozen = _recall(
        truth, pq_topk_from_index(spark, path, q, drifted, k=10, rerank=2)
    )
    assert frozen <= 0.35  # measured 0.24

    gens_before = _live_gens(spark, path)
    books = retrain_ann_index(spark, path, kind="pq", corpus=drifted)
    assert len(books) == 8 and len(books[0]) == 16  # sizes from stored

    restored = _recall(
        truth, pq_topk_from_index(spark, path, q, drifted, k=10, rerank=2)
    )
    assert restored >= 0.45  # measured 0.52
    assert restored > frozen + 0.1
    assert _live_gens(spark, path) == gens_before
    assert not os.path.isdir(path + "_tombstones")


def test_ivfpq_retrain_restores_recall(
    spark, tmp_path, emb, drifted, truth
):
    path = str(tmp_path / "ivfpq")
    write_ivfpq_index(emb, path, nlist=8, m_sub=8, k_codes=16, iters=1)
    upsert_ivfpq_index(drifted, path)
    q = drifted.filter(F.col("vec_id") < 5)

    frozen = _recall(
        truth,
        ivfpq_topk_from_index(
            spark, path, q, drifted, k=10, nprobe=2, rerank=2
        ),
    )
    assert frozen <= 0.4  # measured 0.30

    gens_before = _live_gens(spark, path)
    model = retrain_ann_index(spark, path, kind="ivfpq", corpus=drifted)
    assert set(model) == {"centroids", "codebooks"}
    assert len(model["centroids"]) == 8

    restored = _recall(
        truth,
        ivfpq_topk_from_index(
            spark, path, q, drifted, k=10, nprobe=2, rerank=2
        ),
    )
    assert restored >= 0.45  # measured 0.50
    assert restored > frozen
    assert _live_gens(spark, path) == gens_before


def test_relay_append_continues_after_retrain(spark, tmp_path, emb):
    """The relay-across-swap contract, serving side: a tracked append
    lands cleanly against the RETRAINED index (new model, preserved
    gens) and serving reflects it immediately."""
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, nlist=8, train_iters=1)
    retrain_ann_index(spark, path, kind="ivf")

    fresh = emb.select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    ).filter(F.col("vec_id") < 10_003)
    append_ivf_index(fresh, path)
    got = ivf_topk_from_index(
        spark, path, emb.filter(F.col("vec_id") < 3), k=500, nprobe=8
    )
    served = {
        r["neighbor_id"]
        for r in got.select("neighbor_id").distinct().collect()
    }
    assert {10_000, 10_001, 10_002} <= served
    # never-seen ids start at gen 0 (the retrain cleared the sidecar)
    gens = dict(_live_gens(spark, path))
    assert gens[10_000] == 0


def test_retrain_blocks_on_held_writelock(spark, tmp_path, emb):
    """Cross-process proof that a retrain takes the SAME exclusive
    flock the relay appends take: a holder delays it end-to-end —
    which is exactly why a running relay just blocks during the
    rebuild and continues against the new model (no restart)."""
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, nlist=4, train_iters=1)
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import fcntl, os, sys, time\n"
            "fd = os.open(sys.argv[1], os.O_CREAT | os.O_WRONLY)\n"
            "fcntl.flock(fd, fcntl.LOCK_EX)\n"
            "print('HELD', flush=True)\n"
            "time.sleep(float(sys.argv[2]))\n"
            "fcntl.flock(fd, fcntl.LOCK_UN)\n",
            path + ".writelock",
            "2.5",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert holder.stdout.readline().strip() == "HELD"
    t0 = time.monotonic()
    retrain_ann_index(spark, path, kind="ivf")
    assert time.monotonic() - t0 >= 2.0
    holder.wait()


def test_retrain_refuses_over_leftovers(spark, tmp_path, emb):
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, nlist=4, train_iters=1)
    os.makedirs(path + ".old")
    with pytest.raises(RuntimeError, match="recover_table"):
        retrain_ann_index(spark, path, kind="ivf")
    os.rmdir(path + ".old")
    retrain_ann_index(spark, path, kind="ivf")  # clean path still works


def test_retrain_crash_mid_swap_recover_table_restores(
    spark, tmp_path, emb, monkeypatch
):
    """Kill-point between the two renames: the live dir is gone and
    ``.old`` holds everything — recover_table restores the exact
    pre-retrain index (file listing + serving results), and the
    retrain then re-applies cleanly."""
    import pymongo_change_stream_reader_spark.operators.similarity as sim

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, nlist=4, train_iters=1)
    q = emb.filter(F.col("vec_id") < 3)
    before = sorted(
        map(
            tuple,
            ivf_topk_from_index(spark, path, q, k=5, nprobe=2).collect(),
        )
    )
    before_files = list_files(path)

    real_rename = os.rename

    def crash_on_swap_in(src, dst):
        if src.endswith(".compact-tmp") and dst == path:
            raise RuntimeError("injected crash between the two renames")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_swap_in)
    with pytest.raises(RuntimeError, match="injected"):
        retrain_ann_index(spark, path, kind="ivf")
    monkeypatch.undo()

    # the crash window's exact shape
    assert not os.path.exists(path)
    assert os.path.isdir(path + ".old")
    assert os.path.isdir(path + ".compact-tmp")

    assert recover_table(path) is True
    assert list_files(path) == before_files
    after = sorted(
        map(
            tuple,
            ivf_topk_from_index(spark, path, q, k=5, nprobe=2).collect(),
        )
    )
    assert after == before
    retrain_ann_index(spark, path, kind="ivf")  # re-applies cleanly


def test_retrain_corpus_validation(spark, tmp_path, emb):
    path = str(tmp_path / "pq")
    write_pq_index(emb, path, m_sub=8, k_codes=16, iters=1)

    with pytest.raises(ValueError, match="unknown kind"):
        retrain_ann_index(spark, path, kind="flat")
    with pytest.raises(ValueError, match="pass\nthe live raw|corpus="):
        retrain_ann_index(spark, path, kind="pq")
    # corpus missing live ids: the rebuild would silently shrink
    with pytest.raises(ValueError, match="covers"):
        retrain_ann_index(
            spark,
            path,
            kind="pq",
            corpus=emb.filter(F.col("vec_id") >= 10),
        )
    # duplicate corpus rows multiply through the generation join
    with pytest.raises(ValueError, match="multiple rows"):
        retrain_ann_index(
            spark, path, kind="pq", corpus=emb.unionAll(emb.limit(5))
        )
    # extra ids beyond the live set are fine (semi-join trims them)
    base = emb.select("vec_id", "embedding")
    extra = base.unionAll(
        base.limit(3).select(
            (F.col("vec_id") + 50_000).alias("vec_id"), "embedding"
        )
    )
    retrain_ann_index(spark, path, kind="pq", corpus=extra)
