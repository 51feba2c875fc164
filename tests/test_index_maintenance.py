"""Compaction for the append-path serving indexes
(operators/maintenance.py): bounded file counts, unchanged query
results, model sidecars preserved, and crash recovery."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.maintenance import (
    compact_bm25_index,
    compact_ivf_index,
    compact_lsh_index,
    compact_parquet_table,
    recover_table,
)
from pymongo_change_stream_reader_spark.sources.tables import load_table
from pymongo_change_stream_reader_spark.storage import list_files
from tests.conftest import SF_SMOKE


def _parquet_files(path: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def test_compact_bm25_merges_segments_scores_unchanged(spark, tmp_path):
    from pymongo_change_stream_reader_spark.operators.retrieval import (
        append_bm25_index,
        bm25_scores_from_index,
        write_bm25_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).limit(200)
    path = str(tmp_path / "bm25")
    write_bm25_index(docs.filter(F.col("doc_id") % 3 == 0), path)
    append_bm25_index(docs.filter(F.col("doc_id") % 3 == 1), path)
    append_bm25_index(docs.filter(F.col("doc_id") % 3 == 2), path)

    def scores():
        return {
            (r["query_id"], r["doc_id"]): r["score"]
            for r in bm25_scores_from_index(
                spark, path, probe_ids=[0, 1, 2]
            ).collect()
        }

    before = scores()
    dfreq = spark.read.parquet(os.path.join(path, "dfreq"))
    assert dfreq.count() > dfreq.select("term").distinct().count()  # segments
    counts = compact_bm25_index(spark, path, num_files=1)
    assert counts["dfreq"] == spark.read.parquet(
        os.path.join(path, "dfreq")
    ).select("term").distinct().count()  # merged: one row per term
    assert _parquet_files(os.path.join(path, "postings")) == 1
    assert scores() == before and len(before) > 0


def test_compact_lsh_preserves_band_pruning_and_rows(spark, tmp_path):
    from pymongo_change_stream_reader_spark.operators.dedup import (
        append_lsh_index,
        read_lsh_index,
        write_lsh_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).limit(120)
    path = str(tmp_path / "lsh")
    write_lsh_index(docs.filter(F.col("doc_id") % 2 == 0), path, "text", "doc_id")
    append_lsh_index(docs.filter(F.col("doc_id") % 2 == 1), path, "text", "doc_id")
    before = sorted(map(tuple, read_lsh_index(spark, path).collect()))
    compact_lsh_index(spark, path, num_files=1)
    after = sorted(map(tuple, read_lsh_index(spark, path).collect()))
    assert after == before
    # band partition dirs survive (partition pruning intact)
    assert any(d.startswith("band=") for d in os.listdir(path))


def test_compact_ivf_preserves_model_and_results(spark, tmp_path):
    from pymongo_change_stream_reader_spark.operators.similarity import (
        append_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(300)
    path = str(tmp_path / "ivf")
    write_ivf_index(
        emb.filter(F.col("vec_id") % 2 == 0), path, nlist=8, train_iters=1
    )
    append_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), path)
    queries = emb.filter(F.col("vec_id") < 3)
    before = sorted(
        map(tuple, ivf_topk_from_index(spark, path, queries, k=5).collect())
    )
    compact_ivf_index(spark, path, num_files=1)
    assert os.path.exists(os.path.join(path, "_centroids.json"))
    after = sorted(
        map(tuple, ivf_topk_from_index(spark, path, queries, k=5).collect())
    )
    assert after == before and len(after) > 0
    assert any(d.startswith("cell=") for d in os.listdir(path))


def test_compaction_crash_recovery(spark, tmp_path, monkeypatch):
    """Injected crash between the two swap renames: the table dir is
    missing, compaction refuses to run, recover_table restores the
    pre-compaction data byte-for-byte."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "id INT, val STRING"
    ).write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    real_rename = os.rename
    calls = []

    def crashing_rename(src, dst):
        calls.append(src)
        if len(calls) == 2:  # the tmp -> live rename
            raise OSError("injected crash mid-swap")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="injected"):
        compact_parquet_table(spark, path, num_files=1)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(path)  # the crash window
    # compaction refuses to run over crash leftovers (the .old guard
    # fires before any read)
    with pytest.raises(RuntimeError, match="recover_table"):
        compact_parquet_table(spark, path, num_files=1)
    assert recover_table(path) is True
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # leftovers cleaned; a fresh compaction now succeeds
    assert compact_parquet_table(spark, path, num_files=1) == 50


def test_bm25_append_crash_journal_rollback(spark, tmp_path, monkeypatch):
    """Review r4: a crash mid-append (after postings, before dfreq)
    must be fully rolled back by recover_bm25_append — further appends
    refuse while the journal lives, and after recovery the replayed
    batch produces an index score-identical to a clean build."""
    from pymongo_change_stream_reader_spark.operators import retrieval as R

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "text"
    ).limit(120)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "bm25")
    R.write_bm25_index(a, path)
    pre_files = {
        t: list_files(os.path.join(path, t))
        for t in ("postings", "doclen", "dfreq")
    }

    # WINDOW 1 (fused path, r15): crash after the one tagged write
    # lands in the staging dir but BEFORE any file moves into the
    # table dirs — the fused analog of the old "after doclen, before
    # dfreq" partial-append window
    real_parquet = type(docs.write).parquet

    def crashing_parquet(self, p, *a_, **kw):
        real_parquet(self, p, *a_, **kw)
        if R._BM25_FUSED_TMP in p:
            raise OSError("injected crash after staging write")

    monkeypatch.setattr(type(docs.write), "parquet", crashing_parquet)
    with pytest.raises(OSError, match="injected"):
        R.append_bm25_index(b, path)
    monkeypatch.setattr(type(docs.write), "parquet", real_parquet)

    # journal alive: appends refuse
    with pytest.raises(RuntimeError, match="recover_bm25_append"):
        R.append_bm25_index(b, path)
    assert R.recover_bm25_append(path) is True
    # exact pre-append state restored, staging dir cleared
    for t in ("postings", "doclen", "dfreq"):
        assert list_files(os.path.join(path, t)) == pre_files[t]
    assert not os.path.exists(os.path.join(path, R._BM25_FUSED_TMP))

    # WINDOW 2: crash after the FIRST staged file moved into its table
    # dir — a strict prefix of the moves landed
    real_rename = os.rename
    moved = []

    def crashing_rename(src, dst):
        real_rename(src, dst)
        if R._BM25_FUSED_TMP in src:
            moved.append(src)
            if len(moved) == 1:
                raise OSError("injected crash mid-move")

    monkeypatch.setattr("os.rename", crashing_rename)
    with pytest.raises(OSError, match="mid-move"):
        R.append_bm25_index(b, path)
    monkeypatch.setattr("os.rename", real_rename)
    assert R.recover_bm25_append(path) is True
    for t in ("postings", "doclen", "dfreq"):
        assert list_files(os.path.join(path, t)) == pre_files[t]
    assert not os.path.exists(os.path.join(path, R._BM25_FUSED_TMP))
    # replay applies cleanly and matches a from-scratch build
    assert R.append_bm25_index(b, path) == b.count()
    ref = str(tmp_path / "ref")
    R.write_bm25_index(docs, ref)
    score = lambda p: {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in R.bm25_scores_from_index(spark, p, probe_ids=[0, 2]).collect()
    }
    assert score(path) == score(ref)


def test_index_write_lock_mutual_exclusion(tmp_path):
    """flock semantics: a held lock blocks a second writer until its
    timeout; release makes reacquisition immediate; and (the crash
    story) the kernel drops the lock with the holder's fd — no stale
    lock file can wedge a restarted streaming relay."""
    import time

    from pymongo_change_stream_reader_spark.operators.maintenance import (
        IndexWriteLock,
    )

    lock_path = str(tmp_path / "idx" / "_write.lock")
    with IndexWriteLock(lock_path):
        t0 = time.monotonic()
        with pytest.raises(RuntimeError, match="still held"):
            with IndexWriteLock(lock_path, timeout_s=0.7):
                pass
        assert time.monotonic() - t0 >= 0.6  # it WAITED, not failed fast
    # released: reacquire without delay
    t0 = time.monotonic()
    with IndexWriteLock(lock_path, timeout_s=5):
        assert time.monotonic() - t0 < 1.0
    # crash simulation: an abandoned fd (no __exit__) still releases
    # on close — emulating process death
    lk = IndexWriteLock(lock_path, timeout_s=5).__enter__()
    os.close(lk._fd)  # what the kernel does when the holder dies
    lk._fd = None
    with IndexWriteLock(lock_path, timeout_s=2):
        pass  # acquires despite the "crashed" holder never unlocking


def test_compact_partitioned_honors_num_files(spark, tmp_path):
    """Review r4: num_files must spread a partition dir across up to
    num_files files (salted repartition), not silently collapse every
    partition into one single-task file."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i % 2, i) for i in range(2000)], "cell INT, v INT"
    ).write.partitionBy("cell").parquet(path)
    compact_parquet_table(spark, path, num_files=4, partition_by="cell")
    for cell in (0, 1):
        n = _parquet_files(os.path.join(path, f"cell={cell}"))
        assert 2 <= n <= 4, n  # spread, and bounded by num_files
    assert spark.read.parquet(path).count() == 2000
