"""BM25 update/delete path (operators/retrieval.py upsert_bm25_index /
delete_from_bm25_index + generation-tagged tombstones): an index that
has absorbed updates and deletes must score IDENTICALLY to one built
from scratch over the live corpus, crashes mid-apply roll back
exactly, and compaction purges dead generations then returns the
scorer to the stored-dfreq fast path.

Reference parity: the reference's core loop handles
insert/update/replace/delete per event (reference
change_handler.py:11,43-48); here the same semantics are batch-sized
generation appends + a tombstone set."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.maintenance import (
    compact_bm25_index,
)
from pymongo_change_stream_reader_spark.operators.retrieval import (
    append_bm25_index,
    bm25_scores_from_index,
    delete_from_bm25_index,
    recover_bm25_append,
    upsert_bm25_index,
    write_bm25_index,
)
from pymongo_change_stream_reader_spark.sources.tables import load_table
from pymongo_change_stream_reader_spark.storage import list_files
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .limit(200)
        .cache()
    )


def _scores(spark, path, probes=(0, 1, 2)):
    return {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_scores_from_index(
            spark, path, probe_ids=list(probes)
        ).collect()
    }


def _consts(path):
    c = json.load(open(os.path.join(path, "_consts.json")))
    return (c["n_docs"], c["total_len"], c["avgdl"])


def _final_corpus(spark, docs):
    """docs with every %7==0 text rewritten — the post-update truth."""
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit("rewritten corpus entry about "), F.col("text")),
        ).otherwise(F.col("text")),
    )


def test_upsert_equals_rebuild(spark, tmp_path, docs):
    """write(stale) + upsert(updated+new) == write(final), score for
    score AND consts for consts."""
    updated = _final_corpus(spark, docs).filter(F.col("doc_id") % 7 == 0)
    grown = str(tmp_path / "grown")
    full = str(tmp_path / "full")
    write_bm25_index(docs, grown)
    res = upsert_bm25_index(updated, grown)
    assert res["upserted"] == updated.count()
    assert res["tombstoned"] == updated.count()
    write_bm25_index(_final_corpus(spark, docs), full)
    want, got = _scores(spark, full), _scores(spark, grown)
    assert want == got and len(want) > 0
    assert _consts(full) == _consts(grown)


def test_delete_equals_rebuild(spark, tmp_path, docs):
    shrunk = str(tmp_path / "shrunk")
    full = str(tmp_path / "full")
    write_bm25_index(docs, shrunk)
    dead = docs.filter(F.col("doc_id") % 5 == 3).select("doc_id")
    res = delete_from_bm25_index(dead, shrunk)
    assert res == {"upserted": 0, "tombstoned": dead.count()}
    write_bm25_index(docs.filter(F.col("doc_id") % 5 != 3), full)
    assert _scores(spark, full) == _scores(spark, shrunk)
    assert _consts(full) == _consts(shrunk)
    # deleting an unknown id is a no-op
    ghost = spark.createDataFrame([(10**9,)], "doc_id LONG")
    assert delete_from_bm25_index(ghost, shrunk)["tombstoned"] == 0


def test_delete_then_reinsert_clears_own_tombstone(spark, tmp_path, docs):
    """A deleted id re-appended later must come back LIVE (its new
    generation clears the tombstone) — the latent gen-collision bug a
    flat tombstone set would have."""
    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    victim = docs.filter(F.col("doc_id") == 0)
    delete_from_bm25_index(victim.select("doc_id"), path)
    append_bm25_index(victim, path)  # re-insert, same text
    full = str(tmp_path / "full")
    write_bm25_index(docs, full)
    assert _scores(spark, full) == _scores(spark, path)
    assert _consts(full) == _consts(path)


def test_append_still_refuses_live_duplicates(spark, tmp_path, docs):
    path = str(tmp_path / "idx")
    write_bm25_index(docs.limit(50), path)
    with pytest.raises(ValueError, match="append-only"):
        append_bm25_index(docs.limit(10), path)


def test_compact_purges_dead_generations(spark, tmp_path, docs):
    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    dead = docs.limit(20).select("doc_id").localCheckpoint(eager=True)
    upserted = _final_corpus(spark, docs).filter(F.col("doc_id") % 7 == 0)
    # deletes overlapping the later upsert set get revived by it
    n_live = (
        docs.count()
        - dead.join(upserted, "doc_id", "left_anti").count()
    )
    delete_from_bm25_index(dead, path)
    upsert_bm25_index(upserted, path)
    before = _scores(spark, path)
    counts = compact_bm25_index(spark, path)
    # tombstone set cleared, dead rows gone: doclen holds exactly the
    # live docs, dfreq is one exact row per term again
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    assert counts["doclen"] == n_live
    assert _scores(spark, path) == before
    # post-compaction the index is pure-append again: a fresh append
    # keeps rebuild parity through the stored-dfreq fast path
    extra = spark.createDataFrame(
        [(10**6, "entirely fresh appended document about compaction")],
        "doc_id LONG, text STRING",
    )
    append_bm25_index(extra, path)
    assert (10**6,) in {
        (r["doc_id"],)
        for r in spark.read.parquet(os.path.join(path, "doclen"))
        .select("doc_id")
        .collect()
    }


def test_crash_mid_apply_rolls_back_exactly(
    spark, tmp_path, docs, monkeypatch
):
    """A crash after the data appends but before the consts write
    leaves the journal; recovery restores the exact pre-apply state
    (tombstone files included) and the replayed batch then applies to
    the same result as an uncrashed run.  A journal written by the
    previous release (hand-written below in its on-disk format) rolls
    back the same way.  So does an apply that crashes AFTER its consts
    write followed by a recovery that crashes before restoring them:
    the journal must survive that recovery, so a second one still
    returns the pre-apply consts."""
    import pymongo_change_stream_reader_spark.operators.retrieval as rt

    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    pre_files = {
        t: list_files(os.path.join(path, t)) for t in rt._BM25_TABLES
    }
    pre_consts = _consts(path)
    with open(os.path.join(path, "_consts.json")) as fh:
        pre_consts_file = json.load(fh)
    updated = _final_corpus(spark, docs).filter(F.col("doc_id") % 7 == 0)

    real = rt._write_consts

    def boom(*a, **kw):
        raise RuntimeError("injected crash before consts write")

    def write_then_boom(*a, **kw):
        real(*a, **kw)
        raise RuntimeError("injected crash after consts write")

    for case in ("current", "previous", "crashed recovery"):
        monkeypatch.setattr(
            rt,
            "_write_consts",
            write_then_boom if case == "crashed recovery" else boom,
        )
        with pytest.raises(RuntimeError, match="injected crash"):
            upsert_bm25_index(updated, path)
        monkeypatch.setattr(rt, "_write_consts", real)
        if case == "crashed recovery":
            assert _consts(path) != pre_consts
            monkeypatch.setattr(rt, "_write_consts", boom)
            with pytest.raises(RuntimeError, match="injected crash"):
                recover_bm25_append(path)
            monkeypatch.setattr(rt, "_write_consts", real)
        if case == "previous":
            with open(os.path.join(path, "_append_journal.json"), "w") as fh:
                json.dump(
                    {
                        "files": pre_files,
                        "consts": {
                            k: pre_consts_file[k]
                            for k in ("n_docs", "total_len", "id_type")
                        },
                    },
                    fh,
                )
        # journal is live: further writes refuse
        with pytest.raises(RuntimeError, match="crashed-append journal"):
            upsert_bm25_index(updated, path)
        assert recover_bm25_append(path)
        assert {
            t: list_files(os.path.join(path, t)) for t in rt._BM25_TABLES
        } == pre_files
        assert _consts(path) == pre_consts
    # the replay now applies cleanly and equals the rebuild
    upsert_bm25_index(updated, path)
    full = str(tmp_path / "full")
    write_bm25_index(_final_corpus(spark, docs), full)
    assert _scores(spark, full) == _scores(spark, path)


def test_recover_waits_for_a_held_index_lock(spark, tmp_path, docs):
    """recover_bm25_append takes the index write lock: a recovery run
    while a relay is mid-apply would otherwise delete that apply's
    files and journal.  A cross-process lock holder must delay it."""
    from tests.test_bucketed_sink_crash import _hold_lock

    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    hold_s = 1.5
    holder = _hold_lock(os.path.join(path, "_write.lock"), hold_s)
    t0 = time.monotonic()
    assert recover_bm25_append(path) is False
    elapsed = time.monotonic() - t0
    holder.wait()
    assert elapsed >= hold_s * 0.8, (
        f"recover_bm25_append returned in {elapsed:.2f}s while the index "
        f"write lock was held for {hold_s}s — it is not taking bm25_lock"
    )


def test_compact_over_crashed_journal_recovers_first(
    spark, tmp_path, docs, monkeypatch
):
    """Review r6 #1: compacting over a live crashed-append journal
    would rename every file the journal's keep-set lists, so a later
    recovery would delete the entire compacted index.  Compaction must
    roll the crashed append back FIRST."""
    import pymongo_change_stream_reader_spark.operators.retrieval as rt

    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    pre = _scores(spark, path)
    updated = _final_corpus(spark, docs).filter(F.col("doc_id") % 7 == 0)
    real = rt._write_consts
    monkeypatch.setattr(
        rt, "_write_consts", lambda *a, **k: (_ for _ in ()).throw(
            RuntimeError("injected crash")
        )
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_bm25_index(updated, path)
    monkeypatch.setattr(rt, "_write_consts", real)
    # compaction rolls the crashed append back, then compacts cleanly
    compact_bm25_index(spark, path)
    assert not os.path.exists(os.path.join(path, "_append_journal.json"))
    assert _scores(spark, path) == pre
    # and the replayed batch applies to the rebuild-equal result
    upsert_bm25_index(updated, path)
    full = str(tmp_path / "full")
    write_bm25_index(_final_corpus(spark, docs), full)
    assert _scores(spark, full) == _scores(spark, path)


def test_legacy_index_without_gen_refuses_then_migrates(
    spark, tmp_path, docs
):
    """Review r6 #3: appending gen-tagged files into a pre-generation
    index would mix parquet schemas nondeterministically; writers must
    refuse, and one compaction migrates the index in place."""
    import shutil

    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    # strip the gen column from both data tables = a legacy index
    for table in ("postings", "doclen"):
        t = os.path.join(path, table)
        spark.read.parquet(t).drop("gen").write.mode("overwrite").parquet(
            t + ".legacy"
        )
        shutil.rmtree(t)
        os.rename(t + ".legacy", t)
    # a real pre-generation index also predates the recorded id_type
    # (r15) — strip it so readers footer-infer, as they would on a
    # genuine legacy index (id_type implies gen-tagged by invariant)
    import json

    cpath = os.path.join(path, "_consts.json")
    with open(cpath) as fh:
        consts = json.load(fh)
    consts.pop("id_type", None)
    with open(cpath, "w") as fh:
        json.dump(consts, fh)
    updated = _final_corpus(spark, docs).filter(F.col("doc_id") % 7 == 0)
    with pytest.raises(RuntimeError, match="predates generation"):
        upsert_bm25_index(updated, path)
    compact_bm25_index(spark, path)  # the migration
    assert "gen" in spark.read.parquet(
        os.path.join(path, "doclen")
    ).columns
    # the migration also stamps id_type, so later reads are schema'd
    # and later appends take the fused write path
    with open(cpath) as fh:
        assert "id_type" in json.load(fh)
    upsert_bm25_index(updated, path)
    full = str(tmp_path / "full")
    write_bm25_index(_final_corpus(spark, docs), full)
    assert _scores(spark, full) == _scores(spark, path)


def test_reinsert_after_compaction_crash_window(spark, tmp_path, docs):
    """ADVICE r6 low: a crash after compaction swapped the purged
    tables but BEFORE the tombstone set cleared leaves tombstones
    naming purged generations.  A re-inserted fully-deleted id must
    NOT be born dead — the generation computation unions tombstone
    gens, so the new rows land above the stale tombstone."""
    import shutil

    path = str(tmp_path / "idx")
    write_bm25_index(docs, path)
    victim = docs.filter(F.col("doc_id") == 0)
    delete_from_bm25_index(victim.select("doc_id"), path)
    # simulate the crash window: compaction purges + clears, then the
    # pre-clear tombstone set REAPPEARS
    saved = str(tmp_path / "saved_tombstones")
    shutil.copytree(os.path.join(path, "tombstones"), saved)
    compact_bm25_index(spark, path)
    assert not os.path.isdir(os.path.join(path, "tombstones"))
    shutil.copytree(saved, os.path.join(path, "tombstones"))
    append_bm25_index(victim, path)  # re-insert the fully-deleted id
    # the id scores — against a rebuild over the same live corpus
    full = str(tmp_path / "full")
    write_bm25_index(docs, full)
    want, got = _scores(spark, full), _scores(spark, path)
    assert len(got) and {d for _q, d in got} == {d for _q, d in want}
    assert 0 in {d for _q, d in got}  # the re-inserted id serves
