"""IVF/PQ serving-index update/delete hygiene
(operators/similarity.py delete_from_ivf_index / delete_from_pq_index
+ generation-tagged upsert appends): serving results after updates and
deletes must equal a frozen-quantizer rebuild over the live vectors,
and compaction physically purges dead generations.

This completes the update/delete story across every appendable store
(BM25, LSH, IVF, PQ) — the reference's insert/update/replace/delete
loop (reference change_handler.py:11,43-48)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.maintenance import (
    compact_ivf_index,
    compact_pq_index,
)
from pymongo_change_stream_reader_spark.operators.similarity import (
    append_ivf_index,
    append_pq_index,
    delete_from_ivf_index,
    delete_from_pq_index,
    ivf_topk_from_index,
    pq_topk_from_index,
    write_ivf_index,
    write_pq_index,
)
from pymongo_change_stream_reader_spark.sources.tables import load_table
from pymongo_change_stream_reader_spark.storage import list_files
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


def _perturbed(emb):
    """Every %7==0 vector negated — the post-update truth (negation
    keeps the norm, flips every cosine)."""
    return emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 7 == 0,
            F.transform(F.col("embedding"), lambda x: -x),
        ).otherwise(F.col("embedding")),
    )


def _ivf_top(spark, path, emb, probes=(0, 1, 2)):
    q = emb.filter(F.col("vec_id").isin(*probes))
    return sorted(
        map(
            tuple,
            ivf_topk_from_index(spark, path, q, k=5, nprobe=4)
            .select("query_id", "neighbor_id", "score", "rank")
            .collect(),
        )
    )


def _pq_top(spark, path, emb, corpus, probes=(0, 1, 2)):
    q = emb.filter(F.col("vec_id").isin(*probes))
    return sorted(
        map(
            tuple,
            pq_topk_from_index(spark, path, q, corpus, k=5, rerank=4)
            .select("query_id", "neighbor_id", "score")
            .collect(),
        )
    )


def test_ivf_delete_and_update_equal_frozen_rebuild(spark, tmp_path, emb):
    churned = str(tmp_path / "churned")
    cents = write_ivf_index(emb, churned, nlist=8, train_iters=1)
    # DELETE every %5==3 vector
    dead = emb.filter(F.col("vec_id") % 5 == 3).select("vec_id")
    n = delete_from_ivf_index(dead, churned)
    assert n == dead.count()
    # UPDATE every %7==0 vector still live (negated embedding)
    upd = _perturbed(emb).filter(
        (F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 5 != 3)
    )
    append_ivf_index(upd, churned, check_new_ids=False)
    # frozen rebuild over the live vectors with the SAME centroids
    live = _perturbed(emb).filter(F.col("vec_id") % 5 != 3)
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(live, rebuilt, centroids=cents)
    assert _ivf_top(spark, churned, emb) == _ivf_top(spark, rebuilt, emb)
    # compaction purges: row count equals the live set, sidecar clears
    compact_ivf_index(spark, churned)
    assert not os.path.isdir(churned + "_tombstones")
    assert spark.read.parquet(churned).count() == live.count()
    assert _ivf_top(spark, churned, emb) == _ivf_top(spark, rebuilt, emb)


def test_ivf_append_refuses_live_dup_but_revives_deleted(
    spark, tmp_path, emb
):
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, nlist=8, train_iters=1)
    with pytest.raises(ValueError, match="already live"):
        append_ivf_index(emb.limit(5), path)  # live collision
    victim = emb.filter(F.col("vec_id") == 0)
    delete_from_ivf_index(victim.select("vec_id"), path)
    # re-append after delete: allowed even in append-only mode (the id
    # is no longer live), and the new generation clears the tombstone
    append_ivf_index(victim, path)
    full = str(tmp_path / "full")
    cents = json.load(open(os.path.join(path, "_centroids.json")))
    write_ivf_index(emb, full, centroids=cents)
    assert _ivf_top(spark, path, emb) == _ivf_top(spark, full, emb)


def test_pq_delete_and_update_equal_frozen_rebuild(spark, tmp_path, emb):
    churned = str(tmp_path / "churned")
    write_pq_index(emb, churned, m_sub=8, k_codes=16, iters=1)
    dead = emb.filter(F.col("vec_id") % 5 == 3).select("vec_id")
    assert delete_from_pq_index(dead, churned) == dead.count()
    upd = _perturbed(emb).filter(
        (F.col("vec_id") % 7 == 0) & (F.col("vec_id") % 5 != 3)
    )
    append_pq_index(upd, churned, check_new_ids=False)
    live = _perturbed(emb).filter(F.col("vec_id") % 5 != 3)
    # frozen rebuild: re-encode the live vectors with the SAME books
    # by building a fresh index dir from the stored codebooks
    import shutil

    from pymongo_change_stream_reader_spark.operators.similarity import (
        pq_encode,
    )

    rebuilt = str(tmp_path / "rebuilt")
    books = json.load(open(os.path.join(churned, "_codebooks.json")))
    pq_encode(live, books).withColumn("gen", F.lit(0)).write.mode(
        "overwrite"
    ).parquet(rebuilt)
    shutil.copyfile(
        os.path.join(churned, "_codebooks.json"),
        os.path.join(rebuilt, "_codebooks.json"),
    )
    # the exact re-rank side must also see only live vectors
    assert _pq_top(spark, churned, emb, live) == _pq_top(
        spark, rebuilt, emb, live
    )
    compact_pq_index(spark, churned)
    assert not os.path.isdir(churned + "_tombstones")
    assert spark.read.parquet(churned).count() == live.count()


def test_legacy_ivf_index_refuses_then_migrates(spark, tmp_path, emb):
    import shutil

    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, nlist=8, train_iters=1)
    # strip gen = a pre-generation index (sidecar preserved)
    legacy = path + ".legacy"
    spark.read.parquet(path).drop("gen").write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(legacy)
    shutil.copyfile(
        os.path.join(path, "_centroids.json"),
        os.path.join(legacy, "_centroids.json"),
    )
    shutil.rmtree(path)
    os.rename(legacy, path)
    with pytest.raises(RuntimeError, match="predates generation"):
        delete_from_ivf_index(emb.limit(1).select("vec_id"), path)
    compact_ivf_index(spark, path)  # the migration
    assert "gen" in spark.read.parquet(path).columns
    assert delete_from_ivf_index(emb.limit(1).select("vec_id"), path) == 1


def test_ivf_pruning_survives_tombstone_filter(spark, tmp_path, emb):
    """Scale contract under churn: the tombstone anti-join must not
    defeat cell partition pruning — the probe's cell predicate still
    lands in PartitionFilters, and no-tombstone indexes add no join at
    all (the pure-append fast path is untouched)."""
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, nlist=8, train_iters=1)
    q = emb.filter(F.col("vec_id") < 3)

    # fast path: no tombstones -> no anti-join in the plan
    plan = (
        ivf_topk_from_index(spark, path, q, k=5, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    assert "LeftAnti" not in plan and "ExistenceJoin" not in plan

    delete_from_ivf_index(
        emb.filter(F.col("vec_id") % 5 == 3).select("vec_id"), path
    )
    plan = (
        ivf_topk_from_index(spark, path, q, k=5, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in pf, f"cell predicate lost under tombstones: {pf}"
    assert "BroadcastHashJoin" in plan  # the anti-join broadcasts


def test_ivf_update_crash_between_tombstone_and_data_append(
    spark, tmp_path, emb, monkeypatch
):
    """The update path is two appends (tombstones, then data): a crash
    between them must not silently DELETE the updated ids.  The append
    journal rolls the half-applied batch back — in-process on the
    exception path here; recover_ann_append covers process death."""
    import pymongo_change_stream_reader_spark.operators.similarity as sim

    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, nlist=8, train_iters=1)
    before = _ivf_top(spark, path, emb)
    before_files = list_files(path)

    orig = sim._ann_apply_gens

    def crash_after_tombstones(*a, **kw):
        orig(*a, **kw)  # real tombstone write happens
        raise RuntimeError("injected crash before the data append")

    monkeypatch.setattr(sim, "_ann_apply_gens", crash_after_tombstones)
    upd = _perturbed(emb).filter(F.col("vec_id") % 7 == 0)
    with pytest.raises(RuntimeError, match="injected"):
        append_ivf_index(upd, path, check_new_ids=False)
    monkeypatch.undo()

    # rolled back in-process: no journal, no tombstone sidecar, exact
    # pre-append file listing, identical serving results
    assert not os.path.exists(sim._ann_journal(path).path)
    assert not os.path.isdir(path + "_tombstones")
    assert list_files(path) == before_files
    assert _ivf_top(spark, path, emb) == before
    # and the batch re-applies cleanly
    append_ivf_index(upd, path, check_new_ids=False)
    cents = json.load(open(os.path.join(path, "_centroids.json")))
    rebuilt = str(tmp_path / "rebuilt")
    write_ivf_index(_perturbed(emb), rebuilt, centroids=cents)
    assert _ivf_top(spark, path, emb) == _ivf_top(spark, rebuilt, emb)


def test_ivf_process_death_journal_refuses_then_recovers(
    spark, tmp_path, emb
):
    """Process-death shape: a live journal with half-applied writes on
    disk.  Writers AND serving reads refuse; recover_ann_append rolls
    back to the exact pre-append state — also from a journal written
    by the previous release (one top-level ``<root>_files`` listing
    per dir, hand-written below)."""
    import pymongo_change_stream_reader_spark.operators.similarity as sim
    from pymongo_change_stream_reader_spark.operators.similarity import (
        recover_ann_append,
    )

    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, nlist=8, train_iters=1)
    before = _ivf_top(spark, path, emb)

    for journal_format in ("current", "previous"):
        # simulate: journal written, tombstones landed, data append
        # never did
        if journal_format == "current":
            sim._ann_journal(path).begin()
        else:
            with open(path + ".append_journal.json", "w") as fh:
                json.dump(
                    {
                        "index_files": list_files(path),
                        "tombstone_files": list_files(path + "_tombstones"),
                    },
                    fh,
                )
        victims = (
            spark.read.parquet(path)
            .filter(F.col("neighbor_id") % 7 == 0)
            .select("neighbor_id", "gen")
        )
        victims.write.mode("append").parquet(path + "_tombstones")

        with pytest.raises(RuntimeError, match="crashed-append journal"):
            ivf_topk_from_index(
                spark, path, emb.filter(F.col("vec_id") < 2), k=5
            )
        with pytest.raises(RuntimeError, match="crashed-append journal"):
            append_ivf_index(
                _perturbed(emb).limit(3), path, check_new_ids=False
            )
        with pytest.raises(RuntimeError, match="crashed-append journal"):
            delete_from_ivf_index(emb.limit(1).select("vec_id"), path)

        assert recover_ann_append(path) is True
        assert not os.path.isdir(path + "_tombstones")
        assert _ivf_top(spark, path, emb) == before
        assert recover_ann_append(path) is False  # idempotent


def test_ivf_compact_rolls_back_crashed_append_first(spark, tmp_path, emb):
    """The journal is a sibling file: it would survive the compaction
    dir swap with stale listings, and recovering AFTER would delete
    every compacted file.  The compactor must roll back first."""
    import pymongo_change_stream_reader_spark.operators.similarity as sim

    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, nlist=8, train_iters=1)
    before = _ivf_top(spark, path, emb)

    sim._ann_journal(path).begin()
    # half-applied crash state: tombstones with no replacement data
    (
        spark.read.parquet(path)
        .filter(F.col("neighbor_id") % 7 == 0)
        .select("neighbor_id", "gen")
        .write.mode("append")
        .parquet(path + "_tombstones")
    )
    compact_ivf_index(spark, path)
    # crashed half-update rolled back, NOT baked into the rewrite
    assert not os.path.exists(sim._ann_journal(path).path)
    assert spark.read.parquet(path).count() == emb.count()
    assert _ivf_top(spark, path, emb) == before


def test_pq_delete_crash_rolls_back(spark, tmp_path, emb, monkeypatch):
    import pymongo_change_stream_reader_spark.operators.similarity as sim

    path = str(tmp_path / "idx")
    write_pq_index(emb, path, m_sub=8, k_codes=16, iters=1)
    before = _pq_top(spark, path, emb, emb)
    before_files = list_files(path)

    orig = sim._ann_delete

    def crash_after_tombstones(*a, **kw):
        orig(*a, **kw)
        raise RuntimeError("injected crash after the tombstone write")

    monkeypatch.setattr(sim, "_ann_delete", crash_after_tombstones)
    with pytest.raises(RuntimeError, match="injected"):
        delete_from_pq_index(
            emb.filter(F.col("vec_id") % 5 == 3).select("vec_id"), path
        )
    monkeypatch.undo()

    assert not os.path.exists(sim._ann_journal(path).path)
    assert not os.path.isdir(path + "_tombstones")
    assert list_files(path) == before_files
    assert _pq_top(spark, path, emb, emb) == before


def test_ivf_reinsert_after_compaction_crash_window(spark, tmp_path, emb):
    """ADVICE r6 low: stale tombstones surviving a compaction crash
    (swap done, sidecar clear not) must not kill a re-inserted
    fully-deleted id — the next-generation computation unions
    tombstone gens."""
    import shutil

    path = str(tmp_path / "idx")
    write_ivf_index(emb, path, nlist=4, train_iters=1)
    victim = emb.filter(F.col("vec_id") == 0)
    delete_from_ivf_index(victim.select("vec_id"), path)
    saved = str(tmp_path / "saved_tombstones")
    shutil.copytree(path + "_tombstones", saved)
    compact_ivf_index(spark, path)
    assert not os.path.isdir(path + "_tombstones")
    shutil.copytree(saved, path + "_tombstones")
    append_ivf_index(victim, path, check_new_ids=True)  # re-insert
    # vec 0 is live again: it must be its own... neighbors' result sets
    # include it (probe its nearest neighbor and expect vec 0 served)
    got = _ivf_top(spark, path, emb, probes=(1, 2, 3))
    clean = str(tmp_path / "clean")
    import json as _json

    with open(os.path.join(path, "_centroids.json")) as fh:
        cents = _json.load(fh)
    write_ivf_index(emb, clean, centroids=cents)
    assert got == _ivf_top(spark, clean, emb, probes=(1, 2, 3))
