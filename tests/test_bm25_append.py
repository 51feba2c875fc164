"""BM25 index LSM append path (operators/retrieval.py
append_bm25_index + streaming/index_relay.py): an index grown by
appends must score BIT-IDENTICALLY to one built from scratch over the
same corpus, duplicate ingestion is refused, and the streaming
consumer folds micro-batches with replay protection."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.retrieval import (
    append_bm25_index,
    bm25_scores_from_index,
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
        .limit(300)
        .cache()
    )


def _scores(spark, path, probes=(0, 1, 2)):
    return {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_scores_from_index(
            spark, path, probe_ids=list(probes)
        ).collect()
    }


def test_append_equals_rebuild(spark, tmp_path, docs):
    """write(A) + append(B) + append(C) == write(A|B|C), score for
    score — postings/doclen appends, df segment merge, and the exact
    integer consts advance together preserve bit-parity."""
    full = str(tmp_path / "full")
    grown = str(tmp_path / "grown")
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 1)
    c = docs.filter(F.col("doc_id") % 3 == 2)
    write_bm25_index(docs, full)
    write_bm25_index(a, grown)
    assert append_bm25_index(b, grown) == b.count()
    assert append_bm25_index(c, grown) == c.count()
    want, got = _scores(spark, full), _scores(spark, grown)
    assert want == got and len(want) > 0
    # consts advanced exactly
    cf = json.load(open(f"{full}/_consts.json"))
    cg = json.load(open(f"{grown}/_consts.json"))
    assert (cf["n_docs"], cf["total_len"], cf["avgdl"]) == (
        cg["n_docs"],
        cg["total_len"],
        cg["avgdl"],
    )


def test_append_refuses_duplicate_ids(spark, tmp_path, docs):
    path = str(tmp_path / "idx")
    write_bm25_index(docs.limit(50), path)
    with pytest.raises(ValueError, match="append-only"):
        append_bm25_index(docs.limit(10), path)  # overlapping ids
    # empty append is a no-op
    assert append_bm25_index(docs.limit(0), path) == 0


def test_append_legacy_consts_without_total_len(spark, tmp_path, docs):
    """An index written before total_len existed derives it from the
    stored doclen once, then appends normally."""
    import os

    path = str(tmp_path / "legacy")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    write_bm25_index(a, path)
    consts = json.load(open(os.path.join(path, "_consts.json")))
    del consts["total_len"]
    with open(os.path.join(path, "_consts.json"), "w") as fh:
        json.dump(consts, fh)
    append_bm25_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    full = str(tmp_path / "full")
    write_bm25_index(docs, full)
    assert _scores(spark, path) == _scores(spark, full)


def test_fused_append_files_and_crash_rollback(spark, tmp_path, docs):
    """r15: on an id_type-stamped index the 3-4 per-table appends fuse
    into ONE tagged write whose files land in the table dirs carrying
    union-surplus null columns.  Pin (a) the fused files are really
    there (a postings data file whose footer includes the surplus
    'dl' column), (b) scores still equal a from-scratch build (the
    explicit-schema readers never see the surplus), and (c) a crash
    AFTER the fused move but BEFORE the consts write rolls the moved
    files back exactly (journal recovery covers the fused path)."""
    import os

    from pymongo_change_stream_reader_spark.operators import retrieval as rt

    path = str(tmp_path / "idx")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    write_bm25_index(a, path)
    consts = json.load(open(os.path.join(path, "_consts.json")))
    assert consts["id_type"] == "bigint"
    before_files = set(list_files(os.path.join(path, "postings")))
    assert append_bm25_index(b, path) == b.count()
    new_files = {
        f
        for f in set(list_files(os.path.join(path, "postings"))) - before_files
        if f.endswith(".parquet")
    }
    assert new_files, "fused append wrote no postings files"
    fused_schema = (
        spark.read.parquet(
            os.path.join(path, "postings", sorted(new_files)[0])
        ).columns
    )
    assert "dl" in fused_schema and "df" in fused_schema  # surplus cols
    full = str(tmp_path / "full")
    write_bm25_index(docs, full)
    assert _scores(spark, path) == _scores(spark, full)
    # crash window: consts write raises after the fused files moved
    c = spark.createDataFrame(
        [(10_000, "wholly new fused crash doc")], "doc_id long, text string"
    )
    pre = {t: set(list_files(os.path.join(path, t))) for t in rt._BM25_TABLES}
    pre_consts = json.load(open(os.path.join(path, "_consts.json")))
    real = rt._write_consts
    import pytest as _pytest

    def boom(*aa, **kk):
        raise RuntimeError("crash before consts")

    rt._write_consts = boom
    try:
        with _pytest.raises(RuntimeError, match="crash before consts"):
            append_bm25_index(c, path)
    finally:
        rt._write_consts = real
    assert rt.recover_bm25_append(path) is True
    assert {
        t: set(list_files(os.path.join(path, t))) for t in rt._BM25_TABLES
    } == pre
    assert not os.path.exists(os.path.join(path, rt._BM25_FUSED_TMP))
    assert json.load(open(os.path.join(path, "_consts.json"))) == pre_consts
    # and the replayed batch applies cleanly afterwards
    assert append_bm25_index(c, path) == 1


def test_streaming_bm25_index_two_batches(spark, tmp_path):
    """e2e: batch 0 builds the index, batch 1 appends a new doc,
    UPDATES an already-ingested key (generation-tagged re-ingest —
    the reference's update loop, change_handler.py:43-48), and
    DELETES another; scores match a from-scratch build over the final
    live corpus."""
    from pymongo_change_stream_reader_spark.sources.change_events import (
        stream_change_events_json,
    )
    from pymongo_change_stream_reader_spark.streaming.composed_relay import (
        start_composed_relay,
    )

    texts = {
        0: "the quick brown fox jumps over the lazy dog in the sun",
        2: "a second quick brown fox jumps over another lazy dog today",
    }
    updated0 = "an updated fox document about query engines and dogs"
    src = tmp_path / "in"
    src.mkdir()

    def event(data, key, text, t, op="insert"):
        body = {
            "_id": {"_data": data},
            "operationType": op,
            "clusterTime": {"t": t, "i": 1},
            "documentKey": key,
            "fullDocument": text,
        }
        return json.dumps(body)

    (src / "b0.json").write_text(
        "\n".join(
            [
                event("a1", "0", texts[0], 1),
                event(
                    "a2",
                    "1",
                    "distributed query engines process terabytes daily",
                    1,
                ),
            ]
        )
    )
    index = str(tmp_path / "bm25")
    q = start_composed_relay(
        stream_change_events_json(spark, str(src)),
        str(tmp_path / "ckpt"),
        bm25_index_path=index,
    )
    try:
        q.processAllAvailable()
        assert json.load(open(f"{index}/_consts.json"))["n_docs"] == 2.0
        (src / "b1.json").write_text(
            "\n".join(
                [
                    event("a3", "2", texts[2], 2),
                    event("a4", "0", updated0, 2, op="update"),
                    event("a5", "1", None, 2, op="delete"),
                ]
            )
        )
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(30)

    # insert(2) + update(0) + delete(1): 2 live docs
    assert json.load(open(f"{index}/_consts.json"))["n_docs"] == 2.0
    # parity with a from-scratch build over the final LIVE corpus
    ref = str(tmp_path / "ref")
    write_bm25_index(
        spark.createDataFrame(
            [("0", updated0), ("2", texts[2])],
            "doc_id STRING, text STRING",
        ),
        ref,
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_scores_from_index(
            spark, index, probe_ids=["0"]
        ).collect()
    }
    want = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_scores_from_index(spark, ref, probe_ids=["0"]).collect()
    }
    assert got == want
    # doc 0 (updated) and doc 2 share fox/dog terms -> nonzero score
    assert got[("0", "2")] > 0


def test_ivf_append_equals_frozen_rebuild(spark, tmp_path):
    """append_ivf_index == rebuilding the whole index with the SAME
    frozen centroids, query result for query result; duplicate ids
    refuse; partition pruning still applies to the appended index."""
    from pymongo_change_stream_reader_spark.operators.similarity import (
        append_ivf_index,
        ivf_topk_from_index,
        write_ivf_index,
    )

    emb = (
        load_table(spark, SF_SMOKE, "embeddings")
        .limit(400)
        .cache()
    )
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    grown = str(tmp_path / "grown")
    cents = write_ivf_index(a, grown, nlist=8, train_iters=1)
    assert append_ivf_index(b, grown) == b.count()
    ref = str(tmp_path / "ref")
    write_ivf_index(emb, ref, centroids=cents)
    queries = emb.filter(F.col("vec_id") < 3)

    def res(path):
        return sorted(
            map(
                tuple,
                ivf_topk_from_index(
                    spark, path, queries, k=5, nprobe=3
                ).collect(),
            )
        )

    assert res(grown) == res(ref) and len(res(grown)) > 0
    with pytest.raises(ValueError, match="append-only"):
        append_ivf_index(b.limit(3), grown)
    assert append_ivf_index(b.limit(0), grown) == 0


def test_pq_append_equals_frozen_rebuild(spark, tmp_path):
    """append_pq_index == re-encoding the union with the SAME frozen
    codebooks; duplicate ids refuse; empty append no-ops."""
    from pymongo_change_stream_reader_spark.operators.similarity import (
        append_pq_index,
        pq_topk_from_index,
        write_pq_index,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(300).cache()
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    grown = str(tmp_path / "grown")
    write_pq_index(a, grown, m_sub=4, k_codes=8, iters=1)
    assert append_pq_index(b, grown) == b.count()
    # reference: encode the union with the same stored codebooks
    import json

    books = json.load(open(f"{grown}/_codebooks.json"))
    from pymongo_change_stream_reader_spark.operators.similarity import (
        pq_encode,
    )

    ref = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(emb, books).collect()
    }
    got = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(grown).collect()
    }
    assert got == ref and len(got) == emb.count()
    queries = emb.filter(F.col("vec_id") < 3)
    out = pq_topk_from_index(spark, grown, queries, emb, k=5, rerank=4)
    assert out.count() == 3 * 5
    with pytest.raises(ValueError, match="append-only"):
        append_pq_index(b.limit(2), grown)
    assert append_pq_index(b.limit(0), grown) == 0
