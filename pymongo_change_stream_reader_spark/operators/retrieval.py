"""Lexical and hybrid retrieval operators over the documents table.

BM25 ranking (Robertson/Okapi) and reciprocal-rank fusion — the
retrieval counterpart of the embedding ANN family in
``operators/similarity.py``.  The reference
(`/root/reference/pymongo_change_stream_reader`) has no query engine of
its own; these extend the north-star corpus/retrieval surface
(SURVEY.md §2.C) the way a RAG / training-data pipeline uses the
engine: keyword search, vector search, and their fusion.

Scale design (100 TB corpus):

- The **postings table** (doc_id, term, tf) is one explode + one hash
  aggregation with map-side partials; it shuffles on term, the same
  key the per-term lookups join on.
- The **query side is tiny** (a handful of probe documents' distinct
  terms).  Document frequencies are joined onto the query terms FIRST
  — so the vocabulary-sized df table is reduced to |query terms| rows
  before it broadcasts against the postings.  The full df table is
  never broadcast (real vocabularies exceed broadcast size).
- Corpus constants (N, avgdl) are scalars — the model-state pattern
  used by the TF-IDF and IVF operators.
- Per-query top-k is one window partitioned by query_id, ranked on the
  ROUNDED score with a deterministic doc_id tie-break so ranking is
  reproducible across engines and float summation orders.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators import text as tx
from pymongo_change_stream_reader_spark.storage import (
    ListingJournal,
    dir_has_parquet,
    write_atomic,
)


def _postings(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, term, tf) — lower-cased whitespace terms.

    Materialized eagerly: four consumers scan it (doclen, df, query
    terms, the candidate join), which without the barrier each re-run
    the explode over the full corpus — 4 corpus passes instead of 1.
    At cluster scale this is the inverted index you write to storage
    once; released by the harness's release_caches() (the
    _grams_table contract)."""
    # Repartition first: a single-file source would serialize the
    # tokenize explode on one core (the _grams_table lesson).
    toks = (
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(tx.tokens(F.col(text_col))).alias("term"),
        )
        .withColumn("term", F.lower("term"))
    )
    post = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).persist()
    post.count()  # eager: lazy persists race across join branches
    return post


def bm25_scores(
    docs: DataFrame,
    probe_ids: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 "more-like-this": each probe document's distinct terms are
    a query; every OTHER document sharing at least one term is scored.

    score(q, d) = sum over t in q of
        idf(t) * tf(t,d) * (k1+1) / (tf(t,d) + k1*(1 - b + b*|d|/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).

    Output: (query_id, doc_id, score) — score rounded to 4 (the sum
    over query terms is order-sensitive in the last ulps; 4 decimals
    is ~10 orders above that noise).
    """
    post = _postings(docs, text_col, id_col)
    doclen = post.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # Corpus constants: scalars, not broadcast-join state.
    n_docs, avgdl = (
        doclen.agg(
            F.count("*").cast("double"), F.avg(F.col("dl").cast("double"))
        ).collect()[0]
    )
    dfreq = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return _score_from_tables(
        post, doclen, dfreq, n_docs, avgdl, probe_ids, k1, b
    )


def _score_from_tables(
    post: DataFrame,
    doclen: DataFrame,
    dfreq: DataFrame,
    n_docs: float,
    avgdl: float,
    probe_ids: list[int],
    k1: float,
    b: float,
) -> DataFrame:
    """Shared scoring core — identical math for the in-memory and the
    stored-index paths (roundtrip equality is pytest-pinned)."""
    # Query terms (tiny) pick up their df — vocabulary never broadcasts.
    # The df table may hold SEGMENT rows (one per append batch, the
    # LSM contract of append_bm25_index): join-then-aggregate keeps the
    # segment merge at |query terms| x segments rows, never a
    # vocabulary-wide aggregation.
    qterms = (
        post.filter(F.col("doc_id").isin(probe_ids))
        .select(F.col("doc_id").alias("query_id"), "term")
        .join(dfreq, "term")
        .groupBy("query_id", "term")
        .agg(F.sum("df").alias("df"))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .select("query_id", "term", "idf")
    )
    scored = (
        post.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(doclen, "doc_id")
        .select(
            "query_id",
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (k1 + 1.0)
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
                )
            ).alias("s"),
        )
    )
    return scored.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("s"), 4).alias("score")
    )


def write_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the BM25 serving index: postings / doclen / df
    parquet tables plus ``_consts.json`` (N, avgdl — the only
    driver-sized artifact).  Ingest-once, query-many: later sessions
    score against the stored tables without touching raw text (the
    write_pq_index / write_semdedup_model contract).  At scale the
    postings table would be bucketed on term so the query-term join
    is exchange-free.

    Rows carry a GENERATION number (gen=0 at build): an update
    re-ingests the document under gen+1 and tombstones the old
    (doc_id, gen) — see upsert_bm25_index / delete_from_bm25_index —
    so the index serves a corpus that updates and deletes, the
    reference's insert/update/replace/delete loop
    (reference change_handler.py:11,43-48)."""
    import json
    import os

    post = _postings(docs, text_col, id_col)
    post.select(
        "doc_id", F.lit(0).alias("gen"), "term", "tf"
    ).write.mode("overwrite").parquet(os.path.join(path, "postings"))
    doclen = post.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    doclen.select(
        "doc_id", F.lit(0).alias("gen"), "dl"
    ).write.mode("overwrite").parquet(os.path.join(path, "doclen"))
    post.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    ).write.mode("overwrite").parquet(os.path.join(path, "dfreq"))
    n_docs, total_len = doclen.agg(
        F.count("*").cast("double"), F.sum("dl").cast("long")
    ).collect()[0]
    id_type = dict(post.dtypes)["doc_id"]
    post.unpersist()
    _write_consts(path, n_docs, int(total_len or 0), id_type=id_type)


def _write_consts(
    path: str, n_docs: float, total_len: int, id_type: str | None = None
) -> None:
    """Durable consts write (storage.write_atomic).  ``total_len`` (an
    exact integer) is stored alongside avgdl so incremental appends
    recompute avgdl EXACTLY as a from-scratch build would — doc
    lengths are ints, their double sum is exact below 2^53, so
    total_len / n_docs == F.avg(dl) bit-for-bit.  ``id_type`` (the
    doc_id Spark SQL type, recorded since r15) lets every reader use
    an explicit schema instead of parquet footer inference — required
    for the fused append (whose files carry union-surplus null
    columns that would make footer inference nondeterministic) and a
    driver-latency win everywhere else."""
    import json
    import os

    avgdl = (total_len / n_docs) if n_docs else 0.0
    consts = {"n_docs": n_docs, "avgdl": avgdl, "total_len": total_len}
    if id_type:
        consts["id_type"] = id_type
    write_atomic(os.path.join(path, "_consts.json"), json.dumps(consts))


_BM25_TABLES = ("postings", "doclen", "dfreq", "tombstones")
_BM25_FUSED_TMP = "_fused_append_tmp"


def _bm25_schema(table: str, id_type: str) -> str:
    """Explicit read schema per index table (r15): column types are
    fixed by the writers (gen = int literal / max+1; tf/dl/df = long
    aggregates) except doc_id, whose type the caller chose at build
    time and ``_consts.json`` records as ``id_type``.  Explicit
    schemas skip footer inference (driver latency per read) and make
    reads immune to union-surplus null columns in fused-append files
    — parquet resolves columns per file by name, so old 4-column and
    new fused files read identically."""
    return {
        "postings": f"doc_id {id_type}, gen int, term string, tf long",
        "doclen": f"doc_id {id_type}, gen int, dl long",
        "dfreq": "term string, df long",
        "tombstones": f"doc_id {id_type}, gen int",
    }[table]


def _bm25_read(spark, path: str, table: str, id_type: str | None):
    """Schema'd read of one index table; indexes from before
    ``id_type`` was recorded fall back to footer inference (their
    files are uniform — the fused append only runs on id_type-stamped
    indexes, see _bm25_apply_locked)."""
    import os

    root = os.path.join(path, table)
    if id_type is None:
        return spark.read.parquet(root)
    return spark.read.schema(_bm25_schema(table, id_type)).parquet(root)


def _with_gen(df: DataFrame) -> DataFrame:
    """Compat shim for indexes written before generations existed:
    their rows are all generation 0."""
    return df if "gen" in df.columns else df.withColumn("gen", F.lit(0))


def _read_tombstones(
    spark, path: str, id_type: str | None = None
) -> DataFrame | None:
    """The dead-generation set (doc_id, gen), or None when the index
    has never seen an update/delete (the pure-append fast path keeps
    its stored-dfreq scoring)."""
    import os

    if not dir_has_parquet(os.path.join(path, "tombstones")):
        return None
    return _bm25_read(spark, path, "tombstones", id_type).select(
        "doc_id", "gen"
    )


def _live_bm25_tables(spark, path: str, id_type: str | None = None):
    """(live postings, live doclen, has_tombstones): stored rows minus
    tombstoned generations.  The tombstone side broadcasts — it holds
    one row per superseded/deleted document version and is bounded by
    compact_bm25_index, which purges dead rows and clears it."""
    post = _with_gen(_bm25_read(spark, path, "postings", id_type))
    doclen = _with_gen(_bm25_read(spark, path, "doclen", id_type))
    tomb = _read_tombstones(spark, path, id_type)
    if tomb is not None:
        post = post.join(F.broadcast(tomb), ["doc_id", "gen"], "left_anti")
        doclen = doclen.join(
            F.broadcast(tomb), ["doc_id", "gen"], "left_anti"
        )
    return (
        post.select("doc_id", "term", "tf"),
        doclen.select("doc_id", "dl"),
        tomb is not None,
    )


def _bm25_journal(path: str) -> ListingJournal:
    """The append journal: every table's file listing plus the consts,
    written BEFORE an apply's first durable write."""
    import os

    return ListingJournal(
        os.path.join(path, "_append_journal.json"),
        {("files", t): os.path.join(path, t) for t in _BM25_TABLES},
        f"BM25 index at {path!r} has a crashed-append journal — "
        "run recover_bm25_append() first",
    )


def _recover_bm25_append_locked(path: str) -> bool:
    """Rollback body of recover_bm25_append — callers hold
    bm25_lock(path) (flock is not reentrant across fds within a
    process, so this must never re-acquire it)."""
    import os
    import shutil

    # a crashed FUSED append may leave its staging dir behind whether
    # or not the journal survived — always clear it (it is never part
    # of any table listing)
    shutil.rmtree(os.path.join(path, _BM25_FUSED_TMP), ignore_errors=True)
    journal = _bm25_journal(path)
    body = journal.rollback()
    if body is None:
        return False
    c = body["consts"]
    _write_consts(
        path, c["n_docs"], c["total_len"], id_type=c.get("id_type")
    )
    # the journal goes only once the consts are restored: a recovery
    # that crashes before this point leaves it live to be re-run
    journal.commit()
    return True


def recover_bm25_append(path: str) -> bool:
    """Roll back a crashed append_bm25_index: the append journal
    records each table's file listing and the consts BEFORE the
    append, so recovery deletes any file not in the listing and
    restores the consts — the index returns to its exact pre-append
    state and the batch can be re-applied cleanly (the streaming
    consumer does this automatically; its epoch marker commits only
    after a full append).  Takes the index write lock: a recovery
    racing a live append would delete that append's files and
    journal.  Returns True if a rollback happened."""
    from pymongo_change_stream_reader_spark.operators.maintenance import (
        bm25_lock,
    )

    with bm25_lock(path):
        return _recover_bm25_append_locked(path)


def _load_consts(spark, path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "_consts.json")) as fh:
        consts = json.load(fh)
    if "total_len" not in consts:
        # index written before the append path existed: derive the
        # exact total once from the stored doclen
        consts["total_len"] = int(
            spark.read.parquet(os.path.join(path, "doclen"))
            .agg(F.sum("dl"))
            .collect()[0][0]
            or 0
        )
    return consts


def _bm25_apply_locked(
    spark,
    path: str,
    upserts: DataFrame | None,
    delete_ids: DataFrame | None,
    text_col: str,
    id_col: str,
    forbid_existing: bool = False,
) -> dict:
    """Apply one batch of document changes (insert / update / delete)
    to a stored BM25 index — the LSM write path shared by
    append_bm25_index, upsert_bm25_index, delete_from_bm25_index, and
    the streaming relay.  CALLERS HOLD bm25_lock(path) and have
    verified no crashed-append journal is live.

    Semantics (generation-tagged segments):

    - an id already LIVE in the index is tombstoned — its current
      (doc_id, gen) row lands in the ``tombstones`` table — and, for
      upserts, re-ingested under gen+1 (updates); an id never seen
      inserts at gen 0; deletes tombstone without re-ingest;
    - postings/doclen: plain parquet appends (new files, no rewrite);
    - dfreq: appends SEGMENT rows (term, df-of-this-batch); once any
      tombstone exists the scorer derives df from live postings
      instead (see bm25_scores_from_index) and compact_bm25_index
      rebuilds the table exactly;
    - _consts.json: n_docs/total_len advance exactly (integer sums,
      dead lengths subtracted), so avgdl equals a from-scratch build
      over the LIVE corpus bit-for-bit.

    CRASH SAFETY: the apply spans several durable writes, so before
    the first one a JOURNAL (per-table file listings + consts) is
    written; a crash at any point leaves the journal in place, further
    writes refuse until ``recover_bm25_append`` rolls the partial
    apply back (tombstone files included), and the batch then
    re-applies cleanly.

    An id must appear on only ONE side (upsert xor delete) within a
    batch — the streaming relay's last-effect-per-key reduction
    guarantees that; batch callers own it.

    Reference parity: this is the reference's per-event index loop —
    insert/update/replace upsert the document, delete removes it
    (reference change_handler.py:11,43-48) — expressed as batch-sized
    appends plus a tombstone set instead of per-row index mutations.
    """
    import os

    consts = _load_consts(spark, path)
    # id_type recorded => every read is schema'd (no footer inference)
    # and the four table appends FUSE into one tagged write; older
    # indexes keep footer inference + per-table appends for this one
    # apply and are stamped at the end, so the next apply upgrades
    id_type = consts.get("id_type")
    raw_doclen = _bm25_read(spark, path, "doclen", id_type)
    if "gen" not in raw_doclen.columns:
        # legacy index (written before generations existed): appending
        # gen-tagged files would MIX schemas within one parquet dir,
        # and spark.read without mergeSchema resolves the mix
        # nondeterministically (gen read as null, or dropped) — either
        # way the tombstone anti-join breaks.  Compaction rewrites
        # every row with gen=0, after which all writers agree.
        raise RuntimeError(
            f"BM25 index at {path!r} predates generation tagging — run "
            "compact_bm25_index(spark, path) once to migrate it before "
            "appending/updating/deleting"
        )
    stored = raw_doclen.select("doc_id", "gen", "dl")
    tomb = _read_tombstones(spark, path, id_type)
    live = (
        stored
        if tomb is None
        else stored.join(F.broadcast(tomb), ["doc_id", "gen"], "left_anti")
    )
    up_ids = (
        upserts.select(F.col(id_col).alias("doc_id")).distinct()
        if upserts is not None
        else None
    )
    del_ids = (
        delete_ids.select(F.col(id_col).alias("doc_id")).distinct()
        if delete_ids is not None
        else None
    )
    ids_in = up_ids if del_ids is None else (
        del_ids if up_ids is None else up_ids.unionByName(del_ids).distinct()
    )
    if ids_in is None:
        return {"upserted": 0, "tombstoned": 0}
    # tombstone targets: the LIVE generation of every incoming id that
    # exists — batch-sized after the broadcast semi-join, checkpointed
    # because it is aggregated AND written below, and must be pinned
    # BEFORE this apply appends to the very table it reads
    existing = live.join(
        F.broadcast(ids_in), "doc_id", "inner"
    ).localCheckpoint(eager=False)  # materialized by the dead-length
    # aggregate below — still strictly BEFORE any append mutates the
    # tables this plan reads
    if forbid_existing and up_ids is not None:
        n_dup = existing.join(F.broadcast(up_ids), "doc_id", "left_semi").count()
        if n_dup:
            raise ValueError(
                f"append_bm25_index: {n_dup} doc_id(s) already in "
                "the index — the BM25 index is append-only "
                "(re-ingesting double-counts terms); use "
                "upsert_bm25_index for updates"
            )
    # new generation per upserted id = max gen over STORED ∪ TOMBSTONE
    # rows + 1: stored covers live-or-dead rows (a deleted-then-
    # reinserted id must clear its own tombstone); the tombstone union
    # covers the compaction crash window where dead generations were
    # purged from the tables but the tombstone set was not yet cleared
    # — without it a re-inserted fully-deleted id lands on gen 0, which
    # a stale (doc_id, 0) tombstone still names, and the new rows are
    # born dead (r6 advice)
    genmap = None
    if up_ids is not None:
        known = stored.select("doc_id", "gen")
        if tomb is not None:
            known = known.unionByName(tomb.select("doc_id", "gen"))
        genmap = (
            known.join(F.broadcast(up_ids), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg((F.max("gen") + 1).alias("gen"))
            .localCheckpoint(eager=False)  # materialized inside the
            # doclen aggregate below, before any write
        )
    post = _postings(
        upserts
        if upserts is not None
        else spark.createDataFrame(
            [], f"{id_col} long, {text_col} string"
        ),
        text_col,
        id_col,
    )
    try:
        post_g = post.join(F.broadcast(genmap), "doc_id", "left").withColumn(
            "gen", F.coalesce(F.col("gen"), F.lit(0))
        ) if genmap is not None else post.withColumn("gen", F.lit(0))
        doclen_new = (
            post_g.groupBy("doc_id", "gen")
            .agg(F.sum("tf").alias("dl"))
            .localCheckpoint(eager=False)  # the count/sum collect
            # below materializes it
        )
        # ONE tagged collect for both sides' (count, total length)
        # (r14 — two separate agg collects were two driver jobs; this
        # also materializes the doclen_new and existing checkpoints
        # together)
        stats_rows = (
            doclen_new.groupBy()
            .agg(
                F.lit(0).alias("side"),
                F.count("*").cast("double").alias("n"),
                F.sum("dl").cast("long").alias("len"),
            )
            .unionByName(
                existing.groupBy().agg(
                    F.lit(1).alias("side"),
                    F.count("*").cast("double").alias("n"),
                    F.sum("dl").cast("long").alias("len"),
                )
            )
            .collect()
        )
        by_side = {r["side"]: r for r in stats_rows}
        n_new, new_len = by_side[0]["n"], by_side[0]["len"]
        n_dead, dead_len = by_side[1]["n"], by_side[1]["len"]
        if not n_new and not n_dead:
            return {"upserted": 0, "tombstoned": 0}
        # journal BEFORE the first durable write
        jconsts = {
            "n_docs": consts["n_docs"],
            "total_len": consts["total_len"],
        }
        if id_type is not None:
            jconsts["id_type"] = id_type
        journal = _bm25_journal(path)
        journal.begin(consts=jconsts)
        # Batch frames per table dir.  Crash safety is identical for
        # both write shapes below: the journal above lists every
        # table's pre-append files, and recovery deletes unknown files
        # in ALL tables (and the fused staging dir) regardless of
        # which writes landed.
        frames = []
        if n_new:
            frames += [
                ("postings", post_g.select("doc_id", "gen", "term", "tf")),
                ("doclen", doclen_new.select("doc_id", "gen", "dl")),
                (
                    "dfreq",
                    post_g.groupBy("term").agg(
                        F.countDistinct("doc_id").alias("df")
                    ),
                ),
            ]
        if n_dead:
            frames.append(("tombstones", existing.select("doc_id", "gen")))
        if id_type is not None and len(frames) > 1:
            # ONE fused tagged write (r15, the stores'
            # commit_bucketed_fused pattern): union the per-table
            # frames over the superset columns with an __fstore tag,
            # write once partitioned by it into a staging dir, then
            # RENAME each partition dir's files into its table dir —
            # one write action + commit protocol instead of 3-4
            # overlapped ones.  Safe only on id_type-stamped indexes:
            # the fused files carry union-surplus null columns, which
            # the explicit-schema readers never see but footer
            # inference would trip over.  Part-file names embed the
            # write job's UUID, so moved files cannot collide with
            # prior appends'.
            import shutil

            sup_types = {
                "doc_id": id_type,
                "gen": "int",
                "term": "string",
                "tf": "long",
                "dl": "long",
                "df": "long",
            }
            parts = []
            for tname, fr in frames:
                have = set(fr.columns)
                parts.append(
                    fr.select(
                        *[
                            (
                                F.col(c)
                                if c in have
                                else F.lit(None).cast(t)
                            ).alias(c)
                            for c, t in sup_types.items()
                        ],
                        F.lit(tname).alias("__fstore"),
                    )
                )
            fused = parts[0]
            for p in parts[1:]:
                fused = fused.unionByName(p)
            tmp_dir = os.path.join(path, _BM25_FUSED_TMP)
            shutil.rmtree(tmp_dir, ignore_errors=True)
            fused.write.partitionBy("__fstore").mode("overwrite").parquet(
                tmp_dir
            )
            for tname, _fr in frames:
                src_dir = os.path.join(tmp_dir, f"__fstore={tname}")
                if not os.path.isdir(src_dir):
                    continue  # frame wrote no rows -> no partition dir
                dst_dir = os.path.join(path, tname)
                os.makedirs(dst_dir, exist_ok=True)
                for fn in os.listdir(src_dir):
                    os.rename(
                        os.path.join(src_dir, fn),
                        os.path.join(dst_dir, fn),
                    )
            shutil.rmtree(tmp_dir, ignore_errors=True)
        else:
            # legacy (pre-id_type) index, or a single table to append:
            # per-table appends overlapped from a thread pool (r14 —
            # wall cost max(), not sum()); the apply stamps id_type
            # below, so the NEXT apply takes the fused path
            append_fns = [
                (
                    lambda fr=fr, tname=tname: fr.write.mode(
                        "append"
                    ).parquet(os.path.join(path, tname))
                )
                for tname, fr in frames
            ]
            if len(append_fns) > 1:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=len(append_fns),
                    thread_name_prefix="bm25-append",
                ) as pool:
                    for fut in [pool.submit(fn) for fn in append_fns]:
                        fut.result()
            elif append_fns:
                append_fns[0]()
        _write_consts(
            path,
            consts["n_docs"] + n_new - n_dead,
            consts["total_len"] + int(new_len or 0) - int(dead_len or 0),
            id_type=id_type or dict(raw_doclen.dtypes)["doc_id"],
        )
        journal.commit()  # commit point: the apply is complete
        return {"upserted": int(n_new), "tombstoned": int(n_dead)}
    finally:
        post.unpersist()


def append_bm25_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    check_new_ids: bool = True,
) -> int:
    """Fold a batch of documents into a stored BM25 index — the LSM
    append path (the lsh append_lsh_index contract applied to lexical
    retrieval); see _bm25_apply_locked for the write protocol and
    crash-safety journal.

    With ``check_new_ids`` (default) an id already LIVE in the index
    raises before anything is written (classic append-only contract);
    with ``check_new_ids=False`` existing ids are UPDATED in place
    (tombstone + re-ingest under the next generation) instead of
    silently corrupting scores.  Returns the number of documents
    ingested."""
    from pymongo_change_stream_reader_spark.operators.maintenance import (
        bm25_lock,
    )

    spark = new_docs.sparkSession
    with bm25_lock(path):
        # the journal check runs INSIDE the lock: a writer that passed
        # a pre-lock check, blocked, and woke after the holder crashed
        # would append over half-applied state and bake the corruption
        # into its own journal (ADVICE r5 medium)
        _bm25_journal(path).refuse_if_live()
        return _bm25_apply_locked(
            spark,
            path,
            new_docs,
            None,
            text_col,
            id_col,
            forbid_existing=check_new_ids,
        )["upserted"]


def upsert_bm25_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Insert-or-update documents in a stored BM25 index: new ids
    append at generation 0, existing ids tombstone their live
    generation and re-ingest under the next one.  One row per id
    (reduce upstream — the relay's last-effect-per-key).  Returns
    ``{"upserted": n, "tombstoned": m}``; scores afterwards equal a
    from-scratch build over the post-update corpus (oracle- and
    pytest-pinned)."""
    from pymongo_change_stream_reader_spark.operators.maintenance import (
        bm25_lock,
    )

    spark = docs.sparkSession
    with bm25_lock(path):
        _bm25_journal(path).refuse_if_live()
        return _bm25_apply_locked(spark, path, docs, None, text_col, id_col)


def delete_from_bm25_index(
    ids: DataFrame, path: str, id_col: str = "doc_id"
) -> dict:
    """Remove documents from a stored BM25 index by id: their live
    (doc_id, gen) rows join the tombstone set and the exact consts
    shrink; data files are untouched until compact_bm25_index purges
    dead generations.  Unknown ids are no-ops."""
    from pymongo_change_stream_reader_spark.operators.maintenance import (
        bm25_lock,
    )

    spark = ids.sparkSession
    with bm25_lock(path):
        _bm25_journal(path).refuse_if_live()
        return _bm25_apply_locked(spark, path, None, ids, "text", id_col)


def bm25_scores_from_index(
    spark,
    path: str,
    probe_ids: list[int],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score probe queries against a stored BM25 index — reads only
    the postings/doclen/df tables; raw text never loads.

    Indexes that have seen updates/deletes (a non-empty tombstone set)
    score against the LIVE rows, and df comes from the live postings
    restricted to the probe terms instead of the stored segment table
    (whose segments are additive-only and go stale under updates) —
    the same filtered postings scan the candidate join makes anyway,
    so the extra cost is one |query-term|-keyed aggregation.  Results
    equal a from-scratch build over the live corpus."""
    import json
    import os

    with open(os.path.join(path, "_consts.json")) as fh:
        consts = json.load(fh)
    id_type = consts.get("id_type")
    post, doclen, has_tomb = _live_bm25_tables(spark, path, id_type)
    if has_tomb:
        qterm_names = (
            post.filter(F.col("doc_id").isin(probe_ids))
            .select("term")
            .distinct()
        )
        dfreq = (
            post.join(F.broadcast(qterm_names), "term")
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
        )
    else:
        dfreq = _bm25_read(spark, path, "dfreq", id_type)
    return _score_from_tables(
        post, doclen, dfreq, consts["n_docs"], consts["avgdl"],
        probe_ids, k1, b,
    )


def topk_ranked(
    scored: DataFrame, k: int, score_col: str = "score"
) -> DataFrame:
    """Per-query top-k on the rounded score, doc_id tie-break."""
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.desc(score_col), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 60,
    names: tuple[str, str] = ("bm25_rank", "vec_rank"),
) -> DataFrame:
    """Reciprocal-rank fusion of two (query_id, doc_id, rank) lists:

        rrf(d) = sum over lists of 1 / (k + rank_list(d))

    A document absent from one list contributes only the other term
    (standard RRF).  The fused score is a sum of exact small rationals
    evaluated identically in any IEEE engine — the most hash-stable
    fusion there is.  Output keeps both source ranks (nullable).
    """
    a = ranked_a.select("query_id", "doc_id", F.col("rank").alias(names[0]))
    b = ranked_b.select("query_id", "doc_id", F.col("rank").alias(names[1]))
    fused = a.join(b, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        names[0],
        names[1],
        F.round(
            F.coalesce(1.0 / (F.lit(k) + F.col(names[0])), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col(names[1])), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused


def mmr_rerank(
    cands: DataFrame,
    k: int,
    lam: float = 0.7,
    q_col: str = "q_id",
    id_col: str = "cand_id",
    rel_col: str = "rel",
    emb_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    per query, greedily pick k candidates maximizing

        lam * rel(c)  -  (1 - lam) * max_{s in selected} sim(c, s)

    — the diversity-aware final stage after a similarity/hybrid
    retrieval, so near-duplicate passages don't crowd a RAG context.

    Scale shape: the candidate set is top-k'-sized per query (the
    caller's retrieval already bounded it), and the greedy loop only
    ever reads sims against SELECTED items — so the kernel receives
    the k' candidate EMBEDDINGS per query (k' rows, not a k'^2 pair
    table; r9's shape materialized every pair) and computes at most
    k'*k cosines lazily as selections happen.  The Python cosine is
    the SAME left-to-right fold as the JVM ``dot`` (F.aggregate with a
    0.0 seed) over IEEE doubles, so scores stay bit-identical to the
    pair-table form and to the SQL oracle's unrolled arithmetic.
    Ties break on the smaller candidate id.  Returns
    (q_col, id_col, pos) with pos 1-based."""
    import math

    import pandas as pd

    one_minus = 1.0 - lam  # match SQL's (1 - lam) bit for bit
    a = cands.select(
        F.col(q_col).alias("q"),
        F.col(id_col).alias("a_id"),
        F.col(rel_col).cast("double").alias("a_rel"),
        F.col(emb_col).cast("array<double>").alias("a_emb"),
    )

    def _dot(x, y) -> float:
        # bit-for-bit the JVM fold: acc starts 0.0, adds left to right
        acc = 0.0
        for xi, yi in zip(x, y):
            acc += xi * yi
        return acc

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rel = {}
        emb = {}
        norm = {}
        for r in pdf.itertuples(index=False):
            rel[r.a_id] = r.a_rel
            v = [float(x) for x in r.a_emb]
            emb[r.a_id] = v
            norm[r.a_id] = math.sqrt(_dot(v, v))
        sim: dict = {}  # (c, s) pairs actually read: <= k' * k

        def _sim(c, s) -> float:
            key = (c, s)
            if key not in sim:
                sim[key] = _dot(emb[c], emb[s]) / (norm[c] * norm[s])
            return sim[key]

        selected: list = []
        out = []
        while len(selected) < min(k, len(rel)):
            best_id, best_score = None, None
            for c, rc in rel.items():
                if c in selected:
                    continue
                if selected:
                    penalty = max(_sim(c, s) for s in selected)
                    score = lam * rc - one_minus * penalty
                else:
                    score = rc
                if (
                    best_score is None
                    or score > best_score
                    or (score == best_score and c < best_id)
                ):
                    best_id, best_score = c, score
            selected.append(best_id)
            out.append((pdf["q"].iloc[0], best_id, len(selected)))
        return pd.DataFrame(out, columns=["q", "id", "pos"])

    id_type = dict(cands.dtypes)[id_col]
    q_type = dict(cands.dtypes)[q_col]
    return (
        a.groupBy("q")
        .applyInPandas(
            greedy, f"q {q_type}, id {id_type}, pos INT"
        )
        .select(
            F.col("q").alias(q_col),
            F.col("id").alias(id_col),
            "pos",
        )
    )
