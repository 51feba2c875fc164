"""Persisted ENTITY-RESOLUTION registry: incremental record linkage
whose prior-corpus state lives in bucketed stores instead of being
recomputed per batch.

``operators/linkage.py:entity_resolution_incremental`` folds a batch
into a caller-held (prior_records, prior_assign) pair — correct, but
the caller re-derives the prior corpus's blocking keys EVERY batch,
so per-batch cost grows with corpus size (the operator's own 100 TB
note names this debt).  This store closes it: the inverted blocking-
key index, the record fields, the assignment table and the
per-entity member index are all PERSISTED as bucketed LWW sinks, so
one batch touches only

- the RECORD buckets of its own rids (old-state lookup + commit),
- the KEY buckets of its own blocking keys (candidate probe + commit),
- the RECORD buckets of the candidate prior rids (field fetch),
- the ASSIGN buckets of the touched rids,
- the MEMBER buckets of the entities the batch merges (relabel
  fan-out),

never a corpus scan.  At 100 TB with n_buckets sized so a bucket is
a few hundred MB, per-batch work is O(batch x block fan-out +
touched buckets).

## Layout under ``path``

- ``records/`` — bucketed BY rid: (rid, live, <field cols>, __t,
  __i, __d); LWW per rid, deletes persist as tombstones.  Field
  values are stored so (a) candidate scoring fetches exactly the
  candidate rids' fields and (b) an UPDATE can recompute the rid's
  OLD blocking keys to tombstone its stale postings.
- ``keys/`` — the inverted blocking index bucketed BY bk:
  (bk, rid, live, triple); LWW per (bk, rid).  A posting list lives
  in one bucket, so candidate probing reads only the batch's key
  buckets.
- ``members/`` — the per-entity member index bucketed BY entity:
  (entity, rid, live, triple); LWW per (entity, rid).  Entity merges
  relabel ALL members of the losing entities by reading only those
  entities' buckets (the join view's fact_by_fk pattern applied to
  identity).
- ``deltas/epoch=N/`` — the batch's four delta frames (records,
  keys, assign, members) + ``_meta.json`` (touched buckets per
  store), persisted under ONE atomic rename BEFORE any commit.  Key
  tombstones derive from the PRE-commit records store and member
  relabels from the PRE-commit members/assign stores — they cannot
  be re-derived once the stores have committed, so replays must
  consume the persisted rows (the join view's replay contract).
- ``view/`` + ``view/_current`` — the ASSIGNMENT table (rid,
  entity), live rows only, bucketed BY rid; ``_current`` names the
  committed snapshot + applied epoch — the single atomic visibility
  point (shared resolver, storage.resolve_pointer).

## Semantics

Inserts match against the committed corpus + the batch itself
through the key index; transitive merges contract prior entities to
supernodes and close over the batch's edges only
(operators/linkage.py:closure_over_edges — driver union-find within
``driver_threshold``, the distributed min-label loop beyond).
UPDATES re-key and re-match under the new field values; matches are
EVIDENCE and are never retracted — an update or delete of a bridge
record does NOT split previously merged entities (the standard
no-retraction semantics of streaming ER; :func:`rebuild_er_registry`
is the registered split-correct maintenance op).  DELETES remove the record, its
postings and its membership; entity labels are OPAQUE ids — a
deleted record's id may keep serving as its cluster's label.
Entity ids are min-record-ids, so rids must be LONG (closure
contract): ``id_mode="integral"`` casts the id column directly,
``id_mode="hashed"`` accepts ARBITRARY STRING ids (ObjectId hex,
UUIDs) via rid = xxhash64(id) with the original string persisted as
the ``__skey`` record column — the collision ledger every batch
checks against (piggybacked on the existing tagged collects; a
collision raises instead of silently merging two documents).  Event
time must be monotone per rid (the LWW contract every store in this
engine shares).

Reference parity: the reference relay applies each change event to
downstream state exactly once (producing/change_event_handler.py:
24-41); this store applies that per-event contract to identity
resolution.  Engine extension surface (SURVEY.md §2.D).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymongo_change_stream_reader_spark.operators.linkage import (
    _score,
    closure_over_edges,
    sim_edit_distance,
    sim_exact,
    sim_numeric_closeness,
    sim_token_jaccard,
)
from pymongo_change_stream_reader_spark.storage import (
    PipelineError,
    bucket_of,
    bucketed_sink_lock,
    commit_bucketed,
    commit_bucketed_fused,
    flatten_bucket_dirs,
    pointer_current,
    publish_pointer,
    read_bucket_manifest,
    read_delta_dir,
    read_entry_dirs,
    read_schemaed,
    resolve_pointer,
    write_atomic,
)
from pymongo_change_stream_reader_spark.streaming.materialize import (
    _ORDER,
    _last_event_per_key,
    merge_lww,
)

__all__ = [
    "ERSpec",
    "er_registry_batch",
    "er_registry_cdc_batch",
    "er_spec_from_config",
    "read_er_assign",
    "read_er_entities",
    "read_er_records",
    "compact_er_registry",
    "rebuild_er_registry",
    "scorer_by_name",
]

_SCORERS = {
    "exact": sim_exact,
    "edit": sim_edit_distance,
    "numeric": sim_numeric_closeness,
    "jaccard": sim_token_jaccard,
}


_VIEW_SCHEMA = "rid LONG, entity LONG"
_KEYS_SCHEMA = (
    "bk STRING, rid LONG, live BOOLEAN, __t INT, __i INT, __d STRING"
)
_MEM_SCHEMA = (
    "entity LONG, rid LONG, live BOOLEAN, __t INT, __i INT, __d STRING"
)
_ASN_SCHEMA = (
    "rid LONG, entity LONG, live BOOLEAN, __t INT, __i INT, __d STRING"
)


def _rid_hash(skey):
    """STRING record id -> LONG rid for ``id_mode="hashed"``:
    xxhash64 (JVM-side, whole-stage codegen).  A 64-bit hash admits
    collisions (~n^2 / 2^65 — material at billions of records), so
    the stored ``__skey`` column doubles as a COLLISION LEDGER: every
    batch checks its rids against the committed rows it already
    reads (piggybacked on the existing tagged collects — no extra
    driver job) and fails loudly on a mismatch rather than silently
    merging two distinct documents.  Module-level so tests can
    monkeypatch a weak hash to exercise the collision paths."""
    return F.xxhash64(skey)


def scorer_by_name(name: str):
    """The named field scorer (``exact`` / ``edit`` / ``numeric`` /
    ``jaccard``) — the config-file surface for MatchField scorers."""
    if name not in _SCORERS:
        raise PipelineError(
            f"unknown ER scorer {name!r}; one of {sorted(_SCORERS)}"
        )
    return _SCORERS[name]


@dataclass(frozen=True)
class ERSpec:
    """The resolution definition a registry is created with.

    ``fields``: scored fields — their ``name``s are the stored record
    columns.  ``extra_cols``: additional stored-but-UNSCORED columns
    (e.g. the raw text the blocking keys shingle while scoring uses
    normalized fields).  ``keys``: blocking-key ARRAY<STRING>
    expression over stored columns (re-applied to STORED rows to
    tombstone an updated record's stale postings, so it must
    reference field/extra columns only).
    ``max_block_size`` drops keys whose combined posting list
    (committed + batch) exceeds the bound for THIS batch's candidate
    generation — incremental and one-shot runs only agree when
    blocking is growth-stable (bound None), same caveat as the
    in-memory operator.

    ``id_mode``: ``integral`` stores ``id_col`` cast to LONG as the
    record id (rids); ``hashed`` accepts ARBITRARY STRING ids
    (ObjectId hex, UUIDs, composite keys — the reference's canonical
    ``documentKey._id`` is a 24-hex ObjectId, tests/mocks/events.py:
    15): rid = xxhash64(id string), the original string persists as
    the ``__skey`` record column (the collision ledger — see
    er_registry_batch), and entity labels become min-HASH ids
    (opaque, as documented).  ``block_def`` is a canonical string of
    the blocking definition for the _config fingerprint; when None,
    the fingerprint falls back to the Column's expression string —
    pass it explicitly (er_spec_from_config does) for registries
    reopened across sessions."""

    id_col: str
    fields: list  # list[MatchField]
    keys: object  # Column
    threshold: float
    max_block_size: int | None = None
    driver_threshold: int = 1_000_000
    extra_cols: tuple = ()
    id_mode: str = "integral"
    block_def: str | None = None

    def __post_init__(self) -> None:
        if self.id_mode not in ("integral", "hashed"):
            raise PipelineError(
                f"er registry: unknown id_mode {self.id_mode!r}; "
                "one of integral, hashed"
            )

    def fingerprint(self) -> dict:
        # JSON-round-trip-stable (lists, not tuples): the batch
        # compares it against the persisted _config.json verbatim.
        # Scorer names and the blocking definition are INCLUDED —
        # reopening a registry with different scorers or blocking
        # would re-derive an updated record's OLD keys with the NEW
        # expression, so stale postings would never tombstone (the
        # round-12 ADVICE finding).
        return {
            "id_col": self.id_col,
            "id_mode": self.id_mode,
            "fields": [
                [f.name, f.weight, getattr(f.scorer, "__name__", "?")]
                for f in self.fields
            ],
            "threshold": self.threshold,
            "max_block_size": self.max_block_size,
            "extra_cols": list(self.extra_cols),
            "block_def": self.block_def
            if self.block_def is not None
            # fallback: the Column's expression string, with lambda
            # variable names (a session-global x_<n> counter, so two
            # constructions of the SAME expression print differently)
            # canonicalized away
            else re.sub(r"\bx_\d+\b", "x", str(self.keys)),
        }

    @property
    def stored_cols(self) -> list:
        return [f.name for f in self.fields] + list(self.extra_cols)


def er_spec_from_config(
    fields_cfg: list,
    threshold: float,
    block_field: str,
    block_kind: str = "token_prefix",
    block_param: int = 3,
    max_block_size: int | None = None,
    id_col: str = "_er_id",
    driver_threshold: int = 1_000_000,
    id_mode: str = "integral",
) -> tuple:
    """Build (ERSpec, field_paths) from the declarative env-surface
    shape (config.py ER_*): ``fields_cfg`` is a list of ``{"name",
    "path", "dtype", "weight", "scorer"}`` dicts (dtype ``tokens``
    splits the JSON value on whitespace into a distinct array for
    jaccard scorers), ``block_field`` names the STRING field the
    blocking keys derive from, ``block_kind`` one of

    - ``token_prefix``: distinct ``block_param``-char prefixes of the
      field's whitespace tokens (sorted-neighborhood-style blocking),
    - ``word_ngram``: distinct word ``block_param``-grams of the raw
      token sequence (the dedup kit's shingles)."""
    from pymongo_change_stream_reader_spark.operators.linkage import (
        MatchField,
    )

    fields = []
    field_paths: dict = {}
    dtypes: dict = {}
    for fc in fields_cfg:
        fields.append(
            MatchField(
                fc["name"], float(fc["weight"]),
                scorer_by_name(fc["scorer"]),
            )
        )
        field_paths[fc["name"]] = (fc["path"], fc["dtype"])
        dtypes[fc["name"]] = fc["dtype"]
    if block_field not in dtypes:
        raise PipelineError(
            f"er registry: block_field {block_field!r} is not one of "
            f"the configured fields {sorted(dtypes)}"
        )
    if dtypes[block_field] != "string":
        raise PipelineError(
            "er registry: block_field must be a 'string'-dtype field, "
            f"{block_field!r} is {dtypes[block_field]!r}"
        )
    bf = F.col(block_field)
    if block_kind == "token_prefix":
        keys = F.array_distinct(
            F.transform(
                F.split(bf, r"\s+"),
                lambda t: F.substring(t, 1, int(block_param)),
            )
        )
    elif block_kind == "word_ngram":
        from pymongo_change_stream_reader_spark.operators.dedup import (
            ngrams_from_tokens,
        )
        from pymongo_change_stream_reader_spark.operators.text import (
            tokens,
        )

        keys = ngrams_from_tokens(tokens(bf), int(block_param))
    else:
        raise PipelineError(
            f"er registry: unknown block_kind {block_kind!r}; one of "
            "token_prefix, word_ngram"
        )
    spec = ERSpec(
        id_col, fields, keys, float(threshold),
        max_block_size=max_block_size,
        driver_threshold=driver_threshold,
        id_mode=id_mode,
        block_def=f"{block_kind}:{int(block_param)}:{block_field}",
    )
    return spec, field_paths


_REBUILD_MARKER = "_rebuild.json"


def _legacy_fingerprint(cfg: dict) -> dict | None:
    """The pre-r13 fingerprint shape this (new-format) config would
    have produced: no ``id_mode``/``block_def`` keys, fields as
    ``[name, weight]`` pairs.  None when the spec could not have
    written a legacy config at all (hashed mode postdates the legacy
    format, so only integral specs upgrade legacy registries)."""
    if cfg.get("id_mode") != "integral":
        return None
    return {
        "n_buckets": cfg["n_buckets"],
        "id_col": cfg["id_col"],
        "fields": [list(f[:2]) for f in cfg["fields"]],
        "threshold": cfg["threshold"],
        "max_block_size": cfg["max_block_size"],
        "extra_cols": cfg["extra_cols"],
    }


def _trip(epoch: int) -> list:
    """Synthetic LWW triple for registry store rows: the epoch is
    strictly monotone and each merge key is written at most once per
    epoch (batch rows are pre-reduced; the delta branches are
    disjoint by construction), so (epoch, 0, "") orders every replay
    identically."""
    return [
        F.lit(epoch).cast("int").alias("__t"),
        F.lit(0).cast("int").alias("__i"),
        F.lit("").alias("__d"),
    ]


def _read_store_buckets(
    spark: SparkSession,
    store: str,
    buckets: list[int],
    schema=None,
) -> DataFrame | None:
    """Union the given buckets' current dirs.  With ``schema`` (the
    registry stores' schemas are config-fixed) the read skips the
    per-version driver-side footer/schema inference — measured at
    ~0.1 s per spark.read.parquet call, a real slice of the per-batch
    floor across this store's five reads."""
    mf = read_bucket_manifest(store)
    if mf is None:
        return None
    rels = [mf[1][k] for k in buckets if k in mf[1]]
    if schema is None:
        return read_entry_dirs(spark, store, rels)
    return read_schemaed(spark, store, rels, schema)


def read_er_assign(spark: SparkSession, path: str) -> DataFrame | None:
    """The current assignment table (rid, entity); None before the
    first applied batch."""
    vroot = os.path.join(path, "view")
    res = resolve_pointer(vroot, "er registry")
    if res is None:
        return None
    entries, _ep = res
    dirs = [
        os.path.join(vroot, rel)
        for rel in entries.values()
        if os.path.isdir(os.path.join(vroot, rel))
    ]
    if not dirs:
        return spark.createDataFrame([], "rid LONG, entity LONG")
    return spark.read.parquet(*dirs).select("rid", "entity")


def read_er_entities(
    spark: SparkSession, path: str, canonical_order: list | None = None
) -> DataFrame | None:
    """(rid, entity, is_canonical) for every LIVE record — the
    per-entity survivor under ``canonical_order`` (descending
    preference Columns over the stored field columns; ties and None
    fall back to ascending rid), completing parity with the one-shot
    operator's output (operators/linkage.py:entity_resolution).
    Computed at read time from the assignment view + the live record
    fields: one broadcast-or-hash join on rid + one entity-partitioned
    window — bounded per-entity state, no corpus-wide sort."""
    from pyspark.sql import Window

    asn = read_er_assign(spark, path)
    recs = read_er_records(spark, path)
    if asn is None or recs is None:
        return None
    order = [c.desc() for c in (canonical_order or [])]
    w = Window.partitionBy("entity").orderBy(*order, F.col("rid").asc())
    return (
        recs.join(asn, "rid")
        .withColumn("is_canonical", F.row_number().over(w) == 1)
        .select("rid", "entity", "is_canonical")
    )


def _records_cols(path: str) -> list[str] | None:
    """The records store's EXACT public column list, derived from the
    persisted config: rid + field columns + extra_cols (+ ``__skey``
    under hashed mode).  r14's fused store commits can leave other
    stores' columns as nulls in the records parquet files; every
    records reader selects this list so the surplus never leaks."""
    cfg_path = os.path.join(path, "_config.json")
    if not os.path.exists(cfg_path):
        return None
    cfg = json.load(open(cfg_path))
    cols = ["rid"] + [f[0] for f in cfg["fields"]] + list(
        cfg.get("extra_cols", [])
    )
    if cfg.get("id_mode", "integral") == "hashed":
        cols.append("__skey")
    return cols


def read_er_records(spark: SparkSession, path: str) -> DataFrame | None:
    """The current LIVE record fields (rid + field columns, plus the
    ``__skey`` original-id column under ``id_mode="hashed"``) — the
    rebuild/reseed surface; None before the first applied batch."""
    store = os.path.join(path, "records")
    mf = read_bucket_manifest(store)
    if mf is None:
        return None
    rows = read_entry_dirs(spark, store, list(mf[1].values()))
    if rows is None:
        return None
    cols = _records_cols(path)
    live = rows.filter(F.col("live"))
    if cols is not None:
        return live.select(*cols)
    return live.drop("live", *_ORDER)


def er_registry_batch(
    records: DataFrame,
    path: str,
    epoch: int,
    spec: ERSpec,
    n_buckets: int = 16,
    retain: int = 2,
    stats: dict | None = None,
) -> bool:
    """Apply one batch of record upserts/deletes to the registry at
    ``path``.  Returns True when the batch applied, False on a
    fully-committed replayed epoch.

    ``records`` carries (``spec.id_col`` — integral under
    ``id_mode="integral"``, any STRING id under ``"hashed"`` —
    ``live`` BOOLEAN — False deletes the record, field values
    ignored — and the field columns) with AT MOST ONE row per id
    (the CDC wrapper reduces batches via the shared LWW fold;
    standalone callers own the contract).  Rows whose id is NULL
    (or, in integral mode, does not cast to LONG) are SKIPPED and
    counted into ``stats["skipped_ids"]`` — a misconfigured id_path
    is observable, never a silent no-op.  A ``__bad`` BOOLEAN
    column, when present, marks rows that must fail validation
    (non-delete events without a post-image); the check rides the
    first tagged collect, so CDC batches pay no dedicated driver
    job.  In hashed mode a xxhash64 collision between two DISTINCT
    id strings — within the batch or against a committed live
    record — raises PipelineError naming the colliding ids (the
    remedy is a re-keyed registry, e.g. a salted id_path; silent
    merges would be unrecoverable)."""
    spark = records.sparkSession
    with bucketed_sink_lock(path):
        cfg = {"n_buckets": n_buckets, **spec.fingerprint()}
        cfg_path = os.path.join(path, "_config.json")
        if os.path.exists(cfg_path):
            stored = json.load(open(cfg_path))
            if stored != cfg and stored == _legacy_fingerprint(cfg):
                # pre-r13 registry (fingerprint predates id_mode /
                # scorer names / block_def): the stored legacy shape
                # matches this spec's legacy projection — upgrade the
                # persisted config in place instead of refusing (the
                # agg/join views' setdefault contract; r13 ADVICE)
                write_atomic(cfg_path, json.dumps(cfg))
            elif stored != cfg:
                raise PipelineError(
                    f"er registry at {path!r} was created with a "
                    "different resolution definition; deltas across "
                    "definitions do not compose"
                )
        else:
            os.makedirs(path, exist_ok=True)
            write_atomic(cfg_path, json.dumps(cfg))
        if os.path.exists(os.path.join(path, _REBUILD_MARKER)):
            # a rebuild crashed between its store commits and the
            # pointer swap: some stores may serve the rebuilt
            # clustering while the view still serves the old one —
            # folding a batch onto that mixed state could mislabel
            # co-members.  Re-run the rebuild first (idempotent: it
            # recomputes from the records store, whose live rows are
            # identical before and after a rebuild commit).
            _rebuild_locked(spark, path, spec, retain)
        cur = pointer_current(os.path.join(path, "view"))
        if cur is not None and cur[1] >= epoch:
            return False
        os.makedirs(os.path.join(path, "deltas"), exist_ok=True)
        os.makedirs(os.path.join(path, "view"), exist_ok=True)

        rec_path = os.path.join(path, "records")
        keys_path = os.path.join(path, "keys")
        mem_path = os.path.join(path, "members")
        vroot = os.path.join(path, "view")

        deltas_dir = os.path.join(path, "deltas", f"epoch={epoch}")
        if not os.path.isdir(deltas_dir):
            _compute_and_persist_deltas(
                spark, records, path, epoch, spec, n_buckets,
                deltas_dir, stats,
            )

        # replay-stable: ALWAYS consume the persisted delta frames
        # (key tombstones / member relabels derive from PRE-commit
        # store state and cannot be re-derived once committed).  All
        # four reads are schema'd via read_delta_dir: r14's fused
        # delta write can leave empty dirs and union-surplus null
        # columns, both invisible under an explicit schema.  The
        # records schema rides _meta.json (caller-typed fields);
        # pre-r14 epochs without it keep the footer-inferred read.
        meta = json.load(open(os.path.join(deltas_dir, "_meta.json")))
        rec_schema_json = meta.get("rec_schema")
        if rec_schema_json:
            from pyspark.sql.types import StructType

            d_rec = read_delta_dir(
                spark,
                os.path.join(deltas_dir, "records"),
                StructType.fromJson(json.loads(rec_schema_json)),
            )
        else:
            d_rec = spark.read.parquet(
                os.path.join(deltas_dir, "records")
            )
        d_key = read_delta_dir(
            spark, os.path.join(deltas_dir, "keys"), _KEYS_SCHEMA
        )
        d_asn = read_delta_dir(
            spark, os.path.join(deltas_dir, "assign"), _ASN_SCHEMA
        )
        d_mem = read_delta_dir(
            spark, os.path.join(deltas_dir, "members"), _MEM_SCHEMA
        )

        rec_merged, _ro, rec_entries, rec_changed = merge_lww(
            spark, d_rec, rec_path, ["rid"], ["rid"], n_buckets,
            changed=meta["rec_buckets"], schema=d_rec.schema,
        )
        key_merged, _ko, key_entries, key_changed = merge_lww(
            spark, d_key, keys_path, ["bk", "rid"], ["bk"], n_buckets,
            changed=meta["key_buckets"], schema=_KEYS_SCHEMA,
        )
        mem_merged, _mo, mem_entries, mem_changed = merge_lww(
            spark, d_mem, mem_path, ["entity", "rid"], ["entity"],
            n_buckets, changed=meta["mem_buckets"], schema=_MEM_SCHEMA,
        )

        vchanged = meta["asn_buckets"]
        res = resolve_pointer(vroot, "er registry")
        ventries = dict(res[0]) if res is not None else {}
        rels = [ventries[k] for k in vchanged if k in ventries]
        dirs = [
            os.path.join(vroot, rel)
            for rel in rels
            if os.path.isdir(os.path.join(vroot, rel))
        ]
        base = (
            spark.read.schema(_VIEW_SCHEMA).parquet(*dirs)
            if dirs
            else None
        )
        if base is None:
            base = spark.createDataFrame([], "rid LONG, entity LONG")
        nxt = (
            base.select("rid", "entity")
            .join(d_asn.select("rid").distinct(), "rid", "anti")
            .unionByName(
                d_asn.filter(F.col("live")).select("rid", "entity")
            )
        )
        # ONE fused write commits all four stores (r14 — the r13
        # wave pooled four separate commit_bucketed writes); the
        # per-store manifest finalize stays sequential filesystem
        # work, and a crash between finalizes (a store prefix
        # committed) is exactly the window the persisted deltas cover
        commit_bucketed_fused(
            [
                dict(
                    name="records", df=rec_merged, path=rec_path,
                    on=["rid"], n_buckets=n_buckets,
                    entries=rec_entries, changed=rec_changed,
                    retain=retain,
                ),
                dict(
                    name="keys", df=key_merged, path=keys_path,
                    on=["bk"], n_buckets=n_buckets,
                    entries=key_entries, changed=key_changed,
                    retain=retain,
                ),
                dict(
                    name="members", df=mem_merged, path=mem_path,
                    on=["entity"], n_buckets=n_buckets,
                    entries=mem_entries, changed=mem_changed,
                    retain=retain,
                ),
                dict(
                    name="view", df=nxt, path=vroot, on=["rid"],
                    n_buckets=n_buckets, entries=ventries,
                    changed=vchanged, retain=max(3, retain),
                ),
            ],
            path,
        )

        # single visibility point, strictly after every commit
        publish_pointer(vroot, epoch)

        droot = os.path.join(path, "deltas")
        depochs = sorted(
            int(dn.split("=", 1)[1])
            for dn in os.listdir(droot)
            if dn.startswith("epoch=")
        )
        for e in depochs[: max(0, len(depochs) - retain)]:
            shutil.rmtree(
                os.path.join(droot, f"epoch={e}"), ignore_errors=True
            )
        return True


def _compute_and_persist_deltas(
    spark: SparkSession,
    records: DataFrame,
    path: str,
    epoch: int,
    spec: ERSpec,
    n_buckets: int,
    deltas_dir: str,
    stats: dict | None,
) -> None:
    """First-time apply: derive the four delta frames against the
    PRE-commit stores and persist them under one atomic rename."""
    fieldcols = [f.name for f in spec.fields]
    rec_path = os.path.join(path, "records")
    keys_path = os.path.join(path, "keys")
    mem_path = os.path.join(path, "members")

    # all intermediate frames checkpoint LAZILY: each tagged
    # probe/collect below materializes the frames it reads as a side
    # effect, so the per-batch driver-job count stays at the probe
    # count instead of one extra job per checkpoint (the join view's
    # round-11 lesson, measured as the composed relay's ER floor)
    has_bad = "__bad" in records.columns
    hashed = spec.id_mode == "hashed"
    if hashed:
        skey = F.col(spec.id_col).cast("string")
        # guard the hash: xxhash64(NULL) is the seed (42), not NULL —
        # unguarded, every NULL-id row would collapse onto rid 42 and
        # silently LWW-merge into one phantom record, invisible to
        # both collision-ledger checks (NULL != x is NULL;
        # count_distinct ignores NULLs).  NULL must propagate into
        # the existing skip/count path (the r13 ADVICE finding).
        rid_cols = [
            F.when(skey.isNotNull(), _rid_hash(skey)).alias("rid"),
            skey.alias("__skey"),
        ]
    else:
        rid_cols = [F.col(spec.id_col).cast("long").alias("rid")]
    W0 = records.select(
        *rid_cols,
        F.col("live").cast("boolean").alias("live"),
        *spec.stored_cols,
        *_trip(epoch),
        *([F.col("__bad")] if has_bad else []),
    ).localCheckpoint(eager=False)
    W = W0.filter(F.col("rid").isNotNull())

    newk = (
        W.filter(F.col("live"))
        .select("rid", F.explode(spec.keys).alias("bk"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    # job 1 — ALL batch-derivable discovery in one tagged collect:
    # the batch's rid buckets (t=0, records/assign stores), the
    # piggybacked validation (t=1, the CDC wrapper's __bad rides W0),
    # the key-PROBE buckets (t=2, from the batch's own new keys — the
    # committed-posting read needs no store-dependent input), the
    # within-batch hash-collision flag (t=3, hashed mode) and the
    # skipped-id count (t=4, rows whose id was NULL/unparseable),
    # which also materializes the W0 and newk checkpoints
    j1 = W.select(
        F.lit(0).alias("t"), bucket_of(["rid"], n_buckets).alias("b")
    ).unionByName(
        newk.select(
            F.lit(2).alias("t"), bucket_of(["bk"], n_buckets).alias("b")
        )
    ).unionByName(
        W0.groupBy().agg(
            F.coalesce(
                F.sum(F.col("rid").isNull().cast("long")), F.lit(0)
            ).alias("b")
        ).select(F.lit(4).alias("t"), "b")
    )
    if has_bad:
        j1 = j1.unionByName(
            W0.filter(F.col("__bad")).select(
                F.lit(1).alias("t"), F.lit(-1).alias("b")
            )
        )
    if hashed:
        j1 = j1.unionByName(
            W.groupBy("rid")
            .agg(F.count_distinct("__skey").alias("__n"))
            .filter(F.col("__n") > 1)
            .select(F.lit(3).alias("t"), F.lit(-1).alias("b"))
        )
    j1_rows = j1.distinct().collect()
    if any(r["t"] == 1 for r in j1_rows):
        raise PipelineError(
            "er registry maintenance needs a post-image per "
            "non-delete event (fullDocument=updateLookup)"
        )
    if any(r["t"] == 3 for r in j1_rows):
        sample = (
            W.groupBy("rid")
            .agg(F.collect_set("__skey").alias("ks"))
            .filter(F.size("ks") > 1)
            .limit(3)
            .collect()
        )
        raise PipelineError(
            "er registry: xxhash64 collision between distinct record "
            f"ids within one batch: {[list(r['ks']) for r in sample]!r}"
            " — re-key the registry (e.g. a salted id_path)"
        )
    if stats is not None:
        stats["skipped_ids"] = next(
            int(r["b"]) for r in j1_rows if r["t"] == 4
        )
    rid_buckets = sorted(r["b"] for r in j1_rows if r["t"] == 0)
    probe_buckets = sorted(r["b"] for r in j1_rows if r["t"] == 2)
    if has_bad:
        W = W.drop("__bad")
    rec_schema = W.schema  # the records store's config-fixed schema

    # old record state of the batch's rids -> stale-posting tombstones
    R_old = _read_store_buckets(
        spark, rec_path, rid_buckets, schema=rec_schema
    )
    if R_old is None:
        R_old = W.filter(F.lit(False))
    R_old = R_old.join(W.select("rid"), "rid", "semi")
    oldk = (
        R_old.filter(F.col("live"))
        .select("rid", F.explode(spec.keys).alias("bk"))
        .distinct()
    )
    key_tombs = oldk.join(newk, ["rid", "bk"], "anti").select(
        "bk", "rid", F.lit(False).alias("live"), *_trip(epoch)
    )
    key_posts = newk.join(oldk, ["rid", "bk"], "anti").select(
        "bk", "rid", F.lit(True).alias("live"), *_trip(epoch)
    )
    d_key = key_posts.unionByName(key_tombs).localCheckpoint(eager=False)

    # candidate probe: committed live postings colliding with the
    # batch's keys, the batch's own stale postings excluded
    P = _read_store_buckets(
        spark, keys_path, probe_buckets, schema=_KEYS_SCHEMA
    )
    if P is None:
        P = d_key.filter(F.lit(False))
    P = (
        P.filter(F.col("live"))
        .select("bk", "rid")
        .join(newk.select("bk").distinct(), "bk", "semi")
        .join(W.select("rid"), "rid", "anti")
    )
    if spec.max_block_size is not None:
        hot = (
            P.unionByName(newk.select("bk", "rid"))
            .groupBy("bk")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > spec.max_block_size)
            .select("bk")
            .localCheckpoint(eager=False)
        )
        P = P.join(hot, "bk", "anti")
        newk_c = newk.join(hot, "bk", "anti")
    else:
        newk_c = newk
    np_pairs = (
        newk_c.alias("__a")
        .join(P.alias("__b"), F.col("__a.bk") == F.col("__b.bk"))
        .select(
            F.least(F.col("__a.rid"), F.col("__b.rid")).alias("id_a"),
            F.greatest(F.col("__a.rid"), F.col("__b.rid")).alias("id_b"),
        )
    )
    nn_pairs = (
        newk_c.alias("__a")
        .join(
            newk_c.alias("__b"),
            (F.col("__a.bk") == F.col("__b.bk"))
            & (F.col("__a.rid") < F.col("__b.rid")),
        )
        .select(
            F.col("__a.rid").alias("id_a"), F.col("__b.rid").alias("id_b")
        )
    )
    cand = (
        np_pairs.unionByName(nn_pairs).distinct().localCheckpoint(eager=False)
    )

    # job 2: candidate prior rids' buckets (field fetch + assign
    # probe, t=0) + the key store's COMMIT buckets (t=1 — tombstones
    # can land outside the probe set) in ONE tagged collect, which
    # also materializes the cand and d_key checkpoints
    prior_rids = (
        cand.select(F.col("id_a").alias("rid"))
        .unionByName(cand.select(F.col("id_b").alias("rid")))
        .distinct()
        .join(W.select("rid"), "rid", "anti")
        .localCheckpoint(eager=False)
    )
    j2 = prior_rids.select(
        F.lit(0).alias("t"), bucket_of(["rid"], n_buckets).alias("b")
    ).unionByName(
        d_key.select(
            F.lit(1).alias("t"),
            bucket_of(["bk"], n_buckets).alias("b"),
        )
    )
    if hashed:
        # collision ledger check against the COMMITTED corpus: the
        # batch's rid buckets are already being read (R_old, for the
        # stale-posting tombstones) — a live stored row whose __skey
        # differs from the batch's means two distinct document ids
        # hashed to one rid
        mism = (
            W.select("rid", "__skey")
            .join(
                R_old.filter(F.col("live")).select(
                    "rid", F.col("__skey").alias("__oskey")
                ),
                "rid",
            )
            .filter(F.col("__skey") != F.col("__oskey"))
        )
        j2 = j2.unionByName(
            mism.select(F.lit(2).alias("t"), F.lit(-1).alias("b"))
        )
    j2_rows = j2.distinct().collect()
    if any(r["t"] == 2 for r in j2_rows):
        sample = mism.select("__skey", "__oskey").limit(3).collect()
        raise PipelineError(
            "er registry: xxhash64 collision between a batch record "
            "id and a committed live record id: "
            f"{[(r['__skey'], r['__oskey']) for r in sample]!r}"
            " — re-key the registry (e.g. a salted id_path)"
        )
    prid_buckets = sorted(r["b"] for r in j2_rows if r["t"] == 0)
    key_buckets = sorted(r["b"] for r in j2_rows if r["t"] == 1)
    prior_recs = _read_store_buckets(
        spark, rec_path, prid_buckets, schema=rec_schema
    )
    if prior_recs is None:
        prior_recs = W.filter(F.lit(False))
    prior_recs = prior_recs.filter(F.col("live")).join(
        prior_rids, "rid", "semi"
    )
    allrec = (
        W.filter(F.col("live"))
        .select("rid", *fieldcols)
        .unionByName(prior_recs.select("rid", *fieldcols))
    )
    scored = (
        cand.join(allrec.alias("__a"), cand["id_a"] == F.col("__a.rid"))
        .join(allrec.alias("__b"), cand["id_b"] == F.col("__b.rid"))
        .select("id_a", "id_b", _score(spec.fields).alias("__score"))
    )
    matches = (
        scored.filter(F.col("__score") >= spec.threshold)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )

    # assignments of the touched rids: the batch's + the candidates'
    # buckets were both collected above — one probe read covers them
    pa_base = None
    res = resolve_pointer(os.path.join(path, "view"), "er registry")
    if res is not None:
        entries = res[0]
        want = sorted(set(rid_buckets) | set(prid_buckets))
        vroot_ = os.path.join(path, "view")
        dirs = [
            os.path.join(vroot_, entries[k])
            for k in want
            if k in entries
            and os.path.isdir(os.path.join(vroot_, entries[k]))
        ]
        if dirs:
            pa_base = spark.read.schema(_VIEW_SCHEMA).parquet(*dirs)
    if pa_base is None:
        pa_base = spark.createDataFrame([], "rid LONG, entity LONG")
    pa = pa_base.select("rid", "entity").localCheckpoint(eager=False)

    mapped = (
        matches.alias("__m")
        .join(pa.alias("__ea"), F.col("__m.id_a") == F.col("__ea.rid"), "left")
        .join(pa.alias("__eb"), F.col("__m.id_b") == F.col("__eb.rid"), "left")
        .select(
            F.coalesce(F.col("__ea.entity"), F.col("__m.id_a")).alias("na"),
            F.coalesce(F.col("__eb.entity"), F.col("__m.id_b")).alias("nb"),
        )
        .distinct()
        .persist()
    )
    lmap, small, n_edges = closure_over_edges(
        spark, mapped, spec.driver_threshold
    )
    mapped.unpersist()
    lmap_side = F.broadcast(lmap) if small else lmap

    # --- assign deltas ------------------------------------------------
    # live batch rids: node = prior entity (or own id), final = closed
    # label; deleted batch rids: tombstone
    w_live = (
        W.filter(F.col("live"))
        .select("rid")
        .join(pa, "rid", "left")
        .select("rid", F.coalesce("entity", "rid").alias("node"))
    )
    asn_new = (
        w_live.join(lmap_side, w_live["node"] == lmap["node"], "left")
        .select(
            F.col("rid"),
            F.coalesce(F.col("final"), w_live["node"]).alias("entity"),
            F.lit(True).alias("live"),
            *_trip(epoch),
        )
    )
    asn_del = (
        W.filter(~F.col("live"))
        .select("rid")
        .join(pa, "rid", "left")
        .select(
            "rid",
            F.coalesce("entity", "rid").alias("entity"),
            F.lit(False).alias("live"),
            *_trip(epoch),
        )
    )
    # entities whose closed label moved: every prior member relabels
    changed = (
        lmap.join(
            pa.select(F.col("entity").alias("node")).distinct(),
            "node",
            "semi",
        )
        .filter(F.col("node") != F.col("final"))
        .select(F.col("node").alias("old_e"), F.col("final").alias("new_e"))
        .localCheckpoint(eager=False)
    )
    # job 4: the losing entities' member buckets
    ch_buckets = sorted(
        r["b"]
        for r in changed.select(
            bucket_of(["old_e"], n_buckets).alias("b")
        )
        .distinct()
        .collect()
    )
    mem_base = _read_store_buckets(
        spark, mem_path, ch_buckets, schema=_MEM_SCHEMA
    )
    if mem_base is None:
        mem_base = spark.createDataFrame(
            [], f"entity LONG, rid LONG, live BOOLEAN, "
            "__t INT, __i INT, __d STRING"
        )
    relabel = (
        mem_base.filter(F.col("live"))
        .join(changed, mem_base["entity"] == changed["old_e"])
        .join(W.select("rid"), "rid", "anti")
        .select("rid", "old_e", "new_e")
        .localCheckpoint(eager=False)
    )
    asn_relabel = relabel.select(
        "rid",
        F.col("new_e").alias("entity"),
        F.lit(True).alias("live"),
        *_trip(epoch),
    )
    # matched prior rids the assign table has never seen (externally
    # seeded stores): emit their label when the closure moved it —
    # same contract as the in-memory operator's seeded path
    seeded = (
        prior_rids.join(
            matches.select(F.col("id_a").alias("rid"))
            .unionByName(matches.select(F.col("id_b").alias("rid")))
            .distinct(),
            "rid",
            "semi",
        )
        .join(pa, "rid", "anti")
    )
    asn_seeded = (
        seeded.join(lmap_side, seeded["rid"] == lmap["node"])
        .filter(F.col("final") != F.col("rid"))
        .select(
            F.col("rid"),
            F.col("final").alias("entity"),
            F.lit(True).alias("live"),
            *_trip(epoch),
        )
    )
    # NOT checkpointed (r14): the fused delta write below is the
    # frame's ONLY consumer — the write materializes it, and its
    # touched buckets come back from the write's partition dirs, so
    # a checkpoint here would only add a dedicated Catalyst planning
    # pass (measured ~0.7 s/batch on the driver)
    d_asn = (
        asn_new.unionByName(asn_del)
        .unionByName(asn_relabel)
        .unionByName(asn_seeded)
    )

    # --- member deltas --------------------------------------------
    # live batch rids join their final entity; stale memberships
    # (prior entity != final, or delete) tombstone
    w_final = asn_new.select("rid", "entity")
    w_old_e = (
        W.select("rid", "live").join(pa, "rid", "inner")
        .select("rid", F.col("entity").alias("old_e"), "live")
    )
    mem_new = w_final.select(
        F.col("entity"), F.col("rid"), F.lit(True).alias("live"),
        *_trip(epoch),
    ).unionByName(
        relabel.select(
            F.col("new_e").alias("entity"), F.col("rid"),
            F.lit(True).alias("live"), *_trip(epoch),
        )
    ).unionByName(
        asn_seeded.select(
            "entity", "rid", F.lit(True).alias("live"), *_trip(epoch)
        )
    )
    mem_tombs = (
        # a batch rid whose entity moved (or that was deleted) leaves
        # its old entity's member list
        w_old_e.join(
            w_final.select("rid", F.col("entity").alias("__fe")),
            "rid",
            "left",
        )
        .filter(
            ~F.col("live") | ~F.col("old_e").eqNullSafe(F.col("__fe"))
        )
        .select(
            F.col("old_e").alias("entity"), F.col("rid"),
            F.lit(False).alias("live"), *_trip(epoch),
        )
        .unionByName(
            relabel.select(
                F.col("old_e").alias("entity"), F.col("rid"),
                F.lit(False).alias("live"), *_trip(epoch),
            )
        )
    )
    # not checkpointed — same single-consumer rationale as d_asn
    d_mem = mem_new.unionByName(mem_tombs)

    # --- persist the four delta frames + touched buckets ------------
    # r14: the assign/member commit buckets are DERIVED FROM THE
    # DELTA WRITE ITSELF — each frame carries its own __b bucket
    # column and the fused write partitions by (__delta, __b), so the
    # written partition dirs ARE the touched-bucket lists (pure
    # directory listing, no driver job).  This replaces the r13
    # "job 5" tagged collect AND lets d_asn/d_mem drop their
    # checkpoints (the write is their only consumer).
    if stats is not None:
        stats["edges"] = n_edges
        stats["merged_entities"] = changed.count()
        stats["candidates"] = cand.count()

    tmp = os.path.join(path, "deltas", f".tmp-{epoch}")
    shutil.rmtree(tmp, ignore_errors=True)
    # the assign/members frames carry their commit-bucket id as a
    # write partition column — the written dirs are the touched-bucket
    # lists (the records/keys lists were already collected in j1/j2,
    # where they gate the pre-write store reads)
    bucket_col = {
        "assign": bucket_of(["rid"], n_buckets),
        "members": bucket_of(["entity"], n_buckets),
    }
    writes = (
        ("records", W),
        ("keys", d_key),
        ("assign", d_asn.withColumn("__b", bucket_col["assign"])),
        ("members", d_mem.withColumn("__b", bucket_col["members"])),
    )
    # ONE Spark write for all four delta frames (r14 — the r13 wave
    # paid four coalesce(1) write jobs from a thread pool): union
    # with a __delta tag, write partitioned by (__delta, __b), rename
    # the partition dirs back to the records/keys/assign/members
    # layout (bucket subdirs flattened under a b<val>- file prefix —
    # one task writes the same part name into every partition dir).
    # Union-surplus columns land as nulls; every replay read
    # is schema'd (the records schema persists in _meta.json).  A user
    # field column colliding with another frame's column under a
    # different type makes the union fail — fall back to the
    # four separate writes (always correct, just more jobs).
    derived: dict[str, list[int]] = {}
    try:
        du = None
        for sub, df in writes:
            t = df.withColumn("__delta", F.lit(sub))
            du = (
                t
                if du is None
                else du.unionByName(t, allowMissingColumns=True)
            )
        du.coalesce(1).write.partitionBy("__delta", "__b").mode(
            "overwrite"
        ).parquet(tmp)
        for sub, _df in writes:
            src = os.path.join(tmp, f"__delta={sub}")
            dst = os.path.join(tmp, sub)
            if os.path.isdir(src):
                os.rename(src, dst)
                derived[sub] = flatten_bucket_dirs(dst)
            else:
                os.makedirs(dst, exist_ok=True)
                derived[sub] = []
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)
        from concurrent.futures import ThreadPoolExecutor

        def _one(sub, df):
            dst = os.path.join(tmp, sub)
            w = df.coalesce(1).write.mode("overwrite")
            if sub in bucket_col:
                w.partitionBy("__b").parquet(dst)
                derived[sub] = flatten_bucket_dirs(dst)
            else:
                w.parquet(dst)

        with ThreadPoolExecutor(
            max_workers=4, thread_name_prefix="erreg-delta"
        ) as pool:
            futs = [
                pool.submit(_one, sub, df) for sub, df in writes
            ]
            for f in futs:
                f.result()
    asn_buckets = derived.get("assign", [])
    mem_buckets = derived.get("members", [])
    write_atomic(
        os.path.join(tmp, "_meta.json"),
        json.dumps(
            {
                "rec_buckets": rid_buckets,
                "key_buckets": key_buckets,
                "asn_buckets": asn_buckets,
                "mem_buckets": mem_buckets,
                # the records delta's exact schema, for the schema'd
                # replay read (fields are caller-typed, so the replay
                # cannot reconstruct it from the spec alone)
                "rec_schema": W.schema.json(),
            }
        ),
    )
    os.rename(tmp, deltas_dir)  # atomic: the delta commit point


def er_registry_cdc_batch(
    batch: DataFrame,
    path: str,
    epoch: int,
    spec: ERSpec,
    id_path: str = "$._id",
    field_paths: dict | None = None,
    n_buckets: int = 16,
    retain: int = 2,
    stats: dict | None = None,
    reduced: DataFrame | None = None,
) -> bool:
    """Fold one micro-batch of CHANGE EVENTS into the registry: the
    reference's per-event apply loop (change_event_handler.py:24-41)
    applied to identity resolution.  Non-delete events need a
    post-image (fullDocument=updateLookup) — the check rides the
    batch's first tagged collect inside er_registry_batch (no
    dedicated driver job) and fails BEFORE any delta persists;
    ``id_path`` extracts the record id from it (and from the
    documentKey for deletes), ``field_paths`` maps each spec field
    name to its post-image JSON path + dtype, e.g. ``{"name":
    ("$.name", "string"), "age": ("$.age", "long")}``.  A ``tokens``
    dtype splits the string value on whitespace into a distinct
    ARRAY (for jaccard scorers).

    Under ``spec.id_mode="integral"`` the extracted id must cast to
    LONG; ``"hashed"`` takes the id STRING as-is (xxhash64 rid +
    ``__skey`` collision ledger — ERSpec docs), which is how the
    reference's canonical ObjectId-keyed documents
    (tests/mocks/events.py:15 — ``documentKey._id`` is a 24-hex
    ObjectId) resolve: point ``id_path`` at ``$._id`` and the
    ``{"$oid": ...}`` JSON fragment is the injective key.

    Events that yield NO record id (``id_path`` absent from the
    post-image and the key not parseable) are SKIPPED and counted
    into ``stats["skipped_ids"]`` — in a polymorphic collection only
    the identity-bearing documents resolve; the other sides flow to
    their own stores (the composed relay's star/join dims are the
    canonical case).  ``id_path`` must be INJECTIVE per documentKey
    (two documents mapping to one rid would leave the
    at-most-one-row-per-rid contract to a nondeterministic LWW tie)
    — the natural choice is the document's own primary key."""
    fp = field_paths or {}
    missing = [c for c in spec.stored_cols if c not in fp]
    if missing:
        raise PipelineError(
            f"er registry cdc: field_paths missing {missing!r}"
        )
    # ``reduced``: the composed relay's shared reduce_batch_shared
    # frame (same shape, already checkpointed) — skip this store's
    # own reduce shuffle
    if reduced is not None:
        last = reduced
    else:
        data = batch.filter(
            F.col("operationType").isin(
                "insert", "update", "replace", "delete"
            )
        )
        last = _last_event_per_key(
            data,
            extra_aggs={
                "__bad": F.max(
                    (F.col("op") != "delete") & F.col("doc").isNull()
                )
            },
        )
    live = F.col("op") != "delete"

    def _field(name: str):
        jp, dtype = fp[name]
        raw = F.get_json_object("doc", jp)
        if dtype == "tokens":
            return F.array_distinct(
                F.split(F.coalesce(raw, F.lit("")), r"\s+")
            ).alias(name)
        return raw.cast(dtype).alias(name)

    # try_cast: non-identity documents (a polymorphic collection's
    # other sides) yield NULL and are skipped + counted inside the
    # batch apply — a plain cast would THROW under ANSI mode on e.g.
    # a star dim's "d0" key.  Hashed mode keeps the raw id string
    # (NULL only when no id exists at all).
    raw_id = F.coalesce(
        F.get_json_object("doc", id_path),
        F.get_json_object("key", id_path),
        F.col("key"),
    )
    rid = raw_id if spec.id_mode == "hashed" else raw_id.try_cast("long")
    recs = last.select(
        rid.alias(spec.id_col),
        live.alias("live"),
        *[_field(c) for c in spec.stored_cols],
        F.col("__bad"),
    )
    return er_registry_batch(
        recs, path, epoch, spec,
        n_buckets=n_buckets, retain=retain, stats=stats,
    )


def rebuild_er_registry(
    spark: SparkSession, path: str, spec: ERSpec, retain: int = 2
) -> dict:
    """SPLIT-CORRECT re-resolution of the whole registry, in place:
    the maintenance op for the documented no-retraction drift —
    deleting or updating a BRIDGE record never splits previously
    merged entities during streaming (matches are evidence), so
    clusters only ever grow; this op re-runs the one-shot resolution
    (operators/linkage.py:entity_resolution) over the CURRENT live
    records and rewrites keys/members/view to exactly the from-
    scratch answer, then re-points the view at the same applied
    epoch — subsequent batches fold onto the corrected state and
    replays of already-applied epochs stay no-ops.

    Corpus-sized by design (a full re-block + re-score + closure),
    unlike the per-batch incremental path: run it as scheduled
    maintenance, like the replica store's compact.  Returns
    ``{"records", "entities"}`` counts.  ``spec`` must match the
    registry's persisted definition (same fingerprint contract as
    the batch apply).

    CRASH SAFETY: a ``_rebuild.json`` marker persists before the
    first store commit and clears only after the pointer swap — a
    rebuild torn between its four store commits would otherwise
    leave members/keys serving the rebuilt clustering while the view
    serves the old assignments, and subsequent incremental batches
    would relabel co-members against mixed state.  The next batch
    apply (or rebuild call) sees the marker and re-runs the rebuild
    first; re-running is sound because the rebuild derives everything
    from the records store, whose LIVE rows are identical before and
    after a rebuild commit."""
    with bucketed_sink_lock(path):
        cfg_path = os.path.join(path, "_config.json")
        if not os.path.exists(cfg_path):
            raise PipelineError(f"no er registry at {path!r}")
        cfg = json.load(open(cfg_path))
        n_buckets = cfg["n_buckets"]
        if cfg != {"n_buckets": n_buckets, **spec.fingerprint()}:
            raise PipelineError(
                f"er registry at {path!r} was created with a "
                "different resolution definition; rebuild with the "
                "registry's own spec (redefinition is a fresh "
                "registry, not a rebuild)"
            )
        return _rebuild_locked(spark, path, spec, retain)


def _rebuild_locked(
    spark: SparkSession, path: str, spec: ERSpec, retain: int = 2
) -> dict:
    """The marker-guarded rebuild body; callers hold
    ``bucketed_sink_lock(path)`` and have verified the fingerprint."""
    from pymongo_change_stream_reader_spark.operators.linkage import (
        entity_resolution,
    )

    n_buckets = json.load(
        open(os.path.join(path, "_config.json"))
    )["n_buckets"]
    marker = os.path.join(path, _REBUILD_MARKER)
    cur = pointer_current(os.path.join(path, "view"))
    if cur is None:
        if os.path.exists(marker):
            os.unlink(marker)
        return {"records": 0, "entities": 0}
    ep = cur[1]
    rec_path = os.path.join(path, "records")
    mf = read_bucket_manifest(rec_path)
    rows = (
        read_entry_dirs(spark, rec_path, list(mf[1].values()))
        if mf is not None
        else None
    )
    if rows is None:
        if os.path.exists(marker):
            os.unlink(marker)
        return {"records": 0, "entities": 0}
    live_rows = rows.filter(F.col("live")).persist()
    rcols = _records_cols(path)
    recs = (
        live_rows.select(*rcols)
        if rcols is not None
        else live_rows.drop("live", *_ORDER)
    )
    asn = (
        entity_resolution(
            recs, "rid", spec.keys, spec.fields, spec.threshold,
            max_block_size=spec.max_block_size,
            driver_threshold=spec.driver_threshold,
        )
        .select("rid", "entity")
        .persist()
    )
    n_rec = asn.count()
    n_ent = asn.select("entity").distinct().count()
    vroot = os.path.join(path, "view")
    new_keys = (
        recs.select("rid", F.explode(spec.keys).alias("bk"))
        .distinct()
        .select("bk", "rid", F.lit(True).alias("live"), *_trip(ep))
    )
    new_mem = asn.select(
        "entity", "rid", F.lit(True).alias("live"), *_trip(ep)
    )
    from concurrent.futures import ThreadPoolExecutor

    # marker BEFORE the first commit: a crash anywhere in the
    # four-store commit wave leaves it in place, and the next batch
    # apply re-runs the rebuild before folding anything onto the
    # (possibly mixed) state
    write_atomic(marker, json.dumps({"epoch": ep}))
    allb = list(range(n_buckets))
    commits = (
        # records: tombstones purged, live rows keep their
        # ORIGINAL triples (<= ep, so future deltas win LWW)
        lambda: commit_bucketed(
            live_rows, rec_path, ["rid"], n_buckets, {},
            changed=allb, retain=retain, return_df=False,
        ),
        lambda: commit_bucketed(
            new_keys, os.path.join(path, "keys"), ["bk"],
            n_buckets, {}, changed=allb, retain=retain,
            return_df=False,
        ),
        lambda: commit_bucketed(
            new_mem, os.path.join(path, "members"), ["entity"],
            n_buckets, {}, changed=allb, retain=retain,
            return_df=False,
        ),
        lambda: commit_bucketed(
            asn, vroot, ["rid"], n_buckets, {}, changed=allb,
            retain=max(3, retain), return_df=False,
        ),
    )
    with ThreadPoolExecutor(
        max_workers=4, thread_name_prefix="erreg-rebuild"
    ) as pool:
        for fut in [pool.submit(fn) for fn in commits]:
            fut.result()
    publish_pointer(vroot, ep)
    os.unlink(marker)  # the rebuild is fully visible
    live_rows.unpersist()
    asn.unpersist()
    return {"records": n_rec, "entities": n_ent}


def compact_er_registry(
    spark: SparkSession, path: str, retain: int = 2
) -> dict:
    """Purge tombstones from every store and vacuum superseded
    snapshots: rewrites each store's buckets keeping live rows only
    (the assignment view holds only live rows already — it is
    re-pointed at a fresh snapshot so retention can GC the old
    chain).  Returns per-store purged-row counts."""
    out: dict = {}
    with bucketed_sink_lock(path):
        cfg = json.load(open(os.path.join(path, "_config.json")))
        n_buckets = cfg["n_buckets"]
        for store, on in (
            ("records", ["rid"]),
            ("keys", ["bk"]),
            ("members", ["entity"]),
        ):
            sp = os.path.join(path, store)
            mf = read_bucket_manifest(sp)
            if mf is None:
                out[store] = 0
                continue
            rows = read_entry_dirs(spark, sp, list(mf[1].values()))
            if rows is None:
                out[store] = 0
                continue
            rows = rows.persist()
            dead = rows.filter(~F.col("live")).count()
            commit_bucketed(
                rows.filter(F.col("live")), sp, on, n_buckets, {},
                changed=list(range(n_buckets)), retain=retain,
                return_df=False,
            )
            rows.unpersist()
            out[store] = dead
        vroot = os.path.join(path, "view")
        res = resolve_pointer(vroot, "er registry")
        if res is not None:
            entries, ep = res
            rows = read_entry_dirs(spark, vroot, list(entries.values()))
            if rows is None:
                rows = spark.createDataFrame([], "rid LONG, entity LONG")
            commit_bucketed(
                rows.select("rid", "entity"), vroot, ["rid"], n_buckets,
                {}, changed=list(range(n_buckets)),
                retain=max(3, retain), return_df=False,
            )
            publish_pointer(vroot, ep)
    return out
