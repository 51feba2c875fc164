"""Seeded inputs for the benchmark workloads, drawn from a fixture of
real rows.

``data/events.csv.gz`` holds the first 30,000 rows (``event_id``
0-29,999, 1,500 users) of the ``events`` table of the repository's
sf0.1 test data (TESTDATA.md): ``event_id``, ``user_id``,
``event_type``, ``value`` and ``props.k``.  Each row becomes a change
event through the library's own mapping,
``sources.simulate.EVENT_TYPE_TO_OP`` (signup/purchase/click/error/view
-> insert/update/replace/delete/drop), with the payload shape
``simulate_change_stream`` gives it.  The op mix, the value and group
distributions and, for churn, the key reuse all come from those rows;
nothing here weights them.  In this slice each event type holds about a
fifth of the rows, and every user has 7 to 35 events.

The seed selects which rows are used and in what order they arrive,
and, for churn, which document key each user maps to.  The same seed
always yields the same events, byte for byte.
"""

from __future__ import annotations

import csv
import gzip
import json
import os
import random

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                       "events.csv.gz")
N_COLLS = 4
# The relay's user pipeline: drop one collection, reshape the rest.
# Both stages are streaming-safe (server whitelist: $match, $set).
RELAY_PIPELINE = json.dumps(
    [
        {"$match": {"ns.coll": {"$in": [f"users_{i}" for i in range(N_COLLS - 1)]}}},
        {"$set": {"fullDocumentBeforeChange": "$fullDocument"}},
    ]
)
VEC_DIM = 8
# churn's star/join dimension keys: facts point at d0..d19 and e0..e9
N_DIM_D, N_DIM_E = 20, 10

_ROWS: list[tuple[int, int, str, int, int]] | None = None


def fixture_rows() -> list[tuple[int, int, str, int, int]]:
    """``(event_id, user_id, operationType, value_cents, k)`` per row."""
    global _ROWS
    if _ROWS is None:
        from pymongo_change_stream_reader_spark.sources.simulate import (
            EVENT_TYPE_TO_OP,
        )

        with gzip.open(FIXTURE, "rt", newline="") as fh:
            _ROWS = [
                (int(r["event_id"]), int(r["user_id"]),
                 EVENT_TYPE_TO_OP[r["event_type"]],
                 round(float(r["value"]) * 100), int(r["k"]))
                for r in csv.DictReader(fh)
            ]
    return _ROWS


def _doc(oid: str, cents: int, k: int) -> str:
    return json.dumps({"_id": {"$oid": oid}, "value_cents": cents, "k": k})


def relay_events(seed: int, n: int) -> list[dict]:
    """``n`` distinct fixture rows, chosen and ordered by ``seed``, as
    change events shaped as ``simulate_change_stream`` shapes them.
    Every data event keeps its row's own documentKey, so an output
    record's ``key`` names exactly one input event."""
    if n > len(fixture_rows()):
        raise ValueError(f"{n} relay events asked for, the fixture has {len(fixture_rows())}")
    rows = random.Random(seed).sample(fixture_rows(), n)
    out = []
    for event_id, user_id, op, cents, k in rows:
        oid = f"{event_id:024x}"
        ev = {
            "_id": {"_data": f"82{event_id:016X}"},
            "operationType": op,
            "clusterTime": {"t": 1_700_000_000 + event_id // 100,
                            "i": event_id % 100 + 1},
            "wallTime": "2024-01-01T00:00:00.000Z",
            "ns": {"db": "appdb", "coll": f"users_{user_id % N_COLLS}"},
        }
        if op != "drop":
            ev["documentKey"] = json.dumps({"_id": {"$oid": oid}})
        if op in ("insert", "update", "replace"):
            ev["fullDocument"] = _doc(oid, cents, k)
        if op in ("update", "replace", "delete"):
            ev["fullDocumentBeforeChange"] = _doc(oid, cents + 1, k)
        if op == "update":
            ev["updateDescription"] = {
                "updatedFields": json.dumps({"value_cents": cents}),
                "removedFields": [],
                "truncatedArrays": [],
            }
        out.append(ev)
    return out


def embedding(rng: random.Random) -> list[float]:
    return [round(rng.uniform(-1.0, 1.0), 3) for _ in range(VEC_DIM)]


class ChurnGen:
    """Change stream keyed by user: every fixture row changes its
    user's document, so the 1,500 users' documents are rewritten over
    and over.

    The load batch inserts one document per user (with the join/star
    dimension documents).  Later batches replay the fixture rows in a
    seeded order.  A row's op comes from its event type, kept valid
    for the key's state: the first change to a deleted (or never
    loaded) document is its insert, and a signup on a live document
    replaces it.  ``view`` rows stay ``drop`` events without a key.
    ``live`` holds each live key's current post-image: the
    from-scratch last-writer-wins answer the replica must equal."""

    def __init__(self, seed: int, n_users: int | None = None):
        self.rng = random.Random(seed)
        rows = fixture_rows()
        users = sorted({r[1] for r in rows})[:n_users]
        keys = [10_000 + i for i in range(len(users))]
        self.rng.shuffle(keys)
        self.key_of = dict(zip(users, keys))
        self.rows = [r for r in rows if r[1] in self.key_of]
        self.order: list[int] = []
        self.live: dict[str, str] = {}
        self.seq = 0

    def _event(self, op: str, key: str | None, doc: str | None) -> dict:
        self.seq += 1
        ev = {
            "_id": {"_data": f"82{self.seq:016X}"},
            "operationType": op,
            "clusterTime": {"t": 1_700_000_000 + self.seq, "i": 1},
            "ns": {"db": "appdb", "coll": "facts"},
        }
        if key is None:
            return ev
        ev["documentKey"] = key
        if doc is not None:
            ev["fullDocument"] = doc
        if op == "update":
            ev["updateDescription"] = {
                "updatedFields": doc,
                "removedFields": [],
                "truncatedArrays": [],
            }
        if op == "delete":
            self.live.pop(key, None)
        else:
            self.live[key] = doc
        return ev

    def _fact(self, key: int, cents: int, k: int) -> str:
        return json.dumps(
            {
                "side": "f", "sside": "f",
                "fk": f"d{key % N_DIM_D}", "fk2": f"e{key % N_DIM_E}",
                "rid": key, "value_cents": cents, "k": f"k{k}",
                "emb": embedding(self.rng),
            }
        )

    def load_batch(self) -> list[dict]:
        """Dimension documents, then each user's document from the
        user's first fixture row."""
        out = []
        for side, n in (("d", N_DIM_D), ("e", N_DIM_E)):
            for i in range(n):
                doc = json.dumps(
                    {"side": "d", "sside": side,
                     "dim_name": f"dim{side}{i}",
                     "emb": embedding(self.rng)}
                )
                out.append(self._event("insert", f"{side}{i}", doc))
        first: dict[int, tuple] = {}
        for r in self.rows:
            first.setdefault(r[1], r)
        for user, key in sorted(self.key_of.items(), key=lambda kv: kv[1]):
            _, _, _, cents, k = first[user]
            out.append(self._event("insert", str(key), self._fact(key, cents, k)))
        return out

    def churn_batch(self, n_events: int) -> list[dict]:
        out = []
        for _ in range(n_events):
            if not self.order:
                self.order = list(range(len(self.rows)))
                self.rng.shuffle(self.order)
            _, user, op, cents, k = self.rows[self.order.pop()]
            if op == "drop":
                out.append(self._event("drop", None, None))
                continue
            key = self.key_of[user]
            skey = str(key)
            if skey not in self.live:
                op = "insert"
            elif op == "insert":
                op = "replace"
            doc = None if op == "delete" else self._fact(key, cents, k)
            out.append(self._event(op, skey, doc))
        return out


def write_jsonl(path: str, events: list[dict]) -> None:
    """Write atomically: the file source must never list a half file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev))
            fh.write("\n")
    os.replace(tmp, path)
