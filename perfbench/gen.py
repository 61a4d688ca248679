"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from ``--seed``:
Debezium-style envelope events for the CDC workloads.  The same seed
gives the same inputs, byte for byte.  No generator code runs while an
operation is being timed.

Event model.  A key's events carry a strictly increasing ``(ts_ms, seq)``
unless the generator deliberately emits a *late* event (stamped older
than the key's newest event, so last-writer-wins must ignore it).
``seq`` is a global counter, so two distinct events never tie; a
*replay* re-emits an earlier event verbatim (at-least-once delivery).
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random
from dataclasses import dataclass

import numpy as np

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
UTC = dt.timezone.utc
CLASSES = ("public", "private")


@dataclass(frozen=True)
class CdcParams:
    """Knobs of the envelope generator (recorded in every run's output)."""

    n_keys: int  # keys in the initial state
    key_skew: float  # Zipf exponent over keys; 0 = uniform
    # events per batch: each block of len(batch_sizes) consecutive batches
    # takes every size once, in seeded order (a stratified sample, so a
    # short run still sees the whole size mix)
    batch_sizes: tuple[int, ...]
    p_insert_new: float  # event creates a never-seen key
    p_delete: float  # event deletes a live key
    p_replay: float  # event is a verbatim re-delivery of a recent event
    p_late: float  # event is stamped older than the key's newest event


# No trace of the reference's traffic exists: its producer commits one row
# per transaction to ids a user types, which supports small batches and
# says nothing about skew or rates.  The 8-event batch is the size the
# first trickle prototype was measured at; the skew and the rates are
# assumptions, picked to exercise each code path (pruned and unpruned
# bucket rewrites, deletes, duplicates, out-of-order events) a few times
# per run.  README.md "Generator parameters" records how much the figures
# move when they change.
TRICKLE = CdcParams(
    n_keys=40_000, key_skew=1.1, batch_sizes=(8,),
    p_insert_new=0.10, p_delete=0.10, p_replay=0.08, p_late=0.04,
)
CATCHUP = CdcParams(
    n_keys=40_000, key_skew=0.0, batch_sizes=(4_000,),
    p_insert_new=0.05, p_delete=0.10, p_replay=0.02, p_late=0.02,
)


def _row(key: int, version: int, rng: random.Random) -> tuple:
    """(id, full_name, email, phone, classification, created_at)."""
    created = dt.datetime.fromtimestamp(
        BASE_MS // 1000 + (key * 7919) % (48 * 3600), tz=UTC
    )
    return (
        key,
        f"Customer {key}",
        f"c{key}.v{version}@example.com",
        f"+1-{rng.randrange(10_000_000):07d}",
        CLASSES[rng.randrange(2)],
        created,
    )


class EnvelopeGen:
    """Stateful generator of envelope events ``(op, before, after, ts_ms,
    seq)`` over a Zipf-skewed (or uniform) key space."""

    def __init__(self, params: CdcParams, seed: int):
        self.p = params
        self.rng = random.Random(seed)
        self.clock = BASE_MS
        self.seq = 0
        self.image: dict[int, tuple] = {}  # key -> newest emitted row image
        self.live: dict[int, bool] = {}
        self.newest: dict[int, tuple[int, int]] = {}  # key -> (ts_ms, seq)
        self.version: dict[int, int] = {}
        self.next_key = params.n_keys + 1
        self.recent: list[tuple] = []
        self.sizes: list[int] = []
        n = params.n_keys
        if params.key_skew > 0:
            w = 1.0 / np.arange(1, n + 1) ** params.key_skew
            self.cdf = np.cumsum(w / w.sum()).tolist()
            # hot ranks land on scattered ids, hence scattered buckets
            self.rank_to_key = list(range(1, n + 1))
            self.rng.shuffle(self.rank_to_key)
        else:
            self.cdf = None

    def initial(self) -> list[tuple]:
        """One insert per key 1..n_keys: the state before the workload."""
        return [self._emit("c", k) for k in range(1, self.p.n_keys + 1)]

    def pick_key(self) -> int:
        if self.cdf is None:
            return self.rng.randint(1, self.p.n_keys)
        r = bisect.bisect_right(self.cdf, self.rng.random())
        return self.rank_to_key[min(r, self.p.n_keys - 1)]

    def _emit(self, op: str, key: int, ts_ms: int | None = None) -> tuple:
        self.seq += 1
        late = ts_ms is not None
        if not late:
            self.clock += self.rng.randint(1, 49)
            ts_ms = self.clock
        v = self.version.get(key, 0) + 1
        self.version[key] = v
        before = self.image.get(key) if op != "c" else None
        after = None if op == "d" else _row(key, v, self.rng)
        ev = (op, before, after, ts_ms, self.seq)
        if not late:
            self.image[key] = after if after is not None else before
            self.live[key] = op != "d"
            self.newest[key] = (ts_ms, self.seq)
        return ev

    def _one(self) -> tuple:
        p, u = self.p, self.rng.random()
        if u < p.p_replay and self.recent:
            return self.rng.choice(self.recent)
        u -= p.p_replay
        if u < p.p_late:
            key = self.pick_key()
            if key in self.newest and self.live.get(key):
                ts, _ = self.newest[key]
                return self._emit("u", key, ts_ms=ts - self.rng.randint(1, 1000))
        u -= p.p_late
        if u < p.p_insert_new:
            key, self.next_key = self.next_key, self.next_key + 1
            return self._emit("c", key)
        key = self.pick_key()
        if not self.live.get(key):
            return self._emit("c", key)
        u -= p.p_insert_new
        if u < p.p_delete:
            return self._emit("d", key)
        return self._emit("u", key)

    def batch(self) -> list[tuple]:
        if not self.sizes:
            self.sizes = list(self.p.batch_sizes)
            self.rng.shuffle(self.sizes)
        out = [self._one() for _ in range(self.sizes.pop())]
        for ev in out:
            self.recent.append(ev)
        del self.recent[:-256]
        return out


def _ts_iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def envelope_json_line(ev: tuple) -> str:
    op, before, after, ts_ms, seq = ev

    def img(r):
        if r is None:
            return None
        return {
            "id": r[0], "full_name": r[1], "email": r[2], "phone": r[3],
            "classification": r[4], "created_at": _ts_iso(r[5]),
        }

    return json.dumps(
        {"op": op, "before": img(before), "after": img(after), "ts_ms": ts_ms,
         "source_table": "customer", "seq": seq},
        separators=(",", ":"),
    )


def write_envelope_files(events: list[tuple], out_dir: str, n_files: int) -> int:
    """Split ``events`` in order over ``n_files`` JSON-lines files; returns
    the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(events) // n_files)
    total = 0
    for i in range(n_files):
        text = "\n".join(envelope_json_line(e) for e in events[i * per:(i + 1) * per])
        path = os.path.join(out_dir, f"part-{i:05d}.json")
        with open(path, "w") as f:
            f.write(text + "\n")
        total += os.path.getsize(path)
    return total


def events_nbytes(events: list[tuple]) -> int:
    """Size of the events as JSON lines: the change-input byte count that
    write amplification is measured against."""
    return sum(len(envelope_json_line(e)) + 1 for e in events)


# ---------------------------------------------------------------------------
# registry_sample: seeded tables in the layout of the registry's test tables
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class TableParams:
    """Row counts of the generated registry tables (those of the
    registry's 0.01 scale-factor test tables)."""

    customers: int
    events: int
    documents: int
    embeddings: int
    embedding_dim: int


REGISTRY = TableParams(customers=1500, events=10_000, documents=500, embeddings=500,
                       embedding_dim=64)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "the", "row", "table", "value", "part", "hash", "key", "agg", "scan",
         "fast", "slow", "join", "window", "spark", "batch", "order", "data",
         "column", "filter", "query", "line", "customer", "small", "merge")


def write_tables(out_dir: str, seed: int, p: TableParams = REGISTRY) -> list[str]:
    """Write customer, events, documents and embeddings parquet files
    (the columns and types of ``schemas.TESTDATA_COLUMNS``); returns the
    table names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = p.customers
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n)],
    })
    n = p.events
    gaps_us = rng.integers(1, 518_400_000, n)  # mean 259 s: ~30 days in all
    events = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(BASE_MS * 1000 + np.cumsum(gaps_us), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0, 100, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = p.documents
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), m))
             for m in rng.integers(20, 80, n)]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": ["en"] * n,
        "source": [f"src{i % 5}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n, d = p.embeddings, p.embedding_dim
    vecs = rng.standard_normal((n, d)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n), pa.int32()),
    })
    tables = {"customer": customer, "events": events, "documents": documents,
              "embeddings": embeddings}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
