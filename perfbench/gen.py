"""Seeded input generators. The program under test receives only what
these functions produce; the same seed always yields the same bytes.

``IngestTraffic`` makes the ``ingest_serve`` bulk requests: event time
advances a fixed step per cycle (several flushes land in one hour
partition, the small-file pattern the flusher produces), a few percent
of events arrive late across the hour boundary, partitions 0-7 are
skewed, about half the events carry idempotency keys and some keys are
sent again (a client retry), and payloads are 80-100 B of JSON.

``write_fixture`` makes the parquet tables the query workload reads: a
seeded stand-in with the schemas, row counts and value ranges of the
sf0.001 tables TESTDATA.md describes. The benchmark reads nothing outside
its checkout, and those tables are not part of it. The text, near-duplicate
and embedding distributions are chosen, not copied from that data.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- ingest

T0_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
HOUR_MS = 3_600_000

# Only the payload size has a measured source: the reference's 82 B JSON
# events (BASELINE.md). The other values are chosen, not measured traffic:
# each is one concrete value for a property the workload is specified to
# have ("several flushes per hour", "a few percent late", "about half
# keyed, some repeated", "partitions 0-7 skewed").
INGEST_TRAFFIC = {
    "cycle_step_ms": 15 * 60 * 1000,  # 4 flushes per event-hour partition
    "late_share": 0.04,  # event time one hour in the past
    "keyed_share": 0.5,
    "repeat_share_of_keyed": 0.1,  # keyed events that resend an earlier key
    "partitions": 8,
    "partition_weights": [8, 4, 3, 2, 2, 1, 1, 1],  # skew over partitions 0-7
    "payload_bytes": [80, 100],
}

_ACTIONS = ("click", "view", "purchase", "signup", "error")


class IngestTraffic:
    """Deterministic bulk-request generator. It remembers every key it
    has sent, so a repeat resends a real key to its original partition."""

    def __init__(self, seed: int, requests_per_cycle: int, events_per_request: int):
        self.rng = random.Random(seed)
        self.requests_per_cycle = requests_per_cycle
        self.events_per_request = events_per_request
        self.sent_keys: list[tuple[str, int]] = []

    def _payload(self) -> str:
        rng = self.rng
        lo, hi = INGEST_TRAFFIC["payload_bytes"]
        body = {
            "user": f"u{rng.randrange(100_000):05d}",
            "action": rng.choice(_ACTIONS),
            "value": rng.randrange(10_000),
            "pad": "",
        }
        need = rng.randint(lo, hi) - len(json.dumps(body, separators=(",", ":")))
        body["pad"] = "x" * max(need, 0)
        return json.dumps(body, separators=(",", ":"))

    def _event(self, cycle: int) -> tuple[dict, bool]:
        """One event and whether it resends an earlier idempotency key."""
        rng = self.rng
        t = INGEST_TRAFFIC
        part = rng.choices(range(t["partitions"]), weights=t["partition_weights"])[0]
        ts = T0_MS + cycle * t["cycle_step_ms"] + rng.randrange(t["cycle_step_ms"])
        if rng.random() < t["late_share"]:
            ts -= HOUR_MS
        ev = {"payload": self._payload(), "partition": part, "timestamp_ms": ts}
        repeat = False
        if rng.random() < t["keyed_share"]:
            if self.sent_keys and rng.random() < t["repeat_share_of_keyed"]:
                key, part = self.sent_keys[rng.randrange(len(self.sent_keys))]
                ev["partition"] = part
                repeat = True
            else:
                key = f"k{rng.getrandbits(64):016x}"
                self.sent_keys.append((key, part))
            ev["idempotency_key"] = key
        return ev, repeat

    def cycle_requests(self, cycle: int) -> list[tuple[bytes, list[int], int]]:
        """One cycle's bulk requests: (body as sent on the wire, event
        times of the events that are not repeats, number of repeats)."""
        out = []
        for _ in range(self.requests_per_cycle):
            events, fresh_ts, repeats = [], [], 0
            for _ in range(self.events_per_request):
                ev, repeat = self._event(cycle)
                events.append(ev)
                if repeat:
                    repeats += 1
                else:
                    fresh_ts.append(ev["timestamp_ms"])
            body = json.dumps({"records": events}, separators=(",", ":")).encode()
            out.append((body, fresh_ts, repeats))
        return out


# -------------------------------------------------------------- fixture

FIXTURE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

_WORDS = (
    "a the big small fast slow data row column table key value part line "
    "order customer query scan filter join merge sort group agg hash window "
    "stream batch spark vector"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.15, 0.15, 0.14, 0.12)
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = FIXTURE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    k = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(k), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, k),
            "c_mktsegment": rng.choice(_SEGMENTS, k).tolist(),
        }
    )
    k = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(k), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, k),
        }
    )
    k = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(k), i64),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, k), rng.choice(_NOUN, k))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
            "p_type": rng.choice(_TYPES, k).tolist(),
            "p_size": pa.array(rng.integers(1, 51, k), i32),
            "p_retailprice": np.round(900 + np.arange(k) * 0.1, 1),
        }
    )
    k = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(k), i64),
            "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
            "o_orderstatus": rng.choice(("F", "O", "P"), k).tolist(),
            "o_totalprice": _money(rng, 1000, 500_000, k),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, k),
            "o_orderpriority": rng.choice(_PRIORITIES, k).tolist(),
        }
    )
    k = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
            "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
            "l_quantity": rng.integers(1, 51, k).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, k),
            "l_discount": rng.integers(0, 11, k) / 100,
            "l_tax": rng.integers(0, 9, k) / 100,
            "l_returnflag": rng.choice(("A", "N", "R"), k).tolist(),
            "l_linestatus": rng.choice(("F", "O"), k).tolist(),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, k),
        }
    )
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, k)).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(k), i64),
            "ts": pa.array(start + offs, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 15, k), i64),
            "event_type": rng.choice(_EVENT_TYPES, k).tolist(),
            "value": np.maximum(np.round(rng.exponential(50, k), 2), 0.01),
            "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(k), i64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, k), i32),
        }
    )
    return t


def _documents(rng, k: int) -> pa.Table:
    """Random word sequences over a 31-word vocabulary; ~6% of documents
    are near-duplicates of an earlier one (the copy gains a ``dup``
    token), the population the dedup operators find."""
    texts: list[str] = []
    for i in range(k):
        if i > 10 and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(range(k), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, k, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )


def write_fixture(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
