"""Seeded input generation for the three workloads.

Everything the program sees is made here from ``--seed``: outbox JSON-lines
and event batches as parquet (``ingest_stream`` and its serve phase), the
content dimension, and the relational / text / vector tables
(``corpus_ops``). The same seed gives byte-identical inputs. Generation runs
before the session starts and is excluded from every timed section.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = dt.datetime(2024, 1, 1)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
VOCAB = (
    "query row stream the spark line small fast group customer part column "
    "order scan a slow agg key window table merge vector join batch sort "
    "value hash filter big data dup"
).split()

# Input properties of the event stream (recorded in perfbench/spec.json).
N_CUSTOMERS = 15_000
ZIPF_S = 1.1  # user skew
DUP_FRAC = 0.05  # redelivered outbox rows (same id, same payload)
MALFORMED_FRAC = 0.02  # payloads that are not valid event JSON
MISS_FRAC = 0.07  # user_ids with no dimension row
LATE_FRAC = 0.10  # event timestamps moved up to 2 h into the past
NULL_VALUE_FRAC = 0.10  # events without a duration value


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so resizing one input
    never shifts another's values."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def write_parquet(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --- content dimension ------------------------------------------------------


def customer_table(seed: int, n: int = N_CUSTOMERS) -> pa.Table:
    r = rng_for(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": r.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.asarray(SEGMENTS)[r.integers(0, 5, n)],
        }
    )


# --- engagement events --------------------------------------------------------


class EventGen:
    """Engagement events with the stream's input properties. Events are
    numbered globally; ``events(lo, hi)`` is deterministic per seed and
    range, so phases and batches never overlap."""

    def __init__(self, seed: int, n_customers: int = N_CUSTOMERS) -> None:
        self.seed = seed
        self.n_customers = n_customers
        r = rng_for(seed, "users")
        # Zipf ranks mapped onto a seeded permutation of the customers
        self._perm = r.permutation(n_customers)
        ranks = np.arange(1, n_customers + 1, dtype=np.float64)
        w = ranks ** -ZIPF_S
        self._cdf = np.cumsum(w / w.sum())

    def events(self, lo: int, hi: int) -> dict:
        n = hi - lo
        r = np.random.default_rng([self.seed, 17, lo, hi])
        ids = np.arange(lo, hi, dtype=np.int64)
        # 0.25 s apart in event time, jittered below the spacing so
        # timestamps stay unique per event
        us = ids * 250_000 + r.integers(0, 200_000, n)
        back = r.random(n) < LATE_FRAC
        us = us - back * r.integers(60_000_000, 7_200_000_000, n)
        users = self._perm[
            np.minimum(np.searchsorted(self._cdf, r.random(n)), self.n_customers - 1)
        ].astype(np.int64)
        miss = r.random(n) < MISS_FRAC
        users[miss] = self.n_customers + r.integers(0, self.n_customers // 10, miss.sum())
        value = np.round(r.gamma(2.0, 25.0, n), 2)
        value_null = r.random(n) < NULL_VALUE_FRAC
        return {
            "event_id": ids,
            "ts_us": us,
            "user_id": users,
            "event_type": np.asarray(EVENT_TYPES)[r.integers(0, 5, n)],
            "value": value,
            "value_null": value_null,
            "props": r.integers(0, 100, n),
        }

    @staticmethod
    def ts(us: int) -> dt.datetime:
        return BASE_TS + dt.timedelta(microseconds=int(us))

    def payloads(self, ev: dict) -> list[str]:
        """Kafka-value JSON per event (the outbox payload)."""
        ts = np.datetime_as_string(
            np.datetime64(BASE_TS, "us") + ev["ts_us"].astype("timedelta64[us]"), unit="us"
        )
        return [
            json.dumps(
                {
                    "event_id": int(eid),
                    "ts": str(t),
                    "user_id": int(u),
                    "event_type": str(et),
                    "value": None if null else float(v),
                    "props": f'{{"k": {int(k)}}}',
                }
            )
            for eid, t, u, et, v, null, k in zip(
                ev["event_id"], ts, ev["user_id"], ev["event_type"],
                ev["value"], ev["value_null"], ev["props"],
            )
        ]

    def table(self, ev: dict) -> pa.Table:
        """Events in the fixture ``events`` schema."""
        value = pa.array(ev["value"], mask=ev["value_null"], type=pa.float64())
        return pa.table(
            {
                "event_id": pa.array(ev["event_id"], pa.int64()),
                "ts": pa.array(
                    [self.ts(u) for u in ev["ts_us"]], pa.timestamp("us")
                ),
                "user_id": pa.array(ev["user_id"], pa.int64()),
                "event_type": pa.array(ev["event_type"], pa.string()),
                "value": value,
                "props": pa.array(
                    [json.dumps({"k": int(k)}) for k in ev["props"]], pa.string()
                ),
            }
        )


def outbox_lines(gen: EventGen, lo: int, hi: int, first_outbox_id: int):
    """Outbox rows for events [lo, hi): ~DUP_FRAC redelivered rows (a
    repeat of a row already sent, same outbox id and payload) and
    ~MALFORMED_FRAC payloads that do not parse as event JSON.

    Returns (lines, events, event index per line, malformed mask per event)."""
    ev = gen.events(lo, hi)
    payloads = gen.payloads(ev)
    r = np.random.default_rng([gen.seed, 29, lo, hi])
    bad = r.random(len(payloads)) < MALFORMED_FRAC
    rows = []
    for i, p in enumerate(payloads):
        if bad[i]:
            p = p[: len(p) // 2]  # truncated payload: decodes to NULLs
        rows.append(
            json.dumps(
                {
                    "id": first_outbox_id + i,
                    "topic": "engagement_events",
                    "key": str(int(ev["event_id"][i])),
                    "payload": p,
                }
            ).encode()
            + b"\n"
        )
    lines, index = [], []
    for i, row in enumerate(rows):
        lines.append(row)
        index.append(i)
        if i >= 10 and r.random() < DUP_FRAC:
            j = int(r.integers(max(0, i - 2000), i))
            lines.append(rows[j])
            index.append(j)
    return lines, ev, index, bad


# --- corpus tables (fixture schemas, sf0.01 row counts) ------------------------

CORPUS_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
NEAR_DUP_FRAC = 0.10  # planted near-duplicate documents


def _shuffled(t: pa.Table, r: np.random.Generator) -> pa.Table:
    return t.take(pa.array(r.permutation(t.num_rows)))


def _day(r, lo: dt.datetime, days: int, n: int) -> list[dt.datetime]:
    return [lo + dt.timedelta(days=int(d)) for d in r.integers(0, days, n)]


def _document_texts(r: np.random.Generator, n: int) -> list[str]:
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    w /= w.sum()
    texts = []
    for _ in range(n):
        k = int(r.integers(8, 100))
        texts.append(" ".join(np.asarray(VOCAB)[r.choice(len(VOCAB), k, p=w)]))
    # plant near-duplicates: a copy of an earlier document with a few
    # words replaced and the tail optionally cut
    for i in range(1, n):
        if r.random() < NEAR_DUP_FRAC:
            words = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(r.integers(0, len(VOCAB)))]
            if r.random() < 0.5:
                words = words[: max(8, int(len(words) * 0.9))]
            texts[i] = " ".join(words)
    return texts


def write_corpus(seed: int, sf_dir: str) -> dict:
    """Write the ten fixture tables under ``sf_dir``; returns row counts."""
    r = rng_for(seed, "corpus")
    n = CORPUS_ROWS
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = customer_table(seed, n["customer"])
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": r.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }
    )
    adjs, nouns = ["large", "hot", "blue", "old", "cold", "red", "small", "new"], [
        "ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{adjs[a]} {nouns[b]}"
                for a, b in zip(r.integers(0, 8, n["part"]), r.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n["part"])],
            "p_type": np.asarray(
                ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
            )[r.integers(0, 6, n["part"])],
            "p_size": r.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + r.integers(0, 1000, n["part"]) / 10, 2),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": r.integers(0, n["customer"], no).astype(np.int64),
            "o_orderstatus": np.asarray(["O", "P", "F"])[r.integers(0, 3, no)],
            "o_totalprice": np.round(r.uniform(1000, 500000, no), 2),
            "o_orderdate": pa.array(_day(r, dt.datetime(1995, 1, 1), 2400, no), pa.timestamp("us")),
            "o_orderpriority": np.asarray(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    qty = r.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, no, nl).astype(np.int64),
            "l_partkey": r.integers(0, n["part"], nl).astype(np.int64),
            "l_suppkey": r.integers(0, n["supplier"], nl).astype(np.int64),
            "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900, 2100, nl), 2),
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.asarray(["A", "N", "R"])[r.integers(0, 3, nl)],
            "l_linestatus": np.asarray(["O", "F"])[r.integers(0, 2, nl)],
            "l_shipdate": pa.array(_day(r, dt.datetime(1995, 1, 2), 2500, nl), pa.timestamp("us")),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ev_us = np.sort(r.integers(0, span_us, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array([BASE_TS + dt.timedelta(microseconds=int(u)) for u in ev_us], pa.timestamp("us")),
            "user_id": r.integers(0, n["customer"] // 10, ne).astype(np.int64),
            "event_type": np.asarray(EVENT_TYPES)[r.integers(0, 5, ne)],
            "value": np.round(r.gamma(2.0, 25.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = _document_texts(r, nd)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(nd), pa.int64()),
            "text": texts,
            "lang": np.asarray(["en", "en", "en", "fr", "es", "zh", "de"])[r.integers(0, 7, nd)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    dim = 64
    centers = r.normal(0, 1, (10, dim))
    labels = r.integers(0, 10, nv)
    vecs = centers[labels] + r.normal(0, 0.8, (nv, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    for name, t in tables.items():
        write_parquet(os.path.join(sf_dir, f"{name}.parquet"), _shuffled(t, r))
    return {k: t.num_rows for k, t in tables.items()}


def fround(x: float, n: int) -> float:
    """Python twin of the engine's bit-reproducible decimal round."""
    p = 10.0**n
    return math.floor(x * p + 0.5) / p
