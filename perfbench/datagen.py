"""Seeded input generators for the benchmark.

Two kinds of input:

* ``write_catalog`` writes the ten fixture tables (TPC-H-ish star
  schema, ``events``, ``documents``, ``embeddings``) as parquet files
  with the column names, types and value domains given in FIXTURES.md,
  scaled by :class:`Scale`.  The registered queries and their DuckDB
  oracles read these files.
* ``zipf_docs`` / ``skewed_triples`` / ``visits`` build the plain
  Python lists that the ``mapreduce`` workload hands to ``MapReduce``.

The same seed always gives the same tables and lists.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
EMBED_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated catalog."""

    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    events: int
    users: int
    documents: int
    embeddings: int

    @property
    def rows(self) -> dict[str, int]:
        return {
            "region": len(REGIONS),
            "nation": 25,
            "customer": self.customers,
            "supplier": self.suppliers,
            "part": self.parts,
            "orders": self.orders,
            "lineitem": self.lineitems,
            "events": self.events,
            "documents": self.documents,
            "embeddings": self.embeddings,
        }


def _write(path: str, columns: dict[str, pa.Array]) -> None:
    tmp = path + ".tmp"
    pq.write_table(pa.table(columns), tmp)
    os.replace(tmp, path)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days + 1, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _doc_texts(rng, n: int) -> list[str]:
    """Uniform words from a 31-word vocabulary; 5% of the documents
    are a copy of another document plus the token ``dup``, so the
    near-duplicate pipelines find real pairs."""
    lengths = rng.integers(8, 100, n)
    words = rng.integers(0, len(DOC_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(DOC_VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    n_dup = n // 20
    dups = rng.choice(n, size=2 * n_dup, replace=False)
    for copy, orig in zip(dups[:n_dup], dups[n_dup:]):
        texts[copy] = texts[orig] + " dup"
    return texts


def write_catalog(dst: str, scale: Scale, seed: int) -> None:
    """Write the ten tables of one seeded catalog into ``dst``."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = scale
    path = lambda t: os.path.join(dst, f"{t}.parquet")  # noqa: E731

    _write(path("region"), {
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    _write(path("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(path("customer"), {
        "c_custkey": pa.array(np.arange(s.customers), pa.int64()),
        "c_name": _names("Customer", s.customers),
        "c_nationkey": pa.array(rng.integers(0, 25, s.customers), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.customers)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, s.customers)),
    })
    _write(path("supplier"), {
        "s_suppkey": pa.array(np.arange(s.suppliers), pa.int64()),
        "s_name": _names("Supplier", s.suppliers),
        "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s.suppliers)),
    })
    adj = rng.integers(0, len(PART_ADJ), s.parts)
    noun = rng.integers(0, len(PART_NOUN), s.parts)
    partkeys = np.arange(s.parts)
    _write(path("part"), {
        "p_partkey": pa.array(partkeys, pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, s.parts)]),
        "p_type": pa.array(rng.choice(PART_TYPES, s.parts)),
        "p_size": pa.array(rng.integers(1, 51, s.parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (partkeys % 1000) * 0.1, 1)),
    })
    _write(path("orders"), {
        "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], s.orders)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, s.orders)),
        "o_orderdate": _days(rng, EPOCH_1995_US, 2404, s.orders),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, s.orders)),
    })
    n = s.lineitems
    qty = rng.integers(1, 51, n).astype(np.float64)
    lpart = rng.integers(0, s.parts, n)
    _write(path("lineitem"), {
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * (900.0 + (lpart % 1000) * 0.1) * rng.uniform(0.95, 1.05, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": _days(rng, EPOCH_1995_US + DAY_US, 2498, n),
    })
    e = s.events
    gaps = rng.exponential(30 * DAY_US / e, e)
    ts = EPOCH_2024_US + np.minimum(np.cumsum(gaps), 30 * DAY_US - 1).astype(np.int64)
    _write(path("events"), {
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s.users, e), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e)),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    texts = _doc_texts(rng, s.documents)
    doc_ids = np.arange(s.documents)
    _write(path("documents"), {
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, s.documents, p=LANG_P)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in doc_ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((s.embeddings, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(path("embeddings"), {
        "vec_id": pa.array(np.arange(s.embeddings), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
    })


def zipf_docs(rng, n_docs: int, vocab: int = 5000, words: int = 20) -> list[str]:
    """Documents of ``words`` Zipf(1.2)-distributed words each."""
    ranks = np.minimum(rng.zipf(1.2, n_docs * words), vocab)
    toks = [f"w{r}" for r in ranks]
    return [" ".join(toks[i * words : (i + 1) * words]) for i in range(n_docs)]


def skewed_triples(rng, n: int, keys: int = 200) -> list[tuple[str, int, int]]:
    """``(key, ts, value)`` rows with Zipf(1.5)-skewed keys and tied
    timestamps, so the with-value secondary sort breaks ties."""
    k = np.minimum(rng.zipf(1.5, n), keys)
    ts = rng.integers(0, max(2, n // 4), n)
    val = rng.integers(0, 1000, n)
    return [(f"k{a}", int(b), int(c)) for a, b, c in zip(k, ts, val)]


def visits(rng, n: int, users: int = 2000, items: int = 300) -> list[tuple[int, int]]:
    """``(user, item)`` visit rows for the two-stage re-keying job."""
    u = rng.integers(0, users, n)
    it = np.minimum(rng.zipf(1.3, n), items)
    return [(int(a), int(b)) for a, b in zip(u, it)]
