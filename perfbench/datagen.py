"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the catalog reads (``region nation customer supplier
part orders lineitem events documents embeddings``) as one parquet file
each, with the column names, physical types and value ranges of the
project's reference test data. Every value comes from one
``numpy.random.Generator`` seeded by the caller, so a seed fixes the bytes
of every table; the row counts depend only on the scale factor, so two
seeds give inputs of the same size and shape.
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "small", "red", "new"]
PART_NOUN = ["bolt", "gear", "plate", "ring", "widget", "nut", "pipe", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window fast"
).split()
EMBED_DIM = 64


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (TPC-H ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": 5000 if sf >= 0.1 else 500,
        "embeddings": 2000 if sf >= 0.1 else 500,
    }


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out: Path, name: str, cols: dict | pa.Table) -> None:
    pq.write_table(cols if isinstance(cols, pa.Table) else pa.table(cols), out / f"{name}.parquet")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random word sequences; one in eight is a near copy of an earlier
    document (a few words replaced, ``dup`` appended), so the dedup and
    similarity entries find real clusters."""
    texts: list[str] = []
    vocab = np.array(VOCAB)
    for i in range(n):
        if i > 8 and rng.random() < 0.125:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words + ["dup"]))
        else:
            length = int(rng.integers(8, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), length)]))
    return texts


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events over 30 days, in event-time order, one user per ~66
    events, values exponential with mean 50."""
    users = max(15, n // 66)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def generate(out_dir: str | Path, sf: float, seed: int) -> None:
    """Write every table under ``out_dir``."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2)),
    })

    npart = n["part"]
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), npart)]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)),
    })

    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2), f64),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })

    nl = n["lineitem"]
    flags = rng.integers(0, 6, nl)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["F", "O"])[flags // 3],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
    })

    _write(out, "events", events(rng, n["events"]))

    nd = n["documents"]
    texts = _documents(rng, nd)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)],
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centroids = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
