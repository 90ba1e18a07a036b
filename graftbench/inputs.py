"""Seeded input generator in the sf0.1 shape.

Writes the ten catalog tables (one parquet file each, one row group,
snappy) with the same Arrow schema and the same row counts as the
repository's sf0.1 test fixture, so the engine's forced scan schemas take
the same path they take on the fixture. Values follow the fixture's
domains (key ranges, category sets, date spans, a 30-word text vocabulary
with planted near-duplicate documents), drawn from ``numpy``'s PCG64 so a
seed always yields byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.1475, 0.1475, 0.1465, 0.1465]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_DUPS = 250
EMB_DIM = 64

TS_US = pa.timestamp("us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    days = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), TS_US)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for _ in range(n - NEAR_DUPS):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    # Planted near-duplicates: an earlier document with one word swapped
    # and a marker word appended, scattered through the corpus.
    dup_pos = np.sort(rng.choice(np.arange(500, n), NEAR_DUPS, replace=False))
    out: list[str] = []
    it = iter(texts)
    dup_set = set(dup_pos.tolist())
    for i in range(n):
        if i in dup_set:
            words = out[int(rng.integers(0, len(out)))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            out.append(" ".join(words + ["dup"]))
        else:
            out.append(next(it))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(out, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in out], dtype=np.int64)),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``, keyed by table name."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
            "n_regionkey": pa.array(nk % 5),
        }
    )
    ck = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck),
            "c_name": pa.array([f"Customer#{i:09d}" for i in ck], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, len(ck)).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(ck))),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, len(ck))]),
        }
    )
    sk = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in sk], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, len(sk)).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, len(sk))),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    adj = np.array(ADJECTIVES)[rng.integers(0, 8, len(pk))]
    noun = np.array(NOUNS)[rng.integers(0, 8, len(pk))]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, len(pk))], pa.string()),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, len(pk))]),
            "p_size": pa.array(rng.integers(1, 51, len(pk)).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
        }
    )
    ok = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok),
            "o_custkey": pa.array(rng.integers(0, n["customer"], len(ok)).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, len(ok))]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, len(ok))),
            "o_orderdate": _days(rng, "1995-01-01", 2405, len(ok)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, len(ok))]),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
            "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]"), TS_US),
            "user_id": pa.array(rng.integers(0, 1500, ne).astype(np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    emb = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
        }
    )
    return out


def write(out_dir: str, seed: int) -> None:
    """Write the seed's tables into ``out_dir`` (created if missing)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))

