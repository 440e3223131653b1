"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the same seed
writes byte-identical files, a different seed writes different ones.
The program under test only ever sees these files.
"""

from __future__ import annotations

import datetime
import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa

# Words of the synthetic corpus: a small closed vocabulary makes the
# dedup, repetition and tokenizer stages see realistic collisions.
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window line sort order data column join small big query filter "
    "group stream customer index shard cache plan stage task driver worker "
    "node disk memory network byte page block file schema type cast").split()
LANGS = ["en", "en", "en", "en", "de", "fr", "es", "ja"]
SOURCES = ["src0", "src1", "src2", "src3"]

_EPOCH_1992 = datetime.date(1992, 1, 1).toordinal()
_DAYS = datetime.date(1998, 12, 31).toordinal() - _EPOCH_1992


def _rng(seed: int, stream: str) -> np.random.Generator:
    # One independent stream per table, so adding a column to one table
    # never shifts the values drawn for another.
    key = int.from_bytes(hashlib.sha256(f"{seed}/{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def lineitem(seed: int, n: int, date_type: str = "timestamp") -> pa.Table:
    """TPC-H-shaped lineitem rows. Prices have two decimals and
    discounts/taxes whole percents, so integer-cent arithmetic on them
    is exact in every engine."""
    r = _rng(seed, "lineitem")
    days = r.integers(0, _DAYS, n)
    if date_type == "date":
        ship = pa.array(days.astype("int32") + (_EPOCH_1992 - datetime.date(1970, 1, 1).toordinal()),
                        pa.int32()).cast(pa.date32())
    else:
        base_us = (_EPOCH_1992 - datetime.date(1970, 1, 1).toordinal()) * 86_400_000_000
        ship = pa.array(base_us + days.astype("int64") * 86_400_000_000, pa.timestamp("us"))
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, max(1, n // 4), n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(r.integers(90_000, 10_000_000, n) / 100.0),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": ship,
    })


def _texts(r: np.random.Generator, n: int, lo: int = 12, hi: int = 90) -> list[str]:
    vocab = np.array(VOCAB)
    lens = r.integers(lo, hi, n)
    words = vocab[r.integers(0, len(vocab), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(words[i:i + k]))
        i += k
    return out


def documents(seed: int, n: int) -> pa.Table:
    """Corpus rows ``(doc_id, text, lang, source, n_chars)``. One doc in
    eight repeats an earlier text verbatim and one in eight repeats it
    with a single word swapped, so exact and near-duplicate groups
    exist."""
    r = _rng(seed, "documents")
    texts = _texts(r, n)
    for i in range(1, n):
        kind = r.integers(0, 8)
        if kind == 0:
            texts[i] = texts[r.integers(0, i)]
        elif kind == 1:
            words = texts[r.integers(0, i)].split()
            words[r.integers(0, len(words))] = VOCAB[r.integers(0, len(VOCAB))]
            texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.integers(0, len(LANGS), n)]),
        "source": pa.array(np.array(SOURCES)[r.integers(0, len(SOURCES), n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def resampled_corpus(seed: int, n: int, base: int) -> pa.Table:
    """``n`` rows drawn with replacement from a ``base``-doc corpus and
    given fresh unique ids: every base doc drawn twice or more forms a
    duplicate group with distinct ``doc_id`` values."""
    src = documents(seed, base)
    idx = _rng(seed, "resample").integers(0, base, n)
    out = src.take(pa.array(idx))
    return out.set_column(0, "doc_id", pa.array(np.arange(n), pa.int64()))


def tpch_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """The star schema and side tables the registry queries read, at
    ``scale`` lineitem rows (orders: scale/4, customers: scale/40)."""
    r = _rng(seed, "tpch")
    n_ord, n_cust, n_part, n_supp = max(1, scale // 4), max(1, scale // 40), 2000, 100
    base_us = (_EPOCH_1992 - datetime.date(1970, 1, 1).toordinal()) * 86_400_000_000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    n_emb, dim = max(1, scale // 12), 64
    emb = r.normal(0.0, 0.12, (n_emb, dim)).astype("float32")
    n_ev = max(1, scale // 6)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(r.integers(-99_999, 999_999, n_cust) / 100.0),
            "c_mktsegment": pa.array(segs[r.integers(0, len(segs), n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(r.integers(-99_999, 999_999, n_supp) / 100.0),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{VOCAB[i % len(VOCAB)]} {VOCAB[(i * 7) % len(VOCAB)]}" for i in range(n_part)],
            "p_brand": [f"Brand#{i % 25 + 1}" for i in range(n_part)],
            "p_type": pa.array(np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[r.integers(0, 4, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(900.0 + np.arange(n_part) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(r.integers(100_000, 50_000_000, n_ord) / 100.0),
            "o_orderdate": pa.array(base_us + r.integers(0, _DAYS, n_ord) * 86_400_000_000,
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                                  "5-LOW"])[r.integers(0, 5, n_ord)]),
        }),
        "lineitem": lineitem(seed, scale),
        "documents": documents(seed, max(1, scale // 12)),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 8, n_emb), pa.int32()),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(1_704_067_200_000_000 + np.sort(r.integers(0, 86_400_000_000 * 7, n_ev)),
                           pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, 100, n_ev), pa.int64()),
            "event_type": pa.array(np.array(["click", "view", "purchase", "error"])[r.integers(0, 4, n_ev)]),
            "value": pa.array(r.integers(0, 10_000, n_ev) / 100.0),
            "props": [f'{{"k": {int(k)}}}' for k in r.integers(0, 100, n_ev)],
        }),
    }


def digest(paths: list[Path]) -> str:
    """sha256 over the files' names and bytes, in name order."""
    h = hashlib.sha256()
    for p in sorted(paths, key=lambda p: p.name):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()
