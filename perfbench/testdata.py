"""Seeded tables with the schema of the TPC-H-ish testdata (TESTDATA.md).

Ten parquet files, one per table, with the column names, types and
value domains of the sf0.01 testdata: uniform keys, TPC-H-like
flags and priorities, timestamps without time zone. Row counts scale
with ``sf`` the way the testdata's do (lineitem 6,000,000 x sf).

The documents/embeddings corpus is sized apart from ``sf``: a base
corpus of ``corpus`` rows (about one in twenty an exact copy of an
earlier document plus a ``dup`` token), then ``replicas`` copies by
key-offset replication, as scripts/make_scaled_sf.py does. Copy i > 0
appends ``[replica i]`` to each text and adds noise in [-0.05, 0.05)
to each embedding dimension, so copies stay near-duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_DIM = 64
_CORPUS_ROW_GROUP = 8192


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array(np.char.add(prefix, np.char.zfill(np.arange(n).astype(str), 9)))


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    days = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust),
        "c_name": _names("Customer#", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp),
        "s_name": _names("Supplier#", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    parts = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": parts,
        "p_name": np.char.add(np.char.add(rng.choice(_ADJ, n_part), " "),
                              rng.choice(_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (parts % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_ev),
        "value": np.round(rng.exponential(20.0, n_ev) + 0.01, 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev)
                                         .astype(str)), "}"),
    })
    return out


def corpus_tables(rng: np.random.Generator, corpus: int,
                  replicas: int) -> dict[str, pa.Table]:
    n_words = rng.integers(10, 101, corpus)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in n_words]
    for i in np.flatnonzero(rng.random(corpus) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    lang = rng.choice(["en", "de", "es", "fr", "zh"], corpus,
                      p=[0.40, 0.15, 0.15, 0.15, 0.15])
    source = np.char.add("src", rng.integers(0, 20, corpus).astype(str))
    vec = rng.standard_normal((corpus, _DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    label = rng.integers(0, 10, corpus)

    all_text, all_vec = [], []
    for r in range(replicas):
        suffix = f" [replica {r}]" if r else ""
        all_text.extend(t + suffix for t in texts)
        noise = 0 if r == 0 else rng.integers(0, 100, vec.shape) / 1000.0 - 0.05
        all_vec.append((vec + noise).astype(np.float32))
    n = corpus * replicas
    text_arr = pa.array(all_text)
    flat = pa.array(np.concatenate(all_vec).ravel(), pa.float32())
    return {
        "documents": pa.table({
            "doc_id": np.arange(n),
            "text": text_arr,
            "lang": np.tile(lang, replicas),
            "source": np.tile(source, replicas),
            "n_chars": np.array([len(t) for t in all_text]),
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * _DIM + 1, _DIM), pa.int32()), flat),
            "label": pa.array(np.tile(label, replicas), pa.int32()),
        }),
    }


def write(out_dir: str, seed: int, sf: float, corpus: int,
          replicas: int) -> dict[str, dict[str, int]]:
    """Write the ten tables under ``out_dir``; return rows per table."""
    rng = np.random.default_rng(seed)
    tables = {**tpch_tables(rng, sf), **corpus_tables(rng, corpus, replicas)}
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        kw = {"row_group_size": _CORPUS_ROW_GROUP} if name in (
            "documents", "embeddings") else {}
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), **kw)
    return {"rows": {name: t.num_rows for name, t in tables.items()}}
