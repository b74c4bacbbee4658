"""Deterministic benchmark inputs.

``base_tables`` builds the ten catalog tables (TPC-H-style star schema,
an ``events`` click stream, a text ``documents`` corpus and unit
``embeddings``) from a fixed generator seed, with the shapes and value
domains of the catalog's reference test data: the same key ranges,
categorical vocabularies, one month of monotonically timestamped events,
a 30-word document vocabulary with ~5 % near-duplicate documents, and
64-dim L2-normalised embeddings with 10 labels.

``prepare`` writes the base tables once, then a copy whose rows are
permuted by the workload seed (seed 0 keeps the base order).  Row order
is the only thing the seed changes, so every entry's answer is the same
on every seed; the catalog's results are row-order invariant.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small order group big vector "
    "stream customer filter query"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)


def _days(rng, n, start, span_days):
    days = pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span_days, n), unit="D")
    return days.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf: float) -> dict[str, pd.DataFrame]:
    """The ten catalog tables at scale factor ``sf`` (sf 1 = 6M lineitems)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    i32 = np.int32
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
            ),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "new", "cold"])
    noun = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"])
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                noun[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2400),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2500),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(ts_us, unit="us")).astype(
                "datetime64[us]"
            ),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(
                ["click", "error", "purchase", "signup", "view"], n_ev
            ),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, marked the way the
            # reference corpus marks them
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    t["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(i32),
        }
    )
    return t


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def prepare(root: str, sf: float, seed: int) -> str:
    """Write the seed's input tables under ``root`` once; return their dir."""
    base = os.path.join(root, f"sf{sf:g}-base")
    if not os.path.exists(os.path.join(base, "_DONE")):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        for name, df in base_tables(sf).items():
            table = pa.Table.from_pandas(df, preserve_index=False)
            if name == "embeddings":
                table = table.set_column(
                    1, "embedding", table.column(1).cast(pa.list_(pa.float32()))
                )
            _write(table, os.path.join(base, f"{name}.parquet"))
        open(os.path.join(base, "_DONE"), "w").close()
    if seed == 0:
        return base
    out = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        rng = np.random.default_rng(seed)
        for name in TABLES:
            table = pq.read_table(os.path.join(base, f"{name}.parquet"))
            perm = rng.permutation(table.num_rows)
            _write(table.take(perm), os.path.join(out, f"{name}.parquet"))
        open(os.path.join(out, "_DONE"), "w").close()
    return out
