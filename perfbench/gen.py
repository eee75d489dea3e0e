"""Seeded input generator for the benchmark.

Writes the ten catalog tables (``region nation customer supplier part
orders lineitem events documents embeddings``) as parquet under one
directory, laid out the way ``read_table`` expects
(``{dir}/{name}.parquet``). Row counts are those of the sf0.1 test set
(lineitem = 6M x 0.1), and every column follows the profile of the
sf0.001/0.01/0.1 test sets: the same key ranges, categorical
value sets, date windows, price/discount grids and the 30-word document
vocabulary plus the ``dup`` marker word.

``documents`` is sized separately (``docs``) so the corpus workload can
run on a corpus larger than sf0.1's 5,000 documents. With
``doc_files > 1`` it is written as a directory of that many parquet
files, so a scan splits across tasks like a real corpus. Planted
duplicates:

- near duplicates: ~5% of documents copy an earlier document's text and
  append the word ``dup`` (a one-word edit);
- exact duplicates: ~0.2% of documents copy an earlier document's text
  verbatim. Their groups are recorded in ``planted.json`` so the checks
  can verify that exact dedup keeps one row per group.

Output is cached: a directory whose ``manifest.json`` names the same
seed, sizes and generator version is reused as is.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = 1
SF = 0.1  # scale of the TPC-H-like tables

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_WORD = "dup"
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
N_SOURCES = 20
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
TS = pa.timestamp("us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span):
    days = rng.integers(0, span + 1, n)
    return _EPOCH_1995 + (days * _US_PER_DAY).astype("timedelta64[us]")


def _tables(rng) -> dict[str, pa.Table]:
    n_cust = int(150_000 * SF)
    n_supp = int(10_000 * SF)
    n_part = int(200_000 * SF)
    n_ord = int(1_500_000 * SF)
    n_li = int(6_000_000 * SF)
    n_ev = int(1_000_000 * SF)
    n_users = int(15_000 * SF)
    n_emb = int(20_000 * SF)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, 2404), TS),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            _days(rng, n_li, 2498) + np.timedelta64(1, "D"), TS
        ),
    })
    offs = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"), TS),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _documents(rng, n: int) -> tuple[pa.Table, list[list[int]]]:
    """Corpus with planted near and exact duplicates; returns the table
    and the exact-duplicate groups (doc_id lists, original first)."""
    vocab = np.array(WORDS)
    lens = rng.integers(10, 100, n)
    words = vocab[rng.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # Copies only ever point at an earlier, non-copied document, so every
    # group has exactly one original and a copy never chains.
    kind = rng.random(n)
    copied = np.zeros(n, dtype=bool)
    groups: dict[int, list[int]] = {}
    for i in range(1, n):
        if kind[i] >= NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            continue
        src = int(rng.integers(0, i))
        if copied[src]:
            continue
        copied[i] = True
        if kind[i] < NEAR_DUP_SHARE:
            texts[i] = f"{texts[src]} {DUP_WORD}"
        else:
            texts[i] = texts[src]
            groups.setdefault(src, [src]).append(i)
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    return table, sorted(groups.values())


def _sha(path: str) -> str:
    h = hashlib.sha256()
    files = [path]
    if os.path.isdir(path):
        files = sorted(os.path.join(path, f) for f in os.listdir(path))
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def generate(out: str, seed: int, docs: int, doc_files: int = 1) -> dict:
    """Generate (or reuse) the input set; returns its manifest."""
    params = {"version": VERSION, "seed": seed, "sf": SF, "docs": docs,
              "doc_files": doc_files}
    mpath = os.path.join(out, "manifest.json")
    if os.path.isfile(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("params") == params:
            return manifest
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 20_240_101])
    tables = _tables(rng)
    tables["documents"], groups = _documents(
        np.random.default_rng([seed, 5_000]), docs
    )
    for name, table in tables.items():
        path = os.path.join(tmp, f"{name}.parquet")
        if name == "documents" and doc_files > 1:
            os.makedirs(path)
            step = -(-table.num_rows // doc_files)
            for k in range(doc_files):
                pq.write_table(
                    table.slice(k * step, step),
                    os.path.join(path, f"part-{k:05d}.parquet"),
                )
        else:
            pq.write_table(table, path)
    with open(os.path.join(tmp, "planted.json"), "w") as f:
        json.dump({"exact_dup_groups": groups}, f)
    manifest = {
        "params": params,
        "rows": {n: t.num_rows for n, t in tables.items()},
        "sha256": {n: _sha(os.path.join(tmp, f"{n}.parquet")) for n in tables},
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest


def table_path(inputs: str, name: str) -> str:
    """Parquet glob for one generated table (file or file directory)."""
    path = os.path.join(inputs, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path
