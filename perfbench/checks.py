"""Output checks for the benchmark runner.

Every query execution's written parquet files are read back and compared
with the query's DuckDB twin (``catalog.ORACLE``) by row count, column
names and the order-insensitive value hash of ``tools/parity.py``. A
twin's digest depends only on the input files, the SQL text, the DuckDB
version and the hashing code, so it is cached under the hash of all
four; ``--recompute`` rebuilds it.

On the generated corpus two planted-truth properties are checked too:

- every planted exact-duplicate group leaves one q23 row, holding the
  whole group and its smallest doc_id;
- every pair q38 reports has an exact word-3-shingle Jaccard at or above
  its 0.4 threshold, computed here in plain Python.

Usage: python3 perfbench/checks.py --workload NAME --seed N [--recompute]
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import parity  # noqa: E402
from parity import value_hash  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()
Q38_THRESHOLD = 0.4
Q38_SHINGLE_K = 3


def digest(df) -> dict:
    return {
        "rows": len(df),
        "cols": sorted(df.columns),
        "hash": value_hash(df),
    }


def input_key(manifest: dict) -> str:
    """Hash of the input files, the DuckDB version and the source of
    ``tools/parity.py``, whose ``value_hash`` makes the digests."""
    return hashlib.sha256(
        json.dumps(
            [manifest["sha256"], duckdb.__version__, inspect.getsource(parity)],
            sort_keys=True,
        ).encode()
    ).hexdigest()


class Oracle:
    """DuckDB twins over one generated input set, with a digest cache."""

    def __init__(self, inputs: str, manifest: dict, cache_dir: str):
        from gen import table_path

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(inputs, t)}')"
            )
        self.key = input_key(manifest)
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def twin(self, sql: str, recompute: bool = False) -> dict:
        key = hashlib.sha256(f"{self.key}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        if not recompute and os.path.isfile(path):
            with open(path) as f:
                return json.load(f)
        d = digest(self.con.sql(sql).df())
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, path)
        return d


def read_output(path: str):
    con = duckdb.connect()
    return con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()


def compare(got: dict, want: dict) -> str | None:
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} vs twin {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} vs twin {want['cols']}"
    if got["hash"] != want["hash"]:
        return "value hash differs from twin"
    return None


def _shingles(text: str) -> set[tuple[str, ...]]:
    toks = text.strip().lower().split()
    k = Q38_SHINGLE_K
    return {tuple(toks[i:i + k]) for i in range(max(len(toks) - k + 1, 1))}


def planted(query: str, df, inputs: str) -> str | None:
    """Planted-truth property of ``query``'s output, if it has one."""
    short = query.split("_", 1)[0]
    if short == "q23":
        with open(os.path.join(inputs, "planted.json")) as f:
            groups = json.load(f)["exact_dup_groups"]
        by_min = dict(zip(df["canonical_doc_id"], df["n_docs"]))
        for g in groups:
            if by_min.get(min(g)) != len(g):
                return f"planted exact-duplicate group {g} not kept as one row"
        return None
    if short == "q38":
        from gen import table_path

        ids = sorted(set(df["id_a"]) | set(df["id_b"]))
        con = duckdb.connect()
        texts = dict(con.execute(
            f"SELECT doc_id, text FROM read_parquet('{table_path(inputs, 'documents')}') "
            "WHERE list_contains(?, doc_id)",
            [ids],
        ).fetchall())
        for a, b in zip(df["id_a"], df["id_b"]):
            sa, sb = _shingles(texts[a]), _shingles(texts[b])
            if len(sa & sb) < Q38_THRESHOLD * len(sa | sb):
                return f"pair ({a}, {b}) below Jaccard {Q38_THRESHOLD}"
        return None
    return None


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from run import prepare_inputs
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--recompute", action="store_true")
    a = ap.parse_args()
    from kp_data_pipelines_spark.catalog import ORACLE

    wl = WORKLOADS[a.workload]
    inputs, manifest, _ = prepare_inputs(wl, a.seed)
    oracle = Oracle(inputs, manifest, os.path.join(ROOT, ".bench_work", "oracle"))
    for q in wl.catalog_names(ORACLE):
        d = oracle.twin(ORACLE[q], recompute=a.recompute)
        print(f"{q}: rows={d['rows']} hash={d['hash'][:16]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
