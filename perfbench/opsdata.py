"""Input tables and DuckDB reference digests for the `ops` workload.

The tables under `perfbench/data/` are copies of the repository's test
tables, committed so the benchmark reads nothing outside its checkout:
`documents` (5,000 rows) and `embeddings` (2,000) byte for byte from
scale factor 0.1, the one the repository's operator benchmark reads, and
`lineitem` from scale factor
0.01 (60,000 rows, one row group like the original) cut to the two columns
the triangle query reads, `l_orderkey` and `l_partkey`. At scale 0.1 the
triangle census alone takes about 18 s on 4 cores, more than one run can
spend on the whole pass; at 0.01 it takes about 3 s, of which the
per-query floor (about 0.5-1 s) is the smaller part. Each query's
reference digest comes from the DuckDB
oracle SQL the contract ships, run on the same tables, and is cached per
checkout under the work directory, keyed by the table files, the scale
and the oracle SQL text.

A scale below 1 (the smoke test) runs on the first rows of each table.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from collections import Counter

import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# query -> (layer, tables it reads). Left out for the run-time budget:
# simhash_near_dup and ann_cosine_topk, whose time on these tables is mostly
# the fixed per-query floor (1.24 -> 1.44 s and 0.51 -> 0.64 s from scale
# factor 0.01 to 0.1 on 4 cores), so they show little of their operators.
QUERIES = {
    "minhash_verified_pairs": ("dedup", ("documents",)),
    "ngram_jaccard_pairs": ("dedup", ("documents",)),
    "winnow_near_dup_pairs": ("dedup", ("documents",)),
    "embedding_near_dup_bucketed": ("similarity", ("embeddings",)),
    "kg_cooccurrence_triangles": ("graph", ("lineitem",)),
}


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of a result: rows as a multiset, columns
    in name order, cells normalized the way the contract self-check does."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    bag = Counter(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for key, count in sorted(bag.items()):
        h.update(repr((key, count)).encode())
    return h.hexdigest()


def _file_digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def prepare(work_dir: str, scale: float) -> tuple[str, dict]:
    """Return (table dir, reference digests by query), computing and
    caching the digests on first use."""
    from openue_spark.contract import oracle_sql

    tables = sorted(os.listdir(DATA_DIR))
    oracle = {q: oracle_sql()[q] for q in QUERIES}
    key = hashlib.sha256(json.dumps(
        [scale, oracle, {t: _file_digest(os.path.join(DATA_DIR, t)) for t in tables}],
        sort_keys=True).encode()).hexdigest()[:16]
    final = os.path.join(work_dir, f"opsdata-{key}")
    if not os.path.isfile(os.path.join(final, "reference.json")):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if scale < 1:
            for t in tables:
                table = pq.read_table(os.path.join(DATA_DIR, t))
                pq.write_table(table.slice(0, max(50, int(table.num_rows * scale))),
                               os.path.join(tmp, t))
        with open(os.path.join(tmp, "reference.json"), "w") as f:
            json.dump(_reference_digests(tmp if scale < 1 else DATA_DIR, oracle), f)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    with open(os.path.join(final, "reference.json")) as f:
        return (final if scale < 1 else DATA_DIR), json.load(f)


def _reference_digests(table_dir: str, oracle: dict[str, str]) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    for f in os.listdir(table_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(table_dir, f)}')")
    out = {}
    for q, sql in oracle.items():
        cur = con.execute(sql)
        out[q] = digest([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out
