"""Seeded benchmark inputs and their DuckDB-oracle digests, cached per
(seed, sf, source) under the benchmark's work directory.

The tables come from the builders in ``tools/gen_scale.py``, called in
the same order as its ``main`` but with ``np.random.default_rng(seed)``
(``main`` pins seed 42), so one seed always yields the same six tables:
customer, orders, lineitem, events, documents and embeddings. Every
benchmarked operation reads only these.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

TABLES = ("documents", "embeddings", "events", "customer", "orders", "lineitem")

#: files, relative to the checkout root, whose content decides the cached
#: inputs (the builders, this module) and digests (the canonicalization)
SOURCES = ("tools/gen_scale.py", "perfbench/inputs.py", "tests/conftest.py")


def source_hash(root: str) -> str:
    h = hashlib.sha256()
    for rel in SOURCES:
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(rel.encode() + b"\0" + fh.read() + b"\0")
    return h.hexdigest()[:12]


def generate(seed: int, sf: float, cache_root: str, root: str) -> str:
    """Directory holding the six tables for (seed, sf); built on a miss."""
    import gen_scale as g  # tools/ is on sys.path (see run.py)

    out = os.path.join(cache_root, f"seed{seed}_sf{sf:g}_{source_hash(root)}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed)
    builders = {
        "documents": lambda: g.gen_documents(rng, int(50_000 * sf)),
        "embeddings": lambda: g.gen_embeddings(rng, int(20_000 * sf)),
        "events": lambda: g.gen_events(rng, int(1_000_000 * sf), int(15_000 * sf)),
        "customer": lambda: g.gen_customer(rng, int(150_000 * sf)),
        "orders": lambda: g.gen_orders(rng, int(1_500_000 * sf), int(150_000 * sf)),
        "lineitem": lambda: g.gen_lineitem(rng, int(1_500_000 * sf)),
    }
    for name in TABLES:
        pq.write_table(builders[name](), os.path.join(tmp, f"{name}.parquet"), store_schema=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, canonicalized exactly as
    ``tests/conftest.py::compare_query`` does (columns sorted by name,
    values through ``canonical``, rows sorted)."""
    from tests.conftest import rows_canonical

    h = hashlib.sha256("|".join(sorted(columns)).encode())
    for row in rows_canonical(list(columns), rows):
        h.update(b"\n" + row.encode())
    return h.hexdigest()


def oracle_digests(sf_dir: str, ops: dict[str, str]) -> tuple[dict[str, str], dict[str, str]]:
    """DuckDB-oracle digest per operation, cached beside the inputs.

    ``ops`` maps operation name to oracle SQL. Returns the digests and,
    separately, the operations whose oracle could not run, with the
    reason; those are reported as unverified and never count as passing.
    A digest is reused only for the same SQL; a failed oracle is not
    cached, so it is retried on the next run.
    """
    import duckdb

    cache_path = os.path.join(sf_dir, "_oracle.json")
    cache: dict[str, dict] = {}
    if os.path.isfile(cache_path):
        with open(cache_path) as fh:
            cache = json.load(fh)
    sql_hash = {op: hashlib.sha256(sql.encode()).hexdigest() for op, sql in ops.items()}
    missing = [op for op in ops if cache.get(op, {}).get("sql_sha256") != sql_hash[op]]
    errors: dict[str, str] = {}
    if missing:
        con = duckdb.connect()
        try:
            con.execute("SET threads = 4")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for op in missing:
                try:
                    res = con.execute(ops[op])
                    cols = [d[0] for d in res.description]
                    cache[op] = {"sql_sha256": sql_hash[op], "digest": digest(cols, res.fetchall())}
                except duckdb.Error as e:
                    cache.pop(op, None)
                    errors[op] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        finally:
            con.close()
        with open(cache_path + ".tmp", "w") as fh:
            json.dump(cache, fh)
        os.replace(cache_path + ".tmp", cache_path)
    digests = {op: cache[op]["digest"] for op in ops if op not in errors}
    return digests, errors
