"""Seeded input generator for the benchmark workloads.

Builds a table directory from one of the read-only base corpora by
key-shifted replication, following ``scripts/gen_scale_corpus.py``:

- replica ``r`` shifts every fact key by ``block(r) * N[table]``, where
  ``block`` is a seeded permutation of the replica blocks (plus a seeded
  extra block when ``shift_keys`` is set), so FKs keep exactly one parent
  and replicas never collide;
- rows are written in a seeded order;
- ``documents.text`` gets a seeded two-letter suffix on every token,
  the same suffix on all tokens of one replica, so planted near-dup and
  term-frequency structure is kept while the bytes change per seed;
- ``embeddings.embedding`` is rolled by a seeded number of dims, which
  keeps norms and every within-replica cosine.

Distributions and sizes are the same for every seed; only which bytes
land where changes.  ``region``/``nation`` are copied unchanged.
"""

from __future__ import annotations

import os
import random

import duckdb

# Key columns shifted per replica; the first one names the table's key space.
_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
# Which table's cardinality a key column is shifted by.
_KEY_SPACE = {
    "c_custkey": "customer", "o_custkey": "customer",
    "s_suppkey": "supplier", "l_suppkey": "supplier",
    "p_partkey": "part", "l_partkey": "part",
    "o_orderkey": "orders", "l_orderkey": "orders",
    "event_id": "events", "user_id": "users",
    "doc_id": "documents", "vec_id": "embeddings",
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _key_space_sizes(con: duckdb.DuckDBPyConnection, base: str) -> dict[str, int]:
    """Size of each key space = max key + 1 in the base corpus, so shifted
    replicas never overlap whatever the base scale."""
    sizes = {}
    for t in _KEYS:
        col = _KEYS[t][0]
        sizes[t] = con.sql(
            f"SELECT max({col}) + 1 FROM read_parquet('{base}/{t}.parquet')"
        ).fetchone()[0]
    sizes["users"] = con.sql(
        f"SELECT max(user_id) + 1 FROM read_parquet('{base}/events.parquet')"
    ).fetchone()[0]
    return sizes


def _suffix(seed: int, r: int) -> str:
    rng = random.Random(seed * 1_000_003 + r)
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(2))


def table_sql(con: duckdb.DuckDBPyConnection, t: str, base: str, seed: int,
              mult: int, shift_keys: bool, sizes: dict[str, int]) -> str:
    src = f"read_parquet('{base}/{t}.parquet')"
    if t in ("region", "nation"):
        return f"SELECT * FROM {src}"
    rng = random.Random(seed)
    blocks = list(range(mult))
    rng.shuffle(blocks)
    extra = (1 + seed % 61) * mult if shift_keys else 0
    # replica r -> key block; a VALUES table keeps the SQL one statement.
    reps = "(VALUES " + ", ".join(
        f"({r}, {b + extra}, '{_suffix(seed, r)}', {(seed + 7 * r) % 64})"
        for r, b in enumerate(blocks)
    ) + ") AS reps(r, blk, sfx, roll)"
    shifted = {
        c: f"{c} + blk * {sizes[_KEY_SPACE[c]]} AS {c}" for c in _KEYS[t]
    }
    if t == "customer":
        shifted["c_name"] = (
            f"printf('Customer#%09d', c_custkey + blk * {sizes['customer']}) AS c_name"
        )
    if t == "supplier":
        shifted["s_name"] = (
            f"printf('Supplier#%09d', s_suppkey + blk * {sizes['supplier']}) AS s_name"
        )
    if t == "documents":
        shifted["text"] = "regexp_replace(text, '([^ ]+)', '\\1' || sfx, 'g') AS text"
        shifted["n_chars"] = (
            "length(regexp_replace(text, '([^ ]+)', '\\1' || sfx, 'g')) AS n_chars"
        )
    if t == "embeddings":
        shifted["embedding"] = (
            "CAST(list_transform(range(1, len(embedding) + 1), "
            "i -> embedding[1 + CAST((i - 1 + roll) % len(embedding) AS INT)]) "
            "AS FLOAT[]) AS embedding"
        )
    names = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()]
    cols = ", ".join(shifted.get(c, c) for c in names)
    order_key = _KEYS[t][0]
    extra_order = ", l_linenumber" if t == "lineitem" else ""
    return (
        f"SELECT {cols} FROM {src}, {reps} "
        f"ORDER BY hash({order_key}, r{extra_order}, {seed})"
    )


def generate(base: str, out: str, seed: int, tables: tuple[str, ...],
             threads: int, mult: int = 1, shift_keys: bool = False) -> dict[str, int]:
    """Write ``tables`` as seeded replicas of ``base`` into ``out``; returns
    the row count of each written table.  DuckDB is capped at ``threads``
    and 4 GB so generation fits beside the Spark driver."""
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {threads}")
        con.execute("SET memory_limit = '4GB'")
        con.execute(f"SET temp_directory = '{os.path.join(out, '.duckdb_tmp')}'")
        sizes = _key_space_sizes(con, base)
        rows = {}
        for t in tables:
            dst = os.path.join(out, f"{t}.parquet")
            sql = table_sql(con, t, base, seed, mult, shift_keys, sizes)
            con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE 122880)")
            rows[t] = con.sql(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        return rows
    finally:
        con.close()
