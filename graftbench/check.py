"""Correctness oracles that need no Spark: union-find labels, k-core
peel, result-set comparison with a float tolerance, and the ingest
sink audit against what the generator wrote."""

from __future__ import annotations

import math
import os
from collections import defaultdict
from decimal import Decimal


def union_find_labels(edges) -> dict[int, int]:
    """node -> smallest node id in its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def kcore_peel(edges, k: int) -> set[tuple[int, int]]:
    """Edges of the k-core: repeatedly drop nodes of degree < k."""
    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    low = [n for n, nb in adj.items() if len(nb) < k]
    while low:
        n = low.pop()
        if n not in adj:
            continue
        for m in adj.pop(n):
            nb = adj.get(m)
            if nb is not None:
                nb.discard(n)
                if len(nb) == k - 1:
                    low.append(m)
    return {(min(u, v), max(u, v)) for u, nb in adj.items() for v in nb}


def _plain(v):
    """Decimals compare as floats and NaN as null."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _sort_key(row: tuple) -> tuple:
    out = []
    for v in map(_plain, row):
        if v is None:
            out.append((0, ""))
        elif _is_number(v):
            out.append((1, float("%.6g" % v)))
        else:
            out.append((2, str(v)))
    return tuple(out)


def _cell_equal(a, b) -> bool:
    a, b = _plain(a), _plain(b)
    if a is None or b is None:
        return a is b
    if _is_number(a) and _is_number(b):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if hasattr(a, "isoformat") and hasattr(b, "isoformat"):
        return a.isoformat()[:26] == b.isoformat()[:26]
    return a == b


def same_rows(cols_a: list[str], rows_a: list[tuple],
              cols_b: list[str], rows_b: list[tuple]) -> str | None:
    """Order-insensitive comparison of two result sets keyed by column
    name. Returns ``None`` when equal, else a one-line reason."""
    if sorted(cols_a) != sorted(cols_b):
        return f"columns {sorted(cols_a)} != {sorted(cols_b)}"
    if len(rows_a) != len(rows_b):
        return f"row count {len(rows_a)} != {len(rows_b)}"
    names = sorted(cols_a)
    ia = [cols_a.index(c) for c in names]
    ib = [cols_b.index(c) for c in names]
    a = sorted((tuple(r[i] for i in ia) for r in rows_a), key=_sort_key)
    b = sorted((tuple(r[i] for i in ib) for r in rows_b), key=_sort_key)
    for ra, rb in zip(a, b):
        if not all(_cell_equal(x, y) for x, y in zip(ra, rb)):
            return f"first differing row {ra} != {rb}"
    return None


def duckdb_on(table_dir: str):
    """A DuckDB connection with one view per ``<table>.parquet`` in
    ``table_dir``, named as the oracle SQL names the tables."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(table_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def audit_sinks(valid_dir: str, errors_dir: str, backlog) -> tuple[int, list[str]]:
    """Check one drained backlog's sinks against the generator. Returns
    the number of messages found wrong and one line per problem (``(0,
    [])`` = correct):

    - valid rows = valid-PAN + null-PAN messages, null-card rows =
      null-PAN messages, tokenized rows = valid-PAN messages, error rows
      = over-length messages;
    - every valid-PAN message carries an all-digit token, zero-padded to
      16 and no longer than its PAN, and equal PANs
      carry equal tokens across all files and micro-batches;
    - no raw PAN appears in any string cell of the valid sink.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    problems: list[str] = []
    n_wrong = 0
    valid = ds.dataset(valid_dir, format="parquet", partitioning="hive").to_table()
    errors = ds.dataset(errors_dir, format="parquet", partitioning="hive").to_table()
    token = valid["card_token"]
    expect = {
        "valid rows": (valid.num_rows, backlog.n_valid_pan + backlog.n_null_pan),
        "null-card rows": (valid["masked_card_number"].null_count, backlog.n_null_pan),
        "tokenized rows": (valid.num_rows - token.null_count, backlog.n_valid_pan),
        "error rows": (errors.num_rows, backlog.n_bad_pan),
    }
    for k, (got, want) in expect.items():
        if got != want:
            n_wrong += abs(got - want)
            problems.append(f"{k}: sink {got} != generated {want}")
    if "card_number" in valid.column_names:
        n_wrong += valid.num_rows
        problems.append("raw card_number column reached the valid sink")
    token_of: dict[str, str] = {}
    bad_tokens = 0
    for txn, tok in zip(valid["transaction_id"].to_pylist(), token.to_pylist()):
        pan = backlog.pan_of.get(txn)
        if pan is None:
            continue
        if tok is None or not tok.isdigit() or not 16 <= len(tok) <= max(16, len(pan)):
            bad_tokens += 1
        elif token_of.setdefault(pan, tok) != tok:
            bad_tokens += 1
    if bad_tokens:
        n_wrong += bad_tokens
        problems.append(f"{bad_tokens} valid-PAN rows with a missing or inconsistent token")
    pans = pa.array(sorted(set(backlog.pan_of.values())))
    for name in valid.column_names:
        col = valid[name]
        if pa.types.is_string(col.type):
            leaks = pc.sum(pc.is_in(col, value_set=pans)).as_py() or 0
            if leaks:
                n_wrong += leaks
                problems.append(f"{leaks} raw PANs in valid column {name}")
    return min(n_wrong, backlog.n_messages), problems


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
