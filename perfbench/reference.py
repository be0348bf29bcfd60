"""Independent references the benchmark checks engine outputs against.

Nothing here calls the engine: the relational reference is DuckDB over
the same generated files, the vector reference is NumPy brute force.
"""

from __future__ import annotations

import math
import tempfile

import duckdb
import numpy as np


def duck_con() -> duckdb.DuckDBPyConnection:
    """Single-threaded in-memory DuckDB connection that spills, if ever,
    under the run's own temp directory."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute(f"SET temp_directory = '{tempfile.gettempdir()}'")
    return con


def _canon_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    return v


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, cells
    made hashable, rows sorted — exact equality, no float tolerance."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def compare_rows(scols, srows, dcols, drows) -> tuple[int, int]:
    """(reference rows reproduced, reference rows) — a schema or row
    count difference counts as nothing reproduced."""
    if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
        return 0, max(1, len(drows))
    a, b = canon_rows(scols, srows), canon_rows(dcols, drows)
    same = sum(1 for x, y in zip(a, b) if x == y)
    return same, len(b)


def min_id_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Connected components of an undirected edge list: node -> the
    smallest node id in its component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def exact_knn(
    base: np.ndarray, queries: np.ndarray, k: int, exclude_self: bool, first_id: int = 0
) -> np.ndarray:
    """Brute-force k nearest ids of each query row in ``base`` by
    squared L2 (float64), ties broken by the smaller id. With
    ``exclude_self``, query row i is base row ``first_id + i``."""
    b = base.astype(np.float64)
    bn = (b * b).sum(1)
    out = np.empty((queries.shape[0], k), dtype=np.int32)
    for s in range(0, queries.shape[0], 256):
        q = queries[s : s + 256].astype(np.float64)
        d2 = (q * q).sum(1)[:, None] + bn[None, :] - 2.0 * q @ b.T
        if exclude_self:
            d2[np.arange(q.shape[0]), np.arange(first_id + s, first_id + s + q.shape[0])] = np.inf
        part = np.argpartition(d2, k, axis=1)[:, : k + 1]
        for i in range(q.shape[0]):
            c = part[i]
            c = c[np.lexsort((c, d2[i, c]))]
            out[s + i] = c[:k]
    return out
