"""Expected outputs, computed once per run before any timing.

The canonical-graph queries are checked against the repository's own
DuckDB oracles (``__spark_entry__.oracle_sql()``), compared the way
``scripts/check_correctness.py`` compares them. The R-MAT workload and
the two triangle operators are checked against the independent NumPy
replays below: the unrolled DuckDB k-truss oracle takes ~50 s per run
on the dense 500-vertex graph, the NumPy peel a few milliseconds.
"""

from __future__ import annotations

import math

import numpy as np


def pagerank(
    src: np.ndarray, dst: np.ndarray, n: int,
    d: float = 0.85, eps: float = 1e-4,
) -> tuple[np.ndarray, int]:
    """Redistribute-mode power iteration with the engine's stopping rule
    (do-while, stop once the L1 residual is <= eps); duplicate edges
    carry multiplicity. Returns ``(ranks, iterations)``."""
    out = np.bincount(src, minlength=n).astype(np.float64)
    dang = out == 0
    w = d / np.where(dang, 1.0, out)[src]
    r = np.full(n, 1.0 / n)
    k = 0
    while True:
        base = (1.0 - d) / n + d * float(r[dang].sum()) / n
        new = np.bincount(dst, weights=w * r[src], minlength=n) + base
        resid = float(np.abs(new - r).sum())
        r = new
        k += 1
        if abs(resid - eps) <= eps * 1e-9:
            raise RuntimeError(
                f"residual {resid} at iteration {k} is within rounding of "
                f"eps={eps}: the iteration count is ambiguous for this seed"
            )
        if resid <= eps:
            return r, k


def min_label_components(
    src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, component)`` for every vertex on an edge, where component
    is the minimum id of its undirected connected component."""
    ids = np.unique(np.concatenate([src, dst]))
    a = np.searchsorted(ids, src)
    b = np.searchsorted(ids, dst)
    lab = np.arange(len(ids))
    while True:
        m = np.minimum(lab[a], lab[b])
        new = lab.copy()
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]
        if np.array_equal(new, lab):
            return ids, ids[lab]
        lab = new


def _adjacency(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    adj = np.zeros((n, n), dtype=np.float64)
    adj[a, b] = 1.0
    adj[b, a] = 1.0
    return adj


def triangle_total(a: np.ndarray, b: np.ndarray, n: int) -> int:
    """Triangles of the simple undirected graph with edges ``a < b``."""
    adj = _adjacency(a, b, n)
    return int(round(float(np.einsum("ij,ji->", adj @ adj, adj)) / 6))


def k_truss(
    a: np.ndarray, b: np.ndarray, n: int, k: int
) -> set[tuple[int, int]]:
    """Edges ``(a, b)``, a < b, of the k-truss: peel every edge that
    closes fewer than k - 2 triangles until none is left to peel."""
    adj = _adjacency(a, b, n)
    while True:
        low = (adj > 0) & ((adj @ adj) < k - 2)
        if not low.any():
            break
        adj[low] = 0.0
    ua, ub = np.nonzero(np.triu(adj, 1))
    return set(zip(ua.tolist(), ub.tolist()))


def _row_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(
        out, key=lambda t: tuple((x is None, str(type(x)), x) for x in t)
    )


def compare_rows(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """``None`` when the row sets match (columns by name, rows in any
    order, floats within 1e-9), else the first difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    for ra, rb in zip(_row_key(got_rows, got_cols), _row_key(want_rows, want_cols)):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) or isinstance(vb, float):
                if va is None or vb is None:
                    ok = va is vb
                else:
                    ok = math.isclose(va, vb, rel_tol=0, abs_tol=1e-9)
            else:
                ok = va == vb
            if not ok:
                return f"{va!r} != {vb!r}"
    return None


def duckdb_oracles(
    queries: list[str], data_dir: str, temp_dir: str
) -> dict[str, tuple[list[str], list[tuple]]]:
    """Run ``__spark_entry__.oracle_sql()[q]`` for each query over the
    generated ``lineitem`` table: ``{q: (columns, rows)}``."""
    import os

    import duckdb

    import __spark_entry__ as entry

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    # Only the graph oracles are used; the documents table they do not
    # read is not generated, so stub the one oracle builder that reads it.
    saved = entry._mixture_quotas
    entry._mixture_quotas = lambda _sf: {g: 0 for g in entry.MIXTURE_TARGETS}
    try:
        sql = entry.oracle_sql()
    finally:
        entry._mixture_quotas = saved
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{temp_dir}'")
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{data_dir}/lineitem.parquet')"
        )
        out = {}
        for q in queries:
            if q not in sql:
                raise RuntimeError(f"no DuckDB oracle for {q}")
            rel = con.sql(sql[q])
            out[q] = (list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()
