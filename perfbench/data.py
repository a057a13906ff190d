"""Seeded inputs for the benchmark workloads.

Every input is generated from the benchmark's ``--seed`` with NumPy and
written as a file the engine then reads, so the engine only ever sees
the generated data: a parquet table with the two ``lineitem`` columns
the canonical-graph queries of ``__spark_entry__`` use, and an R-MAT
graph in the SNAP text format that ``read_snap_edges`` parses.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_lineitem(
    path: str, seed: int, stream: int, rows: int, parts: int, supps: int
) -> None:
    """``l_partkey`` uniform in [0, parts) and ``l_suppkey`` uniform in
    [0, supps), independent: the shape of the generated TPC-H-like
    lineitem table (sf0.1 is 600k rows, 20k parts, 1k suppliers).
    ``stream`` separates tables drawn from one seed."""
    rng = np.random.default_rng([seed, stream])
    pq.write_table(
        pa.table({
            "l_partkey": rng.integers(0, parts, rows, dtype=np.int64),
            "l_suppkey": rng.integers(0, supps, rows, dtype=np.int64),
        }),
        path,
    )


def canonical_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    """The canonical 500-vertex multigraph of ``__spark_entry__``
    (``src = l_partkey % 500``, ``dst = (7 l_partkey + l_suppkey) % 500``)."""
    t = pq.read_table(path, columns=["l_partkey", "l_suppkey"])
    p = t["l_partkey"].to_numpy()
    s = t["l_suppkey"].to_numpy()
    return p % 500, (p * 7 + s) % 500


def rmat(
    seed: int, scale: int, n_edges: int,
    a: float = 0.57, b: float = 0.19, c: float = 0.19,
) -> tuple[np.ndarray, np.ndarray]:
    """``n_edges`` R-MAT edges over 2^scale vertices (Graph500
    quadrant probabilities by default). Self-loops and parallel edges
    are kept, as the model produces them."""
    rng = np.random.default_rng([seed, 0])
    src = np.zeros(n_edges, dtype=np.int64)
    dst = np.zeros(n_edges, dtype=np.int64)
    for _ in range(scale):
        u = rng.random(n_edges)
        src = src * 2 + (u >= a + b)
        dst = dst * 2 + (((u >= a) & (u < a + b)) | (u >= a + b + c))
    return src, dst


def write_snap(path: str, src: np.ndarray, dst: np.ndarray, n: int) -> None:
    """SNAP edge list: ``#`` header with ``Nodes: n Edges: e``, then one
    tab-separated ``src dst`` pair per line (0-based ids)."""
    body = np.char.add(
        np.char.add(src.astype(str), "\t"), dst.astype(str)
    )
    with open(path, "w") as f:
        f.write(f"# R-MAT graph\n# Nodes: {n} Edges: {len(src)}\n")
        f.write("\n".join(body.tolist()))
        f.write("\n")


def simple_undirected(
    src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Distinct ``(a, b)`` pairs with ``a < b``: the simple undirected
    projection (self-loops and parallel edges dropped)."""
    keep = src != dst
    a = np.minimum(src[keep], dst[keep])
    b = np.maximum(src[keep], dst[keep])
    width = int(b.max()) + 1 if len(b) else 1
    key = np.unique(a * width + b)
    return key // width, key % width
