"""The benchmark's workloads: seeded inputs, oracle-checked operator calls.

Each workload is a list of operator calls (``Op``) made in order in one
pass; a pass shares its state (``ctx``) between calls, so R-MAT's edges
are read once and fed to PageRank and CC. Every call returns its output
materialised on the driver, and ``check`` compares it with an oracle
computed before any timing: ``None`` when it matches, else the reason.

``SIZES`` holds the generated input sizes; ``SIZES_TINY`` the ones the
self-test uses. Why each workload exists, and which cut-off it is built
to cross, is in ``perfbench/README.md``; ``guards`` re-checks the
cut-offs against the engine's current constants on every run.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from perfbench import data, oracles

SIZES = {
    # ~271k distinct simple edges > LOCAL_CC_MAX_E: CC takes the Stars
    # path. PageRank asks for the blocks path explicitly: auto picks it
    # only above 1M vertices or 2M edges, which costs more per run than
    # the benchmark's time budget allows.
    "rmat_large": {"scale": 17, "edges": 280_000},
    # lineitem rows (20k parts, 1k suppliers, as at sf0.1): the
    # fixpoint queries read the sf0.1 row count, triangle_count and
    # k_truss a sixth of it (~55% of all vertex pairs are edges)
    "canonical_fixpoints": {"rows": 600_000, "triangle_rows": 100_000},
}
SIZES_TINY = {
    "rmat_large": {"scale": 10, "edges": 4_000},
    "canonical_fixpoints": {"rows": 6_000, "triangle_rows": 3_000},
}

CANONICAL_QUERIES = {
    "pagerank": "pagerank_converged",
    "cc": "connected_components",
    "lpa": "label_propagation",
    "msf": "min_spanning_forest",
    "matching": "matching_md5",
    "hitting_time": "hitting_time",
}


@dataclass
class Op:
    name: str
    run: Callable  # (spark, ctx) -> output materialised on the driver
    check: Callable | None  # output -> None | reason


@dataclass
class Workload:
    name: str
    ops: list[Op]
    stats: dict
    oracle: dict
    # (description, holds) pairs: the code path each cut-off should select
    guards: list[tuple[str, bool]] = field(default_factory=list)
    # the same, observed from a pass's shared state after the pass
    observed: Callable | None = None


def prepare(name: str, seed: int, work: str, sizes: dict | None = None) -> Workload:
    size = (sizes or SIZES)[name]
    os.makedirs(os.path.join(work, "data"), exist_ok=True)
    return {
        "rmat_large": _rmat_large,
        "canonical_fixpoints": _canonical_fixpoints,
    }[name](seed, work, size)


def _rmat_large(seed: int, work: str, size: dict) -> Workload:
    from pagerank_spark.operators import components

    src, dst = data.rmat(seed, size["scale"], size["edges"])
    n = 1 << size["scale"]
    path = os.path.join(work, "data", "rmat.txt")
    data.write_snap(path, src, dst, n)
    sa, _sb = data.simple_undirected(src, dst)
    ranks, iters = oracles.pagerank(src, dst, n)
    cc_ids, cc_comp = oracles.min_label_components(src, dst)
    w = Workload(
        "rmat_large", [], oracle={
            "ranks": ranks, "iterations": iters,
            "cc_ids": cc_ids, "cc_comp": cc_comp,
        },
        stats={
            "vertices": n, "edges": len(src), "simple_edges": len(sa),
            "pagerank_iterations": iters,
        },
    )
    w.guards = [
        (f"cc Stars path: {len(sa)} simple edges > "
         f"LOCAL_CC_MAX_E={components.LOCAL_CC_MAX_E}",
         len(sa) > components.LOCAL_CC_MAX_E),
    ]

    def read(spark, ctx):
        from pagerank_spark.sources import snap

        ctx["edges"], ctx["n"], _e = snap.read_snap_edges(spark, path)
        return ctx["n"]

    def pagerank(spark, ctx):
        from pagerank_spark.operators import pagerank as mod

        res = mod.pagerank(ctx["edges"], n=ctx["n"], mode="blocks")
        ctx["pagerank_blocks"] = bool(res.partition_lineage.get("block_dir"))
        pdf = res.ranks.toPandas()
        return res, pdf

    def check_pagerank(out):
        res, pdf = out
        if res.iterations != w.oracle["iterations"]:
            return f"{res.iterations} iterations != {w.oracle['iterations']}"
        got = np.zeros(n)
        got[pdf["id"].to_numpy()] = pdf["rank"].to_numpy()
        if len(pdf) != n or not np.allclose(got, w.oracle["ranks"], rtol=1e-9, atol=1e-15):
            return "ranks differ from the NumPy replay"
        return None

    def cc(spark, ctx):
        from pagerank_spark.operators import components as mod

        return mod.connected_components(ctx["edges"]).toPandas()

    def check_cc(pdf):
        pdf = pdf.sort_values("id")
        if not (
            np.array_equal(pdf["id"].to_numpy(), w.oracle["cc_ids"])
            and np.array_equal(pdf["component"].to_numpy(), w.oracle["cc_comp"])
        ):
            return "component labels differ from the NumPy min-label oracle"
        return None

    w.observed = lambda ctx: [
        ("pagerank took the blocks path (observed)",
         ctx.get("pagerank_blocks", False)),
    ]
    w.ops = [
        Op("read", read, None),
        Op("pagerank", pagerank, check_pagerank),
        Op("cc", cc, check_cc),
    ]
    return w


def _lineitem(seed: int, work: str, name: str, rows: int, stream: int) -> str:
    """Write a sf0.1-shaped lineitem table of ``rows`` rows to its own
    directory (the queries read ``<dir>/lineitem.parquet``)."""
    data_dir = os.path.join(work, "data", name)
    os.makedirs(data_dir, exist_ok=True)
    data.write_lineitem(
        os.path.join(data_dir, "lineitem.parquet"), seed, stream, rows,
        parts=20_000, supps=1_000,
    )
    return data_dir


def _query_op(op: str, query: str, data_dir: str, oracle: dict) -> Op:
    def run(spark, _ctx):
        import __spark_entry__ as entry

        df = entry.queries()[query](spark, data_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def check(out):
        cols, rows = oracle[query]
        return oracles.compare_rows(out[0], out[1], cols, rows)

    return Op(op, run, check)


def _canonical_fixpoints(seed: int, work: str, size: dict) -> Workload:
    import __spark_entry__ as entry
    from pagerank_spark.operators import components, pagerank as pr_mod

    fix_dir = _lineitem(seed, work, "fixpoints", size["rows"], 1)
    src, dst = data.canonical_edges(os.path.join(fix_dir, "lineitem.parquet"))
    sa, _sb = data.simple_undirected(src, dst)
    n = int(max(src.max(), dst.max())) + 1
    oracle = oracles.duckdb_oracles(
        list(CANONICAL_QUERIES.values()), fix_dir, os.path.join(work, "tmp")
    )

    tri_dir = _lineitem(seed, work, "triangles", size["triangle_rows"], 2)
    ta, tb = data.simple_undirected(*data.canonical_edges(
        os.path.join(tri_dir, "lineitem.parquet")))
    oracle["triangle_count"] = (
        ["triangles"], [(oracles.triangle_total(ta, tb, 500),)])
    oracle["k_truss_edges"] = oracles.k_truss(ta, tb, 500, entry.TRUSS_K)

    stats = {
        "vertices": n, "edges": len(src), "simple_edges": len(sa),
        "triangle_graph_edges": size["triangle_rows"],
        "triangle_graph_simple_edges": len(ta),
        "triangles": oracle["triangle_count"][1][0][0],
        "truss_edges": len(oracle["k_truss_edges"]),
    }
    guards = [
        (f"pagerank local path: n={n} <= LOCAL_MAX_N={pr_mod.LOCAL_MAX_N} "
         f"and e={len(src)} <= LOCAL_MAX_E={pr_mod.LOCAL_MAX_E}",
         n <= pr_mod.LOCAL_MAX_N and len(src) <= pr_mod.LOCAL_MAX_E),
        (f"cc local path: {len(sa)} simple edges <= "
         f"LOCAL_CC_MAX_E={components.LOCAL_CC_MAX_E}",
         len(sa) <= components.LOCAL_CC_MAX_E),
    ]

    def k_truss(spark, _ctx):
        return {
            (int(r["a"]), int(r["b"]))
            for r in entry.queries()["k_truss"](spark, tri_dir).collect()
        }

    def check_k_truss(edges):
        want = oracle["k_truss_edges"]
        if edges != want:
            return (
                f"{len(edges)} truss edges != {len(want)}; "
                f"{len(edges ^ want)} differ"
            )
        return None

    ops = [
        _query_op(op, q, fix_dir, oracle) for op, q in CANONICAL_QUERIES.items()
    ] + [
        _query_op("triangle", "triangle_count", tri_dir, oracle),
        Op("k_truss", k_truss, check_k_truss),
    ]
    return Workload("canonical_fixpoints", ops, stats, oracle, guards)
