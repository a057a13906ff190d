"""Property-based tests (hypothesis) — SURVEY.md §5.2 item 2.

Random small graphs against the independent NumPy/union-find oracles;
invariants that must hold for EVERY graph, not just the fixtures.
Example counts kept small: each example builds Spark DataFrames.
"""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pagerank_spark import connected_components, pagerank

graphs = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=1,
    max_size=40,
)

SET = settings(
    max_examples=12,
    deadline=None,
    derandomize=True,  # same examples every run: no CI-only surprises
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def numpy_pagerank(n, edges, d=0.85, eps=1e-4, dangling="redistribute"):
    out = np.zeros(n)
    for s, _ in edges:
        out[s] += 1
    rank = np.full(n, 1.0 / n)
    for _ in range(2000):
        new = np.full(n, (1 - d) / n)
        if dangling == "redistribute":
            new += d * rank[out == 0].sum() / n
        for s, t in edges:
            new[t] += d / out[s] * rank[s]
        res = np.abs(new - rank).sum()
        rank = new
        if res <= eps:
            break
    return rank


@given(pairs=graphs)
@SET
def test_pagerank_matches_numpy_oracle(spark, pairs):
    n = 15
    e = spark.createDataFrame(pairs, "src long, dst long")
    res = pagerank(e, n=n, dangling="redistribute", mode="local")
    got = np.zeros(n)
    for r in res.ranks.collect():
        got[r["id"]] = r["rank"]
    np.testing.assert_allclose(got, numpy_pagerank(n, pairs), atol=1e-9)
    # invariants: mass conserved, teleport floor
    assert abs(got.sum() - 1.0) < 1e-9
    assert (got >= (1 - 0.85) / n - 1e-12).all()


@given(pairs=graphs)
@SET
def test_pagerank_leak_mass_monotone(spark, pairs):
    n = 15
    e = spark.createDataFrame(pairs, "src long, dst long")
    res = pagerank(e, n=n, dangling="leak", mode="local")
    total = sum(r["rank"] for r in res.ranks.collect())
    # leak mode: sum can only stay at or below 1 (mass leaks, never grows)
    assert total <= 1.0 + 1e-9


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for x in list(parent):
        comp.setdefault(find(x), []).append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@given(pairs=st.lists(
    st.tuples(st.integers(0, 59), st.integers(0, 59)), max_size=150))
@settings(max_examples=200, deadline=None, derandomize=True)
def test_min_labels_matches_union_find(pairs):
    """The driver path's vectorised hooking + pointer jumping gives the
    sequential union-by-min-root labels (no Spark: many examples)."""
    from pagerank_spark.operators.components import _min_labels

    a = np.array([p[0] for p in pairs], dtype=np.int64)
    b = np.array([p[1] for p in pairs], dtype=np.int64)
    lab = _min_labels(a, b, 60)
    want = _union_find(pairs)
    assert {x: int(lab[x]) for x in want} == want
    assert all(lab[x] == x for x in range(60) if x not in want)


@given(pairs=graphs)
@SET
def test_cc_matches_union_find(spark, pairs):
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(e).collect()}
    want = _union_find(pairs)
    # self-loop-only vertices label themselves in both
    for a, b in pairs:
        if a == b:
            want.setdefault(a, a)
    assert got == want


@given(pairs=graphs)
@SET
def test_contract_preserves_weight_and_truss_within_core(spark, pairs):
    """Invariants for every graph: (1) contraction preserves total edge
    multiplicity under ANY labeling; (2) the k-truss edge set is
    contained in the (k-1)-core's induced edges; (3) assortativity,
    when defined, lies in [-1, 1]."""
    from pagerank_spark.operators.cooccur import contract_graph
    from pagerank_spark.operators.cores import k_core, k_truss
    from pagerank_spark.operators.degrees import degree_assortativity

    e = spark.createDataFrame(pairs, "src long, dst long")
    ids = sorted({x for p in pairs for x in p})
    labels = spark.createDataFrame(
        [(v, v % 3) for v in ids], "id long, label long"
    )
    total = (
        contract_graph(e, labels)
        .agg({"weight": "sum"}).collect()[0][0]
    )
    assert total == len(pairs)

    truss = {(r["a"], r["b"]) for r in k_truss(e, 4).collect()}
    core = {r["id"] for r in k_core(e, 3).collect()}
    assert all(a in core and b in core for a, b in truss)

    r = degree_assortativity(e).collect()[0]["assortativity"]
    assert r is None or -1.0 - 1e-12 <= r <= 1.0 + 1e-12
