"""Connected components via alternating small-star / large-star.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SOCC'14) — the
extension mandated by BASELINE.json.north_star. Not present in the C
reference (SURVEY.md §2.3); built on the same partitioned edge-table
substrate as PageRank.

The input is read ONCE: one checkpointed distinct of unordered pairs
(self-loops kept, so a vertex whose only edge is a self-loop stays in
the vertex set) yields both the vertex set and the simple edge set.

Each round is two bounded shuffles (a groupBy-min per star operation,
expressed as aggregate + re-join so Catalyst plans partial hash
aggregates). Edges monotonically contract toward stars rooted at each
component's minimum id; convergence (edge set unchanged) is detected
with a count, then an order-insensitive xxhash64 checksum only when
the counts agree. Lineage is truncated per round with
``localCheckpoint`` so the plan stays O(1) across iterations.

Hand-off: the star operations preserve the vertex set and the
connectivity, so any intermediate edge set has the same min-id labels
as the input. ``auto`` therefore tests the edge count against
``LOCAL_CC_MAX_E`` before the first round and after every round, and
as soon as the (contracted) edge set fits it is collected once and
finished by a vectorised min-label union-find on the driver.

Semantics: components are those of the UNDIRECTED simple graph
(direction ignored, self-loops and duplicates irrelevant — they never
change connectivity). Output labels are exact: every vertex maps to
the minimum vertex id in its component, so "components match exactly"
(north_rule) is well-defined and partitioning-independent.

Each call logs one record on the ``pagerank_spark`` logger whose
``trace`` attribute is ``{"op", "path", "rounds", "round_edges"}``:
``path`` is ``"local"``, ``"stars"`` or ``"stars→local"``, and
``round_edges`` maps a round (0 = the input's simple edge set, or the
resumed round) to its edge count — ``None`` where nothing was counted.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger("pagerank_spark")


def _large_star(e: DataFrame) -> DataFrame:
    """(v, m) for every neighbor v > u, where m = min(N(u) ∪ {u}).

    ``nbrs`` feeds two consumers (the min-aggregate and the join) and
    is deliberately NOT persisted/pre-partitioned: measured at 10M
    edges, recomputing it into each consumer's own compressed shuffle
    is ~25% faster than building a columnar cache of it per round
    (exchange reuse can't merge the two shuffles — the join branch
    gets IsNotNull pushed beneath its exchange, so the subtrees are
    unequal). LPA's edge table IS persisted — but that one is
    loop-invariant, paying its cache build once, not per round.
    """
    nbrs = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = nbrs.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient u ≥ v; connect all small neighbors (and u) to m = min(N⁻(u) ∪ {u})."""
    oriented = e.where(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    linked = oriented.join(mins, "src")
    out = linked.select(F.col("dst").alias("src"), F.col("m").alias("dst")).union(
        linked.select("src", F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _checksum(e: DataFrame) -> int:
    # bit_xor: order-insensitive, no ANSI overflow (edge set is distinct,
    # so xor-cancellation of duplicates cannot occur).
    row = e.agg(F.bit_xor(F.xxhash64("src", "dst")).alias("h")).collect()[0]
    return int(row["h"] or 0)


def _count(e: DataFrame) -> int:
    return int(e.agg(F.count(F.lit(1)).alias("c")).collect()[0]["c"])


# At or below this many distinct simple edges the graph fits trivially
# on the driver and star rounds are pure job-scheduling overhead
# (~0.4s/job x ~4 jobs/round x rounds); `auto` then runs one collect +
# vectorised union-find with IDENTICAL output labels (min id per
# component) — the same adaptive strategy pagerank's local mode uses.
# The test applies to the input and to every contracted round, so a
# large graph pays Stars rounds only until it shrinks under the cutoff.
# Composed operators (simhash_dedup_near, dedup_near: CC over a
# fingerprint/pair graph) hit this constantly: their graphs are tiny
# even on huge corpora. Cutoff sized in BYTES, not vibes: 250k edge
# pairs = ~4 MB — under the 10 MB build-side norm a broadcast join
# already ships to every executor.
LOCAL_CC_MAX_E = 250_000


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Min-label of each index ``0..n-1`` over the undirected edges
    ``(a[i], b[i])``: ``lab[x]`` is the smallest index connected to x.

    Vectorised hooking + pointer jumping. Invariant: ``lab[x] ≤ x`` and
    ``lab[x]`` is connected to x. Each pass hooks, for every edge still
    joining two trees, the larger root under the smaller one
    (``minimum.at`` keeps the least candidate), then jumps pointers
    until every vertex points at its root; edges inside one tree drop
    out. At the fixpoint a component has one root r with ``lab[r] = r``,
    and its minimum vertex v has ``lab[v] ≤ v`` inside the component,
    so r = v: the labels equal a sequential union-by-min-root.
    """
    lab = np.arange(n)
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            return lab
        a, b, la, lb = a[cross], b[cross], la[cross], lb[cross]
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def _cc_local(spark, pairs: DataFrame) -> DataFrame:
    """Driver union-find over a small ``(src, dst)`` pair set: every
    endpoint is a vertex, self-loops only add their vertex.

    Ids map through the SORTED ``np.unique`` array, so index order ==
    id order and the min-index label is exactly the min id —
    bit-identical to the star-contraction fixpoint.
    """
    import pyarrow as pa

    p = pairs.toPandas()
    ends = np.concatenate(
        [p["src"].to_numpy(dtype=np.int64), p["dst"].to_numpy(dtype=np.int64)]
    )
    ids, idx = np.unique(ends, return_inverse=True)
    lab = _min_labels(idx[: len(p)], idx[len(p):], len(ids))
    return spark.createDataFrame(
        pa.table({"id": pa.array(ids), "component": pa.array(ids[lab])})
    )


def connected_components(
    edges: DataFrame, max_iter: int = 50, mode: str = "auto",
    checkpoint_dir: str | None = None, resume: bool = False,
) -> DataFrame:
    """``DataFrame[id: long, component: long]`` — component = min id in it.

    Every vertex appearing in ``edges`` gets a row (isolated vertices —
    present only via self-loops — label themselves). ``mode``:
    ``"local"`` (driver union-find), ``"stars"`` (star contraction to
    its fixpoint, the reference for the other two) or ``"auto"``: star
    rounds while the edge set has more than LOCAL_CC_MAX_E distinct
    simple edges, then — before the first round or after any later one
    — the driver union-find on the contracted edge set.
    ``checkpoint_dir``/``resume`` give the star-contraction loop the
    same durable restart contract as PageRank (north_rule): per-round
    edge-set parquet + manifest, resumed mid-fixpoint after a crash. A
    hand-off never marks the manifest done, so any later resume (in
    either mode) continues the fixpoint from the persisted round.
    """
    if mode not in ("auto", "local", "stars"):
        raise ValueError("mode must be 'auto', 'local' or 'stars'")
    from pagerank_spark.plans.iterate import iterate

    spark = edges.sparkSession
    pairs = (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    e = pairs.where(F.col("src") != F.col("dst"))
    counts: dict[int, int] = {}
    hashes: dict[int, int] = {}

    def _edges(s: DataFrame, r: int) -> int:
        if r not in counts:
            counts[r] = _count(s)
        return counts[r]

    def _converged(prev: DataFrame, new: DataFrame, r: int) -> bool:
        # edge set unchanged; the contraction shrinks it most rounds,
        # so the count usually decides and each checksum runs at most
        # once per round
        if _edges(new, r) != _edges(prev, r - 1):
            return False
        if r not in hashes:
            hashes[r] = _checksum(new)
        if r - 1 not in hashes:
            hashes[r - 1] = _checksum(prev)
        return hashes[r] == hashes[r - 1]

    def _fits(s: DataFrame, r: int) -> bool:
        return _edges(s, r) <= LOCAL_CC_MAX_E

    rounds, handoff = 0, mode == "local"
    if not handoff:
        e, rounds, done = iterate(
            e,
            lambda s, _r: _small_star(_large_star(s)),
            _converged,
            max_iter,
            warn=(
                f"connected_components: edge-set signature did not stabilize "
                f"within max_iter={max_iter} rounds; labels may not be final "
                "(a non-converged edge set is not a star forest)"
            ),
            checkpoint_dir=checkpoint_dir,
            resume=resume,
            stop=_fits if mode == "auto" else None,
        )
        handoff = mode == "auto" and not done and _fits(e, rounds)
    if handoff:
        path = "stars→local" if rounds else "local"
        # a contracted edge set keeps every non-isolated vertex; the
        # self-loop pairs bring back the isolated ones
        labels = _cc_local(
            spark, e.union(pairs.where(F.col("src") == F.col("dst")))
        )
    else:
        path = "stars"
        # Converged edge set is a star forest: (u → component root).
        # Roots and isolated vertices label themselves via the left join.
        vertices = (
            pairs.select(F.col("src").alias("id"))
            .union(pairs.select(F.col("dst").alias("id")))
            .distinct()
        )
        labels = vertices.join(
            e.select(F.col("src").alias("id"), F.col("dst").alias("component")),
            "id",
            "left",
        ).select("id", F.coalesce("component", "id").alias("component"))
    trace = {
        "op": "connected_components",
        "path": path,
        "rounds": rounds,
        "round_edges": dict(sorted(counts.items())) or None,
    }
    _log.info("connected_components %s", trace, extra={"trace": trace})
    return labels


def incremental_components(
    labels: DataFrame,
    new_edges: DataFrame,
    max_iter: int = 50,
    mode: str = "auto",
) -> DataFrame:
    """Connected components of ``old graph ∪ new_edges`` WITHOUT the
    old graph — ``DataFrame[id, component]`` covering every previously
    labeled vertex plus every endpoint of ``new_edges``.

    The daily-delta pattern for a continuously crawled link graph
    (the 100 TB companion of ``pagerank(init_ranks=...)`` warm
    starts): a prior :func:`connected_components` run summarizes the
    old graph's ENTIRE connectivity in its label table (vertices u, v
    are connected iff label(u) = label(v)), so edge additions never
    need the old edges re-read — CC runs on the CONTRACTED delta
    (new edges mapped endpoint→old label), which is |Δ|-sized, not
    graph-sized. Deletions are NOT supported (they can split a
    component, which labels alone cannot detect — that is a full
    recompute, or decremental machinery this engine does not carry).

    Exactness: the min-id label convention composes — the contracted
    CC's labels are mins over member contracted ids, each of which is
    already the min vertex id of its old component (or a raw
    previously-unseen vertex id), so the composed label is the min
    vertex id of the MERGED component: bit-identical to a full rerun
    on the union graph (pinned by the ``incremental_cc`` gate, whose
    oracle runs full CC on the union).

    Shape: one O(Δ) label join (broadcast when the delta's endpoint
    set is small), CC on the contracted |Δ|-edge graph, one O(V)
    compose join back onto the label table. Old labels move through
    ONE hash join; old edges move nowhere.
    """
    lab = labels.select(
        "id", F.col(labels.columns[1]).alias("component")
    ).localCheckpoint()
    delta = (
        new_edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    # endpoint -> old component (previously unseen endpoints keep
    # their own id — they are singleton "old components")
    contracted = (
        delta.join(
            lab.select(F.col("id").alias("src"), F.col("component").alias("_cs")),
            "src",
            "left",
        )
        .join(
            lab.select(F.col("id").alias("dst"), F.col("component").alias("_cd")),
            "dst",
            "left",
        )
        .select(
            F.coalesce("_cs", "src").alias("src"),
            F.coalesce("_cd", "dst").alias("dst"),
        )
    )
    merged = connected_components(contracted, max_iter=max_iter, mode=mode)
    # compose: every old vertex re-points through its component's new
    # label; components untouched by the delta keep theirs (left join)
    relabel = merged.select(
        F.col("id").alias("component"), F.col("component").alias("_nc")
    )
    old = lab.join(relabel, "component", "left").select(
        "id", F.coalesce("_nc", "component").alias("component")
    )
    # delta endpoints not previously labeled enter the vertex set
    new_v = (
        delta.select(F.col("src").alias("id"))
        .union(delta.select(F.col("dst").alias("id")))
        .distinct()
        .join(lab.select("id"), "id", "left_anti")
    )
    fresh = new_v.join(merged, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )
    return old.unionByName(fresh)


def attack_tolerance(
    edges: DataFrame,
    fractions: tuple[float, ...] = (0.0, 0.05, 0.1),
    max_iter: int = 50,
    mode: str = "auto",
    order: str = "degree",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Targeted-attack robustness curve (Albert, Jeong & Barabási,
    "Error and attack tolerance of complex networks", Nature 2000) —
    for each fraction f: remove the top ``floor(f·V)`` vertices under
    the deterministic (simple degree DESC, id ASC) order, then report
    the surviving graph's fragmentation. One row per fraction:
    ``DataFrame[fraction, n_removed, n_left, n_components,
    giant_size]`` (singleton survivors count as components; at f=0.0
    the row is the baseline connectivity).

    ``order="hash"`` is the paper's RANDOM-FAILURE contrast, made
    deterministic the engine's usual way: removal order is
    (hash64(id) ASC, id ASC) — degree-blind, replayable across
    engines and reruns; ``hash_fn="md5"`` uses the portable hash so a
    DuckDB oracle recomputes the identical order. The attack/failure
    GAP is the scale-free signature: the web shatters under the
    former and shrugs off the latter.

    The standard resilience diagnostic for a link graph: scale-free
    webs survive random failure but shatter under hub-targeted attack
    — exactly the curve a crawler/CDN planner reads. Vertex semantics:
    the vertex set is the ORIGINAL graph's; survivors isolated by the
    removal stay as singleton components.

    Shape: one degree pass; per fraction one broadcast semi-join
    filter (the removed set is f·V ids) + a :func:`connected_
    components` run on the shrunken edge set + an O(V) fold. The
    driver-side loop is over len(fractions) values — each fraction is
    an independent bounded job, not an iteration. The top-k removal
    compiles to a ``TakeOrderedAndProject`` heap and the removed set
    broadcasts, so fractions are priced for the SMALL f·V regime the
    attack literature probes (up to ~10⁷ removed ids); for removing a
    constant fraction of a 10¹²-vertex graph, switch to a degree-
    threshold predicate (approx_percentile on the degree histogram)
    instead of exact rank order.
    """
    fr = sorted(set(float(f) for f in fractions))
    if not fr or fr[0] < 0.0 or fr[-1] >= 1.0:
        raise ValueError("fractions must be in [0, 1)")
    if order not in ("degree", "hash"):
        raise ValueError("order must be 'degree' or 'hash'")
    from pagerank_spark.functions.text import hash64
    from pagerank_spark.operators.triangles import (
        _simple_degrees,
        _simple_undirected,
    )

    spark = edges.sparkSession
    simple = _simple_undirected(edges).localCheckpoint()
    deg = _simple_degrees(simple).localCheckpoint()
    n_v = deg.count()
    if order == "degree":
        ranked = deg.orderBy(F.desc("deg"), F.asc("id")).select("id")
    else:
        ranked = deg.orderBy(
            F.asc(hash64(F.col("id").cast("string"), hash_fn)), F.asc("id")
        ).select("id")
    out = None
    for f in fr:
        k = int(f * n_v)
        removed = ranked.limit(k).localCheckpoint()
        surv_e = simple.join(
            F.broadcast(removed).withColumnRenamed("id", "a"), "a", "left_anti"
        ).join(
            F.broadcast(removed).withColumnRenamed("id", "b"), "b", "left_anti"
        )
        surv_v = deg.select("id").join(
            F.broadcast(removed), "id", "left_anti"
        )
        comp = connected_components(
            surv_e.select(F.col("a").alias("src"), F.col("b").alias("dst")),
            max_iter=max_iter,
            mode=mode,
        )
        lab = surv_v.join(comp, "id", "left").select(
            "id", F.coalesce("component", "id").alias("component")
        )
        sizes = lab.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
        row = sizes.agg(
            F.lit(float(f)).alias("fraction"),
            F.lit(k).cast("long").alias("n_removed"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_left"),
            F.count(F.lit(1)).alias("n_components"),
            F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("giant_size"),
        )
        out = row if out is None else out.unionByName(row)
    return out
