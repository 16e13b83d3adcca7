"""Distributed connected components over an edge list — the cluster
step of a near-duplicate pipeline (pairs → duplicate GROUPS, transitive).

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame joins and aggregations:

- large-star: every node points its LARGER neighbors at its current
  minimum neighbor (or itself) — ``(v, min(N(v) ∪ {v}))`` for u > v's
  min; keeps the graph's components while shrinking tall stars.
- small-star: every node points itself and its smaller neighbors at the
  minimum — collapsing chains toward the component minimum.

Each round is two self-groupBys + a filter; convergence (no edge
changed) is checked with one count. The label of a component is its
SMALLEST node id — deterministic and stable under re-runs. Rounds are
O(log n) for real graphs; lineage is cut per round.

Scale: edges shuffle by node id only (two longs per row), never
payloads; the iteration count is logarithmic in the largest component's
diameter, and near-dup graphs are shallow (dup clusters are cliques or
near-cliques from the pair generator), so 2-4 rounds is typical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sym(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """Symmetrize + strip loops: both directions of every edge.

    ``dedup=False`` skips the distinct exchange — valid ONLY when the
    caller proves the symmetrized union is already duplicate-free (a
    consistently ORDERED unique pair list: src < dst for every row, so
    fwd and rev cannot collide). The per-round syms inside the star loop
    always dedup: the distinct there is the CONTRACTION that collapses
    ``(v, min)×degree`` duplicate rows after a star round — dropping it
    would carry |E| rows per round instead of shrinking toward |V|,
    a scale-killer on duplicate-heavy graphs."""
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    out = fwd.unionByName(rev).filter(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def _contract_local(g: DataFrame) -> DataFrame:
    """Partition-local contraction (the Kiveris et al. §6 optimization):
    each partition replaces its edge set by a spanning STAR onto the
    partition-local minimum via an in-memory union-find — connectivity
    is preserved (same node set, same reachability through shared
    nodes), but long paths collapse to depth 1 wherever they are
    co-located, so the global star rounds start from a graph whose
    diameter is the number of PARTITIONS a component spans, not its
    node count. State is bounded by the partition (never the graph):
    the union-find holds one parent per node seen in this partition."""

    def contract(batches):
        import pandas as pd

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        out_u, out_v = [], []
        for n in parent:
            r = find(n)
            if r != n:
                out_u.append(n)
                out_v.append(r)
        yield pd.DataFrame(
            {"u": pd.array(out_u, dtype="int64"), "v": pd.array(out_v, dtype="int64")}
        )

    return g.mapInPandas(contract, "u long, v long")


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_rounds: int = 20,
    local_contract: bool = True,
    assume_distinct_edges: bool = False,
) -> DataFrame:
    """(node, component) for every node in ``edges`` — component = the
    smallest node id reachable from it. Isolated nodes don't appear
    (callers left-join and coalesce to the node's own id).

    ``local_contract`` runs the partition-local union-find pre-pass
    first (see :func:`_contract_local`): one narrow map over the edges
    typically cuts the global round count from ~log(diameter) to 2-3,
    which matters because every round is several shuffles. Off switches
    to the pure-join paper form (audits / zero-Python deployments).

    ``assume_distinct_edges=True`` skips the INPUT symmetrization's
    distinct exchange — a caller contract that the edge list is unique
    and consistently ordered (src < dst per row, as every in-repo
    generator emits), so fwd ∪ rev cannot collide. With
    ``local_contract`` the symmetrized input is the CONTRACTED star
    list, which can still carry rare duplicates (the same node→root
    star emitted from two partitions holding the same pair) — labels
    are identical either way because every consumer of the graph is a
    min/max aggregation, so the knob trades at most those few duplicate
    rows for deleting a full-edge-list shuffle. The per-round distincts
    are NOT affected (see :func:`_sym` — they are the contraction at
    scale).
    """
    raw = edges.select(
        F.col(src_col).cast("long").alias("u"), F.col(dst_col).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v"))
    if local_contract:
        # contract on the INPUT partitioning — upstream operators that
        # grouped by entity (windows, groupBys) already co-located each
        # component's edges, and the union-find is direction-agnostic,
        # so contracting before the _sym/distinct shuffle (which would
        # scatter edges by (u,v) hash) is what collapses whole chains.
        raw = _contract_local(raw)
    # lazy checkpoint: the fixpoint-test job below is always the first
    # consumer and materializes it — an eager checkpoint here would be
    # one extra driver-blocking job per call for the same work
    # (optimization round 11; the happy-path return reuses the
    # checkpointed RDD in the caller's final action)
    g = _sym(
        raw.select(F.col("u").alias("src"), F.col("v").alias("dst")),
        dedup=not assume_distinct_edges,
    ).localCheckpoint(eager=False)

    for _ in range(max_rounds):
        # Fixpoint test BEFORE building the round: g is a disjoint
        # min-rooted star forest iff every edge's smaller endpoint is
        # its own min AND the larger endpoint's min. (Checking only
        # "v==m(u) or u==m(v)" is NOT enough — a path a-b-c satisfies
        # it while not being a fixpoint.) Testing the CURRENT graph
        # instead of diffing g_new vs g saves the entire final
        # large+small+checkpoint round once the input is already
        # star-shaped — which the local-contraction pre-pass makes the
        # common case.
        #
        # ONE-aggregation form (optimization round 12; replaces the
        # m-join test, whose plan carried an aggregation plus two joins
        # = three exchanges per round): per node, (max v, min and max of
        # SMALLER neighbors). Edge-consistency equivalent —
        # a node is bad iff it has both a smaller and a larger neighbor
        # (some edge needs its min to be itself while another forces it
        # lower), or two DISTINCT smaller neighbors (the larger
        # endpoint's min cannot equal both). Same rows either way;
        # measured −6 jobs on dedup_group_keep at sf0.1.
        smaller = F.when(F.col("v") < F.col("u"), F.col("v"))
        stars = g.groupBy("u").agg(
            F.max("v").alias("mx"),
            F.min(smaller).alias("mns"),
            F.max(smaller).alias("mxs"),
        )
        bad = (
            stars.filter(
                (F.col("mns").isNotNull() & (F.col("mx") > F.col("u")))
                | (F.col("mns") != F.col("mxs"))
            )
            .limit(1)
            .count()
        )
        if bad == 0:
            # star forest: per-node min IS the label table (roots keep
            # themselves via least) — identical rows to the old m table
            return g.groupBy("u").agg(F.min("v").alias("m")).select(
                F.col("u").alias("node"),
                F.least("u", "m").alias("component"),
            )
        # large-star: for each u, attach neighbors v > u's min to m(u)
        m = g.groupBy("u").agg(F.min("v").alias("m"))
        m = m.select("u", F.least("u", "m").alias("m"))
        large = (
            g.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        g2 = _sym(large.select(F.col("u").alias("src"), F.col("v").alias("dst")))
        # small-star: for each u, attach u and its smaller neighbors to min
        m2 = g2.groupBy("u").agg(F.min("v").alias("m"))
        m2 = m2.select("u", F.least("u", "m").alias("m"))
        small = (
            g2.join(m2, "u")
            .filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
        )
        # lazy for the same reason as the initial checkpoint: the next
        # round's fixpoint-test job materializes it
        g = _sym(small.select(F.col("u").alias("src"), F.col("v").alias("dst"))).localCheckpoint(
            eager=False
        )

    # max_rounds exhausted without hitting the star-forest fixpoint:
    # emit labels from the current graph (best effort, same as before)
    labels = g.groupBy("u").agg(F.min("v").alias("component"))
    return labels.select(
        F.col("u").alias("node"),
        F.least("u", "component").alias("component"),
    )


def duplicate_groups(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → transitive duplicate groups:
    (doc_id, group_id, is_keeper) where group_id is the smallest member
    and exactly that member has ``is_keeper`` true — the row set a dedup
    pass needs to drop everything else."""
    comp = connected_components(pairs, src_col, dst_col)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("group_id"),
        (F.col("node") == F.col("component")).alias("is_keeper"),
    )


def pagerank_e8(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
    damping_pct: int = 85,
    node_col: str = "node",
) -> DataFrame:
    """Weighted PageRank over an edge list, in pure int64 e8 fixed point
    so ranks are bit-identical across engines, runs, and partitionings
    (no float summation-order hazard — the repo's kmeans_fixedpoint
    convention applied to the power iteration).

    ``edges``: (src, dst, weight) with positive integer weights;
    ``nodes``: one row per node id (isolated nodes rank at the base).
    Per iteration each node sends ``(rank_e8 * w) div wout`` along every
    out-edge (truncating integer division, identical in Spark ``div``
    and DuckDB ``//`` for non-negative operands) and collects
    ``base + (damping_pct * Σ in-contrib) div 100``; dangling nodes'
    mass simply evaporates (the no-redistribution variant — documented,
    deterministic, and the common formulation for link-graph sketches).

    Scale: the edge table shuffles by src once per iteration (join with
    the 1-row-per-node rank table) and aggregates by dst — the standard
    Pregel-free DataFrame PageRank; ranks are narrow (node, long) and no
    driver collect happens at any size. Lineage is cut every
    ``checkpoint_every`` iterations, NOT every iteration: for shallow
    fixed loops Catalyst's ReusedExchange serves the repeated edge
    subtree from one shuffle and the plan stays cheap, while measured
    per-iteration localCheckpoints cost ~1-2s each in RDD conversion —
    4x the entire 3-iteration query. Deep loops still get periodic cuts
    so the plan can't grow unboundedly.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0, 100), got {damping_pct}")
    checkpoint_every = 8
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank needs a non-empty node set")
    e8 = 10**8
    base = (100 - damping_pct) * e8 // (100 * n_nodes)
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("wout"))
    ew = edges.join(out_w, "src")
    ranks = nodes.select(
        F.col(node_col).alias("node"), F.lit(e8 // n_nodes).cast("long").alias("rank_e8")
    )
    for i in range(n_iter):
        contrib = ew.join(ranks, ew["src"] == ranks["node"]).select(
            F.col("dst").alias("node"),
            F.expr("(rank_e8 * weight) div wout").alias("c"),
        )
        agg = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.select(F.col(node_col).alias("node"))
            .join(agg, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
                ).cast("long").alias("rank_e8"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_counts(
    edges: DataFrame,
    src_col: str = "u",
    dst_col: str = "v",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list — the
    clustering-coefficient numerator (community structure, spam-ring /
    link-farm detection on web graphs).

    Input edges are canonicalized to ``u < v`` and deduplicated; a
    triangle (a < b < c) is found exactly once by the two-join chain
    e(a,b) ⋈ e(b,c) ⋈ e(a,c), then each corner node is credited via an
    explode. Shuffles are equi-joins on node ids — output ∝ wedges
    closed, never |V|².

    Scale note: the id-orientation used here keeps the oracle
    replayable; at web scale orient edges low-degree → high-degree
    instead (same triangle set, wedge work bounded by Σ min-degree²,
    the standard skew fix) — a one-line change of the ordering key."""
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


def bounded_closure(
    edges: DataFrame,
    roots: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    root_col: str = "root",
) -> DataFrame:
    """Bounded transitive closure by pointer DOUBLING: every (node, root,
    hop) reachable from ``roots`` in at most ``max_hops`` edge steps —
    the same rows SQL's ``WITH RECURSIVE ... WHERE hop < max_hops``
    emits (equivalence pinned against Spark 4's native recursive CTE in
    tests/test_components.py).

    Why not the native recursive CTE: its executor materializes each of
    the max_hops+1 recursion levels as a separate job, so the
    per-level scheduling floor dominates bounded walks (measured at
    sf0.1: 3.87s native vs 1.71s here — SCALING.md round-5 note). This
    form squares the jump table (stride 1, 2, 4, ...) and extends the
    frontier once per stride, so the whole closure is ceil(log2 d)+d'
    joins inside ONE lazy Catalyst plan — one job, AQE across all
    levels, and at 100 TB the sequential depth grows with log(max_hops)
    instead of max_hops. Deliberately NOT checkpointed between strides:
    the jump tables are narrow two-column frames and re-deriving them
    measured cheaper than materializing (2.10s checkpointed vs 1.71s
    lazy at sf0.1); at cluster scale persist the stride tables when |E|
    makes recomputation dominate.

    CAVEAT (dense/cyclic graphs): the jump table is GLOBAL — jump_s
    holds one row per length-s path between ALL node pairs, with bag
    semantics, regardless of whether either endpoint is reachable from
    ``roots``. On high-fanout or cyclic graphs the squares multiply
    path counts combinatorially and jump_s can dwarf what the per-hop
    frontier (or the native recursive CTE) ever touches. Right for
    bounded walks over sparse event/lineage chains (the shipped use);
    when roots are selective on a dense graph, semi-join ``jump`` to
    the reachable frontier before each squaring, or fall back to the
    per-hop form."""
    walk = roots.select(
        F.col(root_col).alias("node"),
        F.col(root_col).alias("root"),
        F.lit(0).alias("hop"),
    )
    jump = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    stride = 1
    while stride <= max_hops:
        ext = (
            walk.alias("w")
            .join(jump.alias("j"), F.col("w.node") == F.col("j.src"))
            .select(
                F.col("j.dst").alias("node"),
                F.col("w.root").alias("root"),
                (F.col("w.hop") + stride).alias("hop"),
            )
            .filter(F.col("hop") <= max_hops)
        )
        walk = walk.unionByName(ext)
        stride *= 2
        if stride <= max_hops:
            jump = (
                jump.alias("a")
                .join(jump.alias("b"), F.col("a.dst") == F.col("b.src"))
                .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            )
    return walk
