"""Graph analytics over relational edge tables.

`dedup.connected_components` (large/small-star) handles the
reachability family; this module holds the value-propagation family —
PageRank first (Page et al. 1999), the canonical power iteration a
warehouse engine runs over an edge table without leaving SQL/DataFrame
semantics.

Determinism contract: the iteration is specified as an INTEGER
micro-unit recurrence — rank mass in parts of 10⁹, per-edge
contribution ``(85 · r(u) · w) // (100 · W(u))``, teleport
``(15·10⁹ // 100) // N`` — so every engine replays it bit-for-bit
(integer sums are order-independent; there is no float anywhere, the
kaplan_meier convention). The floor divisions leak ≤ 1 micro-unit of
mass per edge per iteration; that loss is part of the spec, not an
error term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from .cache import checkpoint_rounds

PR_SCALE = 10**9
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
) -> DataFrame:
    """Weighted PageRank, ``iters`` unrolled power iterations of the
    integer micro-unit recurrence. Expects a DIRECTED edge table; pass
    both directions for an undirected graph (then no node dangles —
    dangling mass otherwise just evaporates, documented).

    Output: (node, pr_x1e9). Overflow bound: 85·r·w must fit int64 —
    r ≤ 10⁹ mass units, so per-edge weight up to ~10⁸ is safe.

    Scale: each iteration is ONE edge-keyed join plus ONE dst groupBy —
    the standard power-iteration shuffle pair, linear in |E|; the node
    table carries its teleport column so no driver collect happens
    anywhere. Hot (high-degree) vertices are the usual skew concern —
    the contribution sum is map-side combinable on dst, which absorbs
    them.
    """
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("long").alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    ncount = nodes.agg(F.count("*").cast("long").alias("n"))
    tele = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    nodes_t = nodes.crossJoin(F.broadcast(ncount)).select(
        "node",
        F.expr(f"{tele} div n").cast("long").alias("tele"),
        F.expr(f"{PR_SCALE} div n").cast("long").alias("r0"),
    )
    outw = e.groupBy("src").agg(F.sum("w").cast("long").alias("wout"))
    ew = e.join(outw, "src")
    ranks = nodes_t.select("node", F.col("r0").alias("r"))
    for _ in range(iters):
        contrib = (
            ew.join(ranks, ew.src == ranks.node)
            .select(
                "dst",
                F.expr(
                    f"({PR_DAMP_NUM} * r * w) div ({PR_DAMP_DEN} * wout)"
                ).cast("long").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = (
            nodes_t.join(contrib, nodes_t.node == contrib.dst, "left")
            .select(
                "node",
                (F.col("tele") + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("pr_x1e9"))


def triangle_stats(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient via the
    degree-ordered wedge join (Suri & Vassilvitskii WWW 2011; Schank &
    Wagner 2005's node-iterator++) — THE shuffle-bounded way to count
    triangles on a warehouse engine.

    Input: an undirected edge list (duplicates and both directions
    welcome — canonicalized to distinct ``a < b`` pairs, self-loops
    dropped). Every edge is then ORIENTED from its lower to its higher
    endpoint in the total ``(degree, node)`` order, which caps every
    node's out-degree at O(√|E|) (arboricity bound): the wedge join's
    fan-out is Σ C(outdeg, 2) = O(|E|^{3/2}) WORST CASE — independent
    of hot-node skew, which is exactly why the orientation exists (a
    star graph yields zero wedges at its hub). Each triangle {a,b,c}
    has exactly ONE node with two out-edges, so every triangle is found
    once, then credited to all three corners.

    Everything is exact integer counting; the only float is the final
    ``lcc = 2·tri / (deg·(deg−1))`` — ONE division of exact bigints
    (bit-stable cross-engine), NULL for degree < 2.

    Scale shape: canonical-edge dedup (one shuffle), degree groupBy,
    wedge self-join keyed on the pivot node, closing equi-join keyed on
    the (v, w) edge pair, corner-credit groupBy — five key-bounded
    shuffles, no cartesian anywhere, and the oriented fan-out bound is
    the published O(|E|^{3/2}).

    Output: (node, deg, tri, lcc).
    """
    from .cache import pin

    a, b = F.col(src_col), F.col(dst_col)
    canon = pin(
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = pin(
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("degb"))
    lo_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    oriented = pin(
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(lo_first, F.col("dega")).otherwise(F.col("degb")).alias("du"),
            F.when(lo_first, F.col("degb")).otherwise(F.col("dega")).alias("dv"),
        )
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = e1.join(e2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(
        F.col("u").alias("v1"), F.col("v").alias("v2")
    )
    tris = wedges.join(closing, ["v1", "v2"]).select(
        F.col("u").alias("n1"), F.col("v1").alias("n2"), F.col("v2").alias("n3")
    )
    corner = (
        tris.select(F.col("n1").alias("node"))
        .unionByName(tris.select(F.col("n2").alias("node")))
        .unionByName(tris.select(F.col("n3").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("tri"))
    )
    lcc = (F.lit(2) * F.col("tri")).cast("double") / F.nullif(
        (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double"), F.lit(0.0)
    )
    return (
        deg.join(corner, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce(F.col("tri"), F.lit(0)).cast("bigint").alias("tri"),
        )
        .select("node", "deg", "tri", lcc.alias("lcc"))
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Round-synchronous k-core peeling (Seidman 1983; the distributed
    formulation of Montresor et al. 2013): each round removes EVERY
    currently-alive node whose degree over surviving edges is < k, all
    at once, then drops their edges. ``rounds`` synchronized rounds are
    the pinned spec (the connected-components/Lloyd convention for
    iterative relational algorithms): both engines replay exactly the
    same rounds, so the output is integer-exact whether or not the peel
    has reached its fixpoint — at warehouse scale the synchronous peel
    converges in O(log n) rounds, and ``rounds`` is the depth budget.

    Zero-degree alive nodes count as degree 0 (< k) — the alive set is
    tracked explicitly so a node whose last edge disappears is peeled
    next round, not silently forgotten.

    Output: (node, removed_round ∈ [1, rounds] or NULL if the node
    survives, final_deg = surviving-edge degree for survivors, NULL for
    removed nodes). Everything is integer counting; no floats at all.

    Scale: per round one degree groupBy over surviving edges plus two
    broadcast-able anti-joins against the (shrinking) weak set; edge
    survivorship only ever shrinks. Lineage is cut every round through
    :class:`cache.checkpoint_rounds` (a lazy 4-round join chain sends
    Catalyst superlinear).
    """
    with checkpoint_rounds() as ckpt:
        a, b = F.col(src_col), F.col(dst_col)
        canon = ckpt(
            edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        nodes = ckpt(
            canon.select(F.col("a").alias("node"))
            .unionByName(canon.select(F.col("b").alias("node")))
            .distinct()
        )
        alive = nodes
        e = canon
        removed = None
        for r in range(1, int(rounds) + 1):
            deg = (
                e.select(F.col("a").alias("node"))
                .unionByName(e.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count("*").cast("bigint").alias("c"))
            )
            weak = ckpt(
                alive.join(deg, "node", "left")
                .where(F.coalesce(F.col("c"), F.lit(0)) < k)
                .select("node")
            )
            alive = ckpt(alive.join(weak, "node", "left_anti"))
            e = ckpt(
                e.join(weak.select(F.col("node").alias("a")), "a", "left_anti").join(
                    weak.select(F.col("node").alias("b")), "b", "left_anti"
                )
            )
            tagged = weak.select("node", F.lit(r).cast("int").alias("removed_round"))
            removed = tagged if removed is None else removed.unionByName(tagged)
        final_deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("bigint").alias("fd"))
        )
        return ckpt.result(
            nodes.join(removed, "node", "left")
            .join(final_deg, "node", "left")
            .select(
                "node",
                "removed_round",
                F.when(
                    F.col("removed_round").isNull(),
                    F.coalesce(F.col("fd"), F.lit(0)).cast("bigint"),
                ).alias("final_deg"),
            )
        )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007, made DETERMINISTIC): every node starts
    labeled with itself; each of ``rounds`` synchronized rounds every
    node simultaneously adopts the most frequent label among its
    NEIGHBORS, ties broken by the SMALLEST label (the house total-tie
    rule — vanilla LPA breaks ties randomly and is not replayable).
    Fixed round count, not convergence-tested: the depth-budget
    contract of :func:`kcore_peel`.

    Exactness: neighbor-label counts are exact integers and the
    argmax order ``(count DESC, label ASC)`` is total (labels are
    distinct within a node's count table), so every round is
    bit-replayable cross-engine.

    Scale: per round ONE edge-keyed join (labels onto neighbor
    endpoints) + ONE (node, label) combinable groupBy + ONE node-keyed
    WindowGroupLimit top-1 — all hash-bounded by |E| and |V|; round
    state is the (node, label) table. Lineage is cut every round
    through :class:`cache.checkpoint_rounds`.

    Output: (node, label, community_size) after the final round.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    with checkpoint_rounds() as ckpt:
        a, b = F.col(src_col), F.col(dst_col)
        adj = ckpt(
            edges.select(a.alias("node"), b.alias("nbr"))
            .unionByName(edges.select(b.alias("node"), a.alias("nbr")))
            .filter(F.col("node") != F.col("nbr"))
            .distinct()
        )
        labels = adj.select("node").distinct().select(
            "node", F.col("node").alias("label")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("label").asc()
        )
        for _ in range(int(rounds)):
            nl = adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("nbr_label")
                ),
                "nbr",
            )
            cnt = nl.groupBy("node", F.col("nbr_label").alias("label")).agg(
                F.count("*").cast("bigint").alias("c")
            )
            labels = ckpt(
                cnt.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("node", "label")
            )
        sizes = labels.groupBy("label").agg(
            F.count("*").cast("bigint").alias("community_size")
        )
        return ckpt.result(
            labels.join(F.broadcast(sizes), "label").select(
                "node", "label", "community_size"
            )
        )


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Degree assortativity coefficient (Newman PRL 2002): the Pearson
    correlation of endpoint degrees over every edge END of the
    undirected graph (each canonical edge contributes both (d_u, d_v)
    and (d_v, d_u) — the standard symmetric treatment). Positive:
    hubs link hubs; negative: hubs link leaves (bipartite trade
    graphs sit firmly negative).

    Exact: degrees and all five sums are bigints; r is ONE fixed-shape
    expression with greatest-clamped variances and a NULLIF'd sqrt
    denominator (the spearman/acf convention — a regular graph has
    zero degree variance and NULLs out rather than dividing by zero).

    Scale: canonical dedup + one degree groupBy + two broadcast degree
    joins onto the edge list + one scalar aggregate. No window, no
    pair blow-up.

    Output one row: (n_ends, sj, sk, sjj, skk, sjk, assortativity).
    """
    a, b = F.col(src_col), F.col(dst_col)
    canon = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    ends = canon.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        canon.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("j"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("k"))
    rows = ends.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    agg = rows.agg(
        F.count("*").cast("bigint").alias("n_ends"),
        F.sum("j").cast("bigint").alias("sj"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("j") * F.col("j")).cast("bigint").alias("sjj"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("skk"),
        F.sum(F.col("j") * F.col("k")).cast("bigint").alias("sjk"),
    )
    varj = F.greatest(
        (F.col("n_ends") * F.col("sjj") - F.col("sj") * F.col("sj"))
        .cast("double"),
        F.lit(0.0),
    )
    vark = F.greatest(
        (F.col("n_ends") * F.col("skk") - F.col("sk") * F.col("sk"))
        .cast("double"),
        F.lit(0.0),
    )
    r = (
        (F.col("n_ends") * F.col("sjk") - F.col("sj") * F.col("sk"))
        .cast("double")
        / F.nullif(F.sqrt(varj * vark), F.lit(0.0))
    )
    return agg.select(
        "n_ends", "sj", "sk", "sjj", "skk", "sjk",
        (r + F.lit(0.0)).alias("assortativity"),
    )
