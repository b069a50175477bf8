"""Graph analytics operators (beyond dedup's connected components).

PageRank with a FIXED iteration count: k iterations of the power method
are a deterministic linear recurrence, so the result is oracle-checkable
— unlike converge-to-epsilon variants whose stopping point is
float-noise-sensitive. Per-node contributions (score/out_degree) are
per-row IEEE doubles (bit-deterministic, parity rule 2); the neighbor
SUM is merge-order-sensitive (the decimal trick does NOT apply here:
Spark's double→decimal cast goes through the shortest string
representation while DuckDB expands the exact binary — identical only
for low-scale money values, ulp-divergent for arbitrary doubles), so
checked queries round the final scores (parity rule 5: accumulated
order error ~1e-16 ≪ the 5e-13 half-grid of round-12).

Scale posture: each iteration is one join edges⨝scores on src (both
sides hash-partition on node id — co-partitioned across iterations) +
one groupBy dst. The iteration-invariant frames (edges, nodes, outdeg)
are LAZILY localCheckpoint-ed: the unrolled plan consumes each of them
several times per iteration (the normalizing/dangling totals broadcast
through their own jobs), and without the lineage cut every consumer
re-executes the whole derivation subtree — measured 3x the runtime at
sf0.1. One materialization of |E| / |V| rows each, the standard
iterative-graph posture (same as connected_components / ktruss); for
large k add the CC module's periodic parquet cut (dedup.py).

Dangling nodes (no out-edges) leak their mass by default — the simple,
consistent-across-engines convention. ``redistribute_dangling=True``
switches to the sum-preserving convention (each step spreads the
dangling mass uniformly); both variants are oracle-checked
(`q_graph_pagerank`, `q_graph_pagerank_dangling`).

Shared frames: every operator builds its input through one of the
private builders below, so the way an edge list becomes the frames an
algorithm iterates over is decided once. ``_directed`` gives the
checkpointed (src, dst) edges and node set for the walk/score
recurrences (pagerank, hits, personalized pagerank, katz).
``_undirected`` gives the canonical edge set (u < v, distinct,
self-loops dropped) for everything that treats the graph as undirected;
``_both_ways``, ``_degrees`` and ``_oriented`` derive its doubled
adjacency, node degrees and degree-ordered DAG, and ``_wedges`` /
``_non_adjacent`` the common-neighbour pairs of the link predictors.
The BFS family (bfs, seeded_bfs, betweenness_sample) and sssp need no
node set and only checkpoint their edge projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _directed(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(edges, nodes): the directed (src, dst) frame and its distinct
    ``node`` set, both lazily checkpointed — every iteration of the
    recurrences reads them again (module docstring)."""
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return edges, nodes


def _out_degree(edges: DataFrame) -> DataFrame:
    """(o_node, outdeg) of directed edges, lazily checkpointed."""
    return (
        edges.groupBy(F.col("src").alias("o_node"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=False)
    )


def _in_mass(edges: DataFrame, scores: DataFrame, outdeg: DataFrame) -> DataFrame:
    """(dst, in_mass) = Σ_{u→dst} score(u)/outdeg(u): one pagerank step's
    neighbour mass."""
    return (
        edges.join(scores, edges.src == scores.node)
        .join(F.broadcast(outdeg), edges.src == F.col("o_node"))
        .select(
            F.col("dst"),
            (F.col("score") / F.col("outdeg")).alias("contrib"),
        )
        .groupBy("dst")
        .agg(F.sum("contrib").alias("in_mass"))
    )


def _undirected(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set (u, v) of (src, dst) edges: u < v,
    one row per edge, self-loops dropped, lazily checkpointed (every
    caller reads it more than once)."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _both_ways(e: DataFrame, x: str, y: str) -> DataFrame:
    """Both directions of canonical edges as (``x``, ``y``) rows."""
    return e.select(F.col("u").alias(x), F.col("v").alias(y)).unionAll(
        e.select(F.col("v").alias(x), F.col("u").alias(y))
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(node, deg) over canonical edges."""
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _oriented(e: DataFrame, broadcast: bool = False) -> DataFrame:
    """Degree-ordered orientation (a, x, dx) of canonical edges: each
    edge points from its lower-(degree, id) endpoint a to the higher one
    x, whose degree is dx. The result is a DAG, and every triangle has
    exactly one apex whose two edges both point outward. ``broadcast``
    hints the two |V|-row degree frames."""
    B = F.broadcast if broadcast else (lambda df: df)
    deg = _degrees(e)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return (
        e.join(B(du), "u")
        .join(B(dv), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("x"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dx"),
        )
    )


def _wedges(
    e: DataFrame, max_center_degree: int | None
) -> tuple[DataFrame, DataFrame]:
    """Common-neighbour wedges of canonical edges and the degree frame:
    (a, b, deg) for every center z adjacent to both a < b, with deg =
    deg(z) and centers above ``max_center_degree`` left out; plus the
    uncapped (z, deg). Wedge fan-out at z is deg(z)², which is what the
    cap bounds (adamic_adar)."""
    adj = _both_ways(e, "z", "n")
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    capped = deg
    if max_center_degree is not None:
        capped = deg.where(F.col("deg") <= max_center_degree)
    centers = adj.join(capped, "z")
    left = centers.select("z", F.col("n").alias("a"), "deg")
    right = centers.select("z", F.col("n").alias("b"))
    return left.join(right, "z").where(F.col("a") < F.col("b")), deg


def _non_adjacent(pairs: DataFrame, e: DataFrame) -> DataFrame:
    """``pairs`` (a, b) minus the pairs that are canonical edges."""
    return pairs.join(
        e,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        "left_anti",
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """(node, score) after ``iters`` power-method steps over directed
    ``edges`` (src, dst). score_0 = 1/N; score_{t+1}(v) = (1-d)/N +
    d·Σ_{u→v} score_t(u)/outdeg(u).

    ``redistribute_dangling=True`` adds the sum-preserving convention:
    each step also spreads d·(Σ dangling scores)/N to every node, so
    total mass stays 1.0 instead of leaking through no-out-edge nodes.
    The dangling mass is a single-row aggregate (anti join scores ⟕̸
    outdeg → sum) broadcast back onto the update — one extra tiny-side
    shuffle per iteration, nothing proportional to |E|."""
    edges, nodes = _directed(edges)
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    outdeg = _out_degree(edges)
    scores = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", "n", (F.lit(1.0) / F.col("n")).alias("score")
    )
    for _ in range(iters):
        contrib = _in_mass(edges, scores, outdeg)
        updated = scores.join(contrib, scores.node == contrib.dst, "left")
        if redistribute_dangling:
            dangling = (
                scores.join(
                    F.broadcast(outdeg), scores.node == F.col("o_node"), "left_anti"
                )
                .agg(F.coalesce(F.sum("score"), F.lit(0.0)).alias("dm"))
            )
            scores = updated.crossJoin(F.broadcast(dangling)).select(
                "node",
                "n",
                (
                    (1.0 - damping) / F.col("n")
                    + damping
                    * (
                        F.coalesce("in_mass", F.lit(0.0))
                        + F.col("dm") / F.col("n")
                    )
                ).alias("score"),
            )
        else:
            scores = updated.select(
                "node",
                "n",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce("in_mass", F.lit(0.0))
                ).alias("score"),
            )
    return scores.select("node", "score")


def bfs(edges: DataFrame, sources: DataFrame, max_hops: int = 4) -> DataFrame:
    """Minimum hop distance from any node in ``sources`` (one ``node``
    column) along directed ``edges`` (src, dst), capped at ``max_hops``:
    returns (node, dist) for every node reached, sources at dist 0.

    Frontier BFS: each level expands only the LAST frontier through the
    edge list, anti-joins out already-visited nodes, and unions the rest
    into the distance table. Every level ends in an eager
    localCheckpoint — without it level k's plan nests k joins deep and
    re-executes ancestor levels (the connected_components lesson,
    dedup.py). At 100 TB: frontier and edges hash-partition on the join
    key; the visited set is exactly as large as the reached region, and
    the per-level anti join is the standard distributed-BFS visited
    filter. For high-diameter graphs, add the CC module's periodic
    parquet lineage cut; for hop caps this small the checkpoint chain is
    flat already.
    """
    # Every hop joins the frontier to edges; the lazy cut stops each
    # level's eager checkpoint job from re-running the edge derivation.
    # Frontier/visited are broadcast-hinted via their measured counts
    # (_known_small): checkpointed RDD scans otherwise estimate as huge
    # and force a SortMergeJoin that re-shuffles |E| every hop. Levels
    # stay separate checkpointed frames, unioned lazily at the end (the
    # old shape re-materialized the whole cumulative dist per hop).
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    l0 = (
        sources.select("node")
        .distinct()
        .select("node", F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    return _frontier_levels(edges, l0, ["node"], max_hops)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an UNDIRECTED graph.

    Input ``edges`` (src, dst) is canonicalized to distinct ordered
    pairs (u < v) — each undirected edge stored once, self-loops
    dropped. A triangle {a < b < c} is then exactly one wedge
    (a,b)+(b,c) closed by (a,c): two joins, no double counting and no
    orientation bookkeeping. Output: (node, triangles).

    Scale posture: DEGREE-ORDERED orientation (Cohen's MapReduce
    triangle algorithm): orient each edge from its lower-(degree, id)
    endpoint to the higher one, and enumerate wedges only at their
    all-out apex. Every triangle then has exactly ONE apex whose two
    edges both point outward, and per-node wedge fan-out is bounded by
    out-degree ≤ O(√|E|) — on a dense co-occurrence graph this is the
    difference between Σ deg² (hub-quadratic; the naive id-ordered
    wedge join measured 30s on the sf0.1 graph) and Σ outdeg²
    (measured 3s on the same graph, and the 8× input ratio stays ~1×
    because the supplier graph saturates). The closing check runs
    against the canonical u<v edge set via one semi join.
    """
    return _node_triangles(_undirected(edges))


def _node_triangles(e: DataFrame) -> DataFrame:
    """``triangle_count`` over canonical edges (u, v), which it reads
    three times: degrees, wedges and the closing check."""
    oriented = _oriented(e)
    o1 = oriented.select("a", F.col("x").alias("b"), F.col("dx").alias("db"))
    o2 = oriented.select("a", F.col("x").alias("c"), F.col("dx").alias("dc"))
    # each unordered out-pair once: (deg, id) order between b and c
    wedges = (
        o1.join(o2, "a")
        .where(
            (F.col("db") < F.col("dc"))
            | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
        )
        .select("a", "b", "c")
    )
    closing = wedges.join(
        e,
        (F.least("b", "c") == F.col("u")) & (F.greatest("b", "c") == F.col("v")),
        "left_semi",
    )
    return (
        closing.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def kcore_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-core peeling over an undirected graph: repeatedly
    drop nodes with degree < k (degrees recomputed on the surviving
    subgraph each round). With enough rounds this converges to the
    exact k-core; a FIXED round count keeps the result a deterministic
    linear recurrence — oracle-checkable the same way the fixed-k
    PageRank is. Returns surviving (node, deg) after ``rounds`` peels,
    where "surviving" is the NODE set that passed the final round's
    degree test — a survivor whose neighbors were all simultaneously
    peeled that round is reported with deg 0, matching the sequential
    reference (simultaneous removal, then residual degree vs the final
    alive set).

    Scale posture: the peel runs on the CANONICAL u<v edge list (half
    the rows of the doubled adjacency — every per-round shuffle moves
    |E| rows, not 2|E|); degrees come from one explode→count aggregate
    and the survivor filter is two semi joins, all hash-partitioned on
    the node id. Lineage is cut per round with LAZY localCheckpoints
    (the logical plan is replaced by a LogicalRDD immediately, so round
    r never re-plans rounds 1..r-1, but materialization folds into the
    one final action instead of one blocking job per round — eager
    checkpoints cost a scheduler round-trip each, measurably dominant
    at small |E|). Unlike bfs(), no per-round isEmpty() forces eager
    evaluation here."""
    und = _undirected(edges)

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.explode(F.array("u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    keep = None
    for _ in range(rounds):
        # Survivor NODE set, not the edge list: a node absent from the
        # post-filter edge list can still be a survivor (it passed this
        # round's test; its neighbors were removed in the same round).
        # Intermediate rounds are unaffected for k >= 1 — a 0-degree
        # survivor fails the NEXT round's test either way — but the
        # final report must come from this set.
        keep = (
            degrees(und)
            .where(F.col("deg") >= k)
            .select("node")
            .localCheckpoint(eager=False)
        )
        und = (
            und.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .localCheckpoint(eager=False)
        )
    resid = degrees(und)
    if keep is None:  # rounds == 0: every edge endpoint, full degree
        return resid
    return keep.join(resid, "node", "left").select(
        "node", F.coalesce("deg", F.lit(0)).alias("deg")
    )


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 3,
    weight_col: str = "weight",
) -> DataFrame:
    """Bounded-round Bellman-Ford single/multi-source shortest paths
    over directed weighted ``edges`` (src, dst, ``weight_col``):
    ``rounds`` synchronous relaxations starting from ``sources`` (one
    ``node`` column, dist 0). After r rounds, dist(v) = min total weight
    over all paths from any source to v using <= r edges — a
    deterministic recurrence (like the fixed-k pagerank), so the result
    is oracle-checkable by unrolling the rounds as CTEs.

    Float determinism: every candidate distance is the same
    left-to-right chain of IEEE double adds in both engines, and min()
    over identical candidate sets is exact — no rounding needed.
    Negative weights are fine (it's Bellman-Ford, not Dijkstra); the
    fixed round count sidesteps negative-cycle divergence.

    Scale posture: each round is one join dist⨝edges on the node id
    (both sides hash-partition on it — co-partitioned across rounds)
    plus one min-aggregate; lineage is cut per round with LAZY
    localCheckpoints (plan truncated immediately, materialization folds
    into the final action — see kcore_peel's rationale). The state
    never materializes more than |reached| rows."""
    dist = (
        sources.select("node")
        .distinct()
        .select("node", F.lit(0.0).alias("dist"))
        .localCheckpoint(eager=False)
    )
    # Lazy lineage cut: every relaxation round re-reads e, and without
    # the cut each round re-executes the caller's whole edge derivation
    # (module docstring).
    e = edges.select(
        "src", "dst", F.col(weight_col).cast("double").alias("w")
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        relax = dist.join(e, dist.node == e.src).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        dist = (
            dist.unionAll(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Synchronous label propagation (community detection) over an
    UNDIRECTED graph: every node starts labeled with its own id; each
    round, every node adopts the most frequent label among its
    neighbors' PREVIOUS-round labels, ties broken by the MINIMUM label
    — fully deterministic (no RNG, no update-order sensitivity), so a
    FIXED round count is an oracle-checkable recurrence like pagerank's.

    Returns (node, label) after ``rounds`` synchronous updates.

    Scale posture: each round is one join both⨝labels on the peer id +
    a (node, label) count + a per-node argmax folded into ONE
    min(struct(-count, label)) aggregate (no window — the second agg is
    co-partitioned with the first on node). Lineage cut per round with
    LAZY localCheckpoints (see kcore_peel's rationale)."""
    both = _both_ways(_undirected(edges), "node", "peer").localCheckpoint(
        eager=True
    )  # reused 1+rounds x
    labels = both.select("node").distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        cnt = (
            both.join(
                labels.select(
                    F.col("node").alias("peer"), F.col("label")
                ),
                "peer",
            )
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label").alias("label"))
                ).alias("s")
            )
            .select("node", F.col("s.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def adamic_adar(
    edges: DataFrame, max_center_degree: int | None = None
) -> DataFrame:
    """Adamic-Adar link prediction over an UNDIRECTED graph: for every
    NON-adjacent pair (a < b) with at least one common neighbor,
    AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1 / ln(deg(z)) — the classic
    "people you may know" score (common neighbors, rare ones weighted
    up). Returns (a, b, common, score) with ``score`` rounded to the
    1e-12 grid (the per-pair sum order differs between engines; libm
    ln is 1-ulp — the q_stat_psi discipline).

    Scale posture: wedge fan-out at a center z is deg(z)², so hubs —
    which contribute the LEAST signal (1/ln deg → small) at the MOST
    cost — dominate the join. ``max_center_degree`` makes the standard
    cap part of the SEMANTICS (centers above it are excluded, not
    sampled): with a cap c, work is ≤ Σ_z min(deg_z, c)² ∝ |E|·c, and
    the result is deterministic and oracle-replayable. Leave it None
    only on degree-bounded graphs. Each undirected edge is stored once
    (u < v); the non-adjacency filter is one anti join against that
    canonical edge set.
    """
    e = _undirected(edges)  # reused: adjacency + anti join
    wedges, _deg = _wedges(e, max_center_degree)
    pairs = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common"),
        F.round(F.sum(F.lit(1.0) / F.log(F.col("deg").cast("double"))), 12).alias(
            "score"
        ),
    )
    return _non_adjacent(pairs, e)


def resource_allocation(
    edges: DataFrame, max_center_degree: int = 40
) -> DataFrame:
    """Resource-allocation link prediction: RA(a,b) =
    Sum_{z in N(a) cap N(b)} 1/deg(z) — Adamic-Adar's harder-decaying
    sibling (Zhou-Lu-Zhang 2009), empirically the strongest of the
    three local similarity indices on dense graphs. Same wedge
    construction and center cap as :func:`adamic_adar`, but because
    the cap bounds deg(z) <= c, the score is EXACT RATIONAL
    arithmetic: Sum 1/deg = (Sum lcm(1..c)/deg) / lcm(1..c) with the
    numerator an exact BIGINT wedge sum — ONE double division, no
    rounding, unlike AA's round-12 ln-sum. The cap is therefore part
    of both the cost bound AND the exactness argument (mandatory
    here, not optional).
    """
    import math

    lcm = 1
    for i in range(1, max_center_degree + 1):
        lcm = lcm * i // math.gcd(lcm, i)
    e = _undirected(edges)  # reused: adjacency + anti join
    wedges, _deg = _wedges(e, max_center_degree)
    pairs = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common"),
        (
            F.sum(F.expr(f"CAST({lcm} AS BIGINT) div deg")).cast("double")
            / F.lit(float(lcm))
        ).alias("score"),
    )
    return _non_adjacent(pairs, e)


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient of an UNDIRECTED graph: the
    Pearson correlation of the endpoint degrees over the directed
    double cover (every edge counted in both directions — Newman's r).
    Returns one row: (m2, r) with ``m2`` = 2·|E|.

    Shape: canonicalize to distinct u<v edges, one degree aggregate,
    two hash joins to attach both endpoint degrees, then a single
    scalar moment rollup — shuffles ∝ |E| at any scale, no window, no
    pairwise blowup. Moments ride the exact decimal(38,0) lane; by
    symmetry Σda = Σdb and Σda² = Σdb², so r =
    (m·Σdadb − (Σda)²) / (m·Σda² − (Σda)²) — a double expression over
    scale-0 integers, bit-exact across engines while the moment
    products stay below 2⁵³ (integers convert exactly; past that the
    coefficient itself has no meaningful ulps left).
    """
    adj = _both_ways(_undirected(edges), "a", "b")
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    cover = (
        adj.join(deg.select(F.col("a"), F.col("deg").alias("da")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("db")), "b"
        )
        .select("da", "db")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — exact moment lane
    m = cover.agg(
        F.count(F.lit(1)).cast("bigint").alias("m2"),
        F.sum(dec(F.col("da"))).alias("sa"),
        F.sum(dec(F.col("da")) * dec(F.col("db"))).alias("sab"),
        F.sum(dec(F.col("da")) * dec(F.col("da"))).alias("saa"),
    )
    num = dec(F.col("m2")) * F.col("sab") - F.col("sa") * F.col("sa")
    den = dec(F.col("m2")) * F.col("saa") - F.col("sa") * F.col("sa")
    # try_divide: a degree-regular graph has zero degree variance and
    # the coefficient is undefined -> NULL (ANSI division would raise).
    return m.select(
        "m2", F.try_divide(num.cast("double"), den.cast("double")).alias("r")
    )


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient of an UNDIRECTED graph:
    c(v) = 2·T(v) / (deg(v)·(deg(v)−1)) for nodes with deg ≥ 2, where
    T(v) is the node's triangle participation count. Returns
    (node, deg, triangles, coeff).

    Rides ``triangle_count``'s wedge-close (degree-ordered, hub-safe)
    for T and one degree aggregate over the same canonical edge set;
    nodes with no triangles keep coeff 0 via the left join's coalesce. The
    coefficient is one integer-over-integer double division —
    correctly rounded in both engines, no rounding needed.
    """
    e = _undirected(edges)  # reused: degrees + triangle pass
    deg = _degrees(e)
    tri = _node_triangles(e)
    out = deg.where(F.col("deg") >= 2).join(tri, "node", "left")
    t = F.coalesce(F.col("triangles"), F.lit(0)).cast("bigint")
    return out.select(
        "node",
        "deg",
        t.alias("triangles"),
        (
            (2 * t).cast("double")
            / (F.col("deg") * (F.col("deg") - 1)).cast("double")
        ).alias("coeff"),
    )


def hits(edges: DataFrame, iters: int = 2) -> DataFrame:
    """(node, hub, auth) after ``iters`` L1-normalized HITS iterations
    (Kleinberg) over directed ``edges`` (src, dst): starting from
    hub=1 everywhere, each iteration sets auth(v) = Σ_{u→v} hub(u) then
    hub(u) = Σ_{u→v} auth(v), each vector divided by its sum. Fixed
    iteration count → deterministic linear recurrence, oracle-checkable
    by unrolling (the fixed-k pagerank convention); callers round the
    final scores (the neighbor sums are merge-order doubles, parity
    rule 5 — accumulated error ~1e-16 ≪ a round-12 half-grid).

    Scale posture: per iteration two joins edges⨝vector on the node id
    (hash-co-partitioned across iterations) + two groupBy aggregates;
    the normalizing totals are single-row aggregates broadcast back
    (nothing proportional to |E| crosses the driver). k is small and
    fixed → unrolled plan. The edges and node set are lazily
    checkpointed (``_directed``): every iteration reads each of them
    twice, and each normalizing total is a broadcast job that would
    otherwise re-execute the whole derivation subtree (pagerank's
    rationale, module docstring).
    """
    if iters < 1:
        raise ValueError(f"hits() requires iters >= 1, got {iters}")
    e, nodes = _directed(edges)
    h = nodes.select("node", F.lit(1.0).alias("hub"))
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h, e.src == h.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("r"))
        )
        a_un = nodes.join(a_raw, "node", "left").select(
            "node", F.coalesce("r", F.lit(0.0)).alias("r")
        )
        a_tot = a_un.agg(F.sum("r").alias("t"))
        a = a_un.crossJoin(F.broadcast(a_tot)).select(
            "node", (F.col("r") / F.col("t")).alias("auth")
        )
        h_raw = (
            e.join(a, e.dst == a.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("r"))
        )
        h_un = nodes.join(h_raw, "node", "left").select(
            "node", F.coalesce("r", F.lit(0.0)).alias("r")
        )
        h_tot = h_un.agg(F.sum("r").alias("t"))
        h = h_un.crossJoin(F.broadcast(h_tot)).select(
            "node", (F.col("r") / F.col("t")).alias("hub")
        )
    return h.join(a, "node").select("node", "hub", "auth")


def ktruss_peel(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Fixed-round k-truss peeling: repeatedly drop edges in fewer than
    k-2 triangles (support recomputed on the surviving subgraph each
    round — simultaneous removal, like kcore_peel). With enough rounds
    this converges to the exact k-truss; a FIXED round count keeps the
    result a deterministic recurrence, oracle-checkable by unrolling.
    Returns the surviving canonical edges with their RESIDUAL support
    (computed on the final edge set; 0 for an edge whose triangles all
    dissolved in the last round — kcore_peel's reporting convention).

    Algorithm (round-10 shape): support is the per-edge COUNT of common
    neighbors — size(array_intersect(N(u), N(v))) against the full
    sorted adjacency map, computed MAP-SIDE under two node-keyed joins.
    No triangle list is ever materialized: the pre-round-10 shape
    enumerated all triangles once, exploded the 3·|tri| edge→triangle
    incidence map, shuffled it into the initial support aggregate, and
    then scanned + anti-joined that map every round. Per-edge intersect
    counting does ~2× the hash-probe work of apex-oriented enumeration
    (each triangle is counted at all three edges instead of once) but
    deletes the 3·|tri|-row shuffle, the triangle checkpoint, and the
    per-round map scans — measured at sf0.1 (1.196M edges, 1.88M
    triangles): 9.0–9.8s → ~7.3s warm for the identical histogram,
    with the triangle-map peak memory gone.

    Each round is work-proportional-to-change: the just-removed edges
    (support < k-2, a shrinking frame) re-intersect THEIR endpoints'
    original adjacency to propose dissolved triangles, a single
    semi join of the proposals' 3 exploded edges against the surviving
    edge spine keeps exactly the triangles alive at round start
    (count-3 filter — one broadcast per round, not three), and one
    delta aggregate decrements the surviving edges. Proposals from the
    ORIGINAL adjacency are a superset pruned by the aliveness check,
    so the recurrence is identical to re-enumerating on the surviving
    subgraph (property-tested against a brute-force sequential peel).

    Scale posture: every join is node- or edge-keyed (hash-partitioned
    above the 5M-edge broadcast threshold, broadcast below it); the
    adjacency map is the same collect_list-per-node frame every graph
    operator here builds (hub-degree caution documented in
    SCALE_NOTES); nothing is ever all-pairs. The per-round frames
    shrink monotonically. The support frame is lazily
    localCheckpoint-ed per round (one row per surviving edge) so the
    288M-probe initial intersect never re-executes."""
    e = _undirected(edges)
    # One scalar count on the (about-to-be-materialized-anyway)
    # checkpointed frame decides the local-vs-cluster join strategy:
    # under 5M edges the adjacency/removed/delta frames are driver-safe
    # broadcasts (what AQE would pick with accurate stats — checkpoint
    # scans report none); above it everything stays hash-partitioned.
    small = e.count() <= 5_000_000
    B = F.broadcast if small else (lambda df: df)
    adj = (
        _both_ways(e, "n", "m")
        .groupBy("n")
        .agg(F.array_sort(F.collect_list("m")).alias("nb"))
        .localCheckpoint(eager=False)
    )
    au = adj.select(F.col("n").alias("u"), F.col("nb").alias("nu"))
    av = adj.select(F.col("n").alias("v"), F.col("nb").alias("nv"))
    cur = (
        e.join(B(au), "u")
        .join(B(av), "v")
        .select(
            "u",
            "v",
            F.size(F.array_intersect("nu", "nv")).cast("bigint").alias("support"),
        )
        .localCheckpoint(eager=False)
    )
    tri_edges = F.array(
        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        F.struct(F.col("a").alias("u"), F.col("c").alias("v")),
        F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
    )
    for _ in range(rounds):
        removed = cur.where(F.col("support") < k - 2).select("u", "v")
        # dissolved-triangle proposals: common neighbors of each removed
        # edge in the ORIGINAL adjacency (superset of the live set)
        cand = (
            removed.join(B(au), "u")
            .join(B(av), "v")
            .select("u", "v", F.explode(F.array_intersect("nu", "nv")).alias("w"))
        )
        arr = F.array_sort(F.array("u", "v", "w"))
        cand3 = cand.select(
            arr[0].alias("a"), arr[1].alias("b"), arr[2].alias("c")
        ).distinct()
        # aliveness: a proposal is a CURRENT triangle iff all 3 edges
        # are in the round-start edge spine — one exploded semi join +
        # count-3, instead of three sequential spine broadcasts
        ce = cand3.select(
            F.struct("a", "b", "c").alias("t"), F.explode(tri_edges).alias("e")
        ).select("t", "e.u", "e.v")
        alive = ce.join(B(cur.select("u", "v")), ["u", "v"], "left_semi")
        dissolved = (
            alive.groupBy("t")
            .agg(F.count(F.lit(1)).alias("n3"))
            .where(F.col("n3") == 3)
            .select("t.a", "t.b", "t.c")
        )
        delta = (
            dissolved.select(F.explode(tri_edges).alias("e"))
            .select("e.u", "e.v")
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        cur = (
            cur.where(F.col("support") >= k - 2)
            .join(B(delta), ["u", "v"], "left")
            .select(
                "u",
                "v",
                (F.col("support") - F.coalesce("d", F.lit(0))).alias("support"),
            )
            .localCheckpoint(eager=False)
        )
    return cur.select("u", "v", F.col("support").cast("bigint").alias("support"))


def jaccard_link_prediction(
    edges: DataFrame, max_center_degree: int | None = None
) -> DataFrame:
    """Neighborhood-Jaccard link prediction over an UNDIRECTED graph:
    for every NON-adjacent pair (a < b) with at least one common
    neighbor, J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| — adamic_adar's
    set-overlap sibling (no rarity weighting, pure structural
    similarity). Returns (a, b, common, union_size, score); the score
    is one exact-integer division (common / (deg_a + deg_b − common)) —
    bit-identical cross-engine, NO rounding, unlike adamic_adar's
    ln-sum.

    Scale posture: identical wedge shape to adamic_adar (hub centers
    cost deg² — ``max_center_degree`` makes the cap part of the
    semantics); the per-endpoint degrees join back via two broadcastable
    aggregate frames keyed on the node id.
    """
    e = _undirected(edges)  # reused: adjacency + anti join
    wedges, deg = _wedges(e, max_center_degree)
    pairs = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("common")
    )
    da = deg.select(F.col("z").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("z").alias("b"), F.col("deg").alias("db"))
    scored = (
        pairs.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            (F.col("da") + F.col("db") - F.col("common"))
            .cast("bigint")
            .alias("union_size"),
            (
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double")
            ).alias("score"),
        )
    )
    return _non_adjacent(scored, e)


_BROADCAST_MAX_ROWS = 1_000_000


def _known_small(df: DataFrame, rows: int | None) -> DataFrame:
    """Broadcast-hint ``df`` when the caller has MEASURED it small.

    Iterative graph frames are localCheckpoint-ed RDD scans, whose size
    estimate is the catalog default (``Long.Max``) — the planner
    therefore picks SortMergeJoin and re-shuffles the |E|-row edges
    frame on EVERY level even when the frontier is a few thousand rows,
    and AQE cannot rescue it (RDD scans are not shuffle query stages,
    so no runtime size ever becomes visible). The loops here already
    materialize each level eagerly and know its exact count, so they
    can make the size-based call the planner can't: hint broadcast
    below the row threshold, fall back to the planner's own choice
    (shuffle join) above it — exactly AQE's decision rule, applied
    where AQE is blind. Scale-adaptive by construction: a 100 TB
    frontier of hundreds of millions of rows exceeds the threshold and
    keeps today's shuffle plan."""
    if rows is not None and rows <= _BROADCAST_MAX_ROWS:
        return F.broadcast(df)
    return df


def seeded_bfs(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Per-seed BFS distance frame (seed, node, dist) to ``max_hops`` —
    the ``bfs`` frontier loop lifted to (seed, node) keys; shared by
    closeness and eccentricity. Edges are lazily localCheckpoint-ed —
    every hop re-reads them (bfs's rationale).

    Per-hop shape: ONE data-bearing exchange (the distinct on the
    expansion). The frontier and the visited set are broadcast-hinted
    via their measured counts (:func:`_known_small`), so the |E| edges
    frame is streamed in place instead of re-shuffled per hop, and the
    anti-join builds a hash set instead of sorting both sides. The
    previous shape re-materialized the whole cumulative ``dist`` frame
    every hop (O(levels²) checkpoint writes) — levels are now kept as
    separate checkpointed frames and unioned lazily at the end."""
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    l0 = (
        seeds.select(F.col("node").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    return _frontier_levels(edges, l0, ["seed", "node"], max_hops)


def _frontier_levels(
    edges: DataFrame, l0: DataFrame, keys: list[str], max_hops: int
) -> DataFrame:
    """The level loop of :func:`bfs` and :func:`seeded_bfs`: from the
    checkpointed level-0 frame (``keys`` + ``dist``), expand the last
    frontier through ``edges`` one hop at a time, anti-join out every
    visited key, and checkpoint each level eagerly; stops at
    ``max_hops`` or an empty level. The last key is the node; the ones
    before it ride along unchanged. Returns the levels unioned lazily
    as (``keys``, dist)."""
    levels = [(l0.select(*keys), l0.count())]
    dist_parts = [l0]
    frontier, n_frontier = levels[0]
    for hop in range(1, max_hops + 1):
        fb = _known_small(frontier, n_frontier)
        visited = levels[0][0]
        for lvl, _n in levels[1:]:
            visited = visited.unionByName(lvl)
        n_visited = sum(n for _lvl, n in levels)
        nxt = (
            fb.join(edges, fb.node == edges.src)
            .select(*keys[:-1], F.col("dst").alias("node"))
            .distinct()
            .join(_known_small(visited, n_visited), keys, "left_anti")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        if n_nxt == 0:
            break
        levels.append((nxt, n_nxt))
        dist_parts.append(nxt.select(*keys, F.lit(hop).alias("dist")))
        frontier, n_frontier = nxt, n_nxt
    dist = dist_parts[0]
    for part in dist_parts[1:]:
        dist = dist.unionByName(part)
    return dist


def closeness(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Capped closeness centrality for the ``seeds`` (one ``node``
    column): per seed, a BFS to ``max_hops`` and
    closeness = (reached − 1) / Σ dist over the reached set — the
    classic formula restricted to the hop-capped ball (documented:
    disconnected remainders simply don't contribute, the standard
    Wasserman-Faust workaround without a float harmonic sum). Returns
    (node, reached, sum_dist, closeness); every input to the one final
    double division is an exact integer — no rounding.

    Shape: the ``bfs`` frontier loop lifted to (seed, node) keys — the
    k seeds ride the same per-level join/anti-join/eager-checkpoint
    machinery, so the traversal costs k·BFS with identical partitioning
    (hash on the expansion key). k is small by contract (centrality
    probes), so the frontier blowup is bounded."""
    dist = seeded_bfs(edges, seeds, max_hops)
    per = dist.groupBy(F.col("seed").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("reached"),
        F.sum("dist").cast("bigint").alias("sum_dist"),
    )
    return per.select(
        "node",
        "reached",
        "sum_dist",
        (
            (F.col("reached") - 1).cast("double")
            / F.col("sum_dist").cast("double")
        ).alias("closeness"),
    )


def harmonic_centrality(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Hop-capped harmonic centrality for the ``seeds``: per seed,
    H = Σ_{v reached, d(v)>0} 1/d(v) — closeness' disconnection-robust
    sibling (unreached nodes contribute 0 instead of poisoning a global
    Σdist; Boldi-Vigna's recommended form). With the hop cap the sum is
    c1/1 + c2/2 + … + c_h/h over the per-level reach counts, so the
    float work is ONE fixed-length expression over exact integers —
    bit-identical cross-engine, no per-node float accumulation at all.
    Returns (node, reached, harmonic).

    Shape: identical to closeness (one seeded_bfs + a per-seed
    conditional-count aggregate); cost k·BFS, hash-partitioned on the
    (seed, node) expansion key."""
    dist = seeded_bfs(edges, seeds, max_hops)
    counts = dist.groupBy(F.col("seed").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("reached"),
        *[
            F.sum(F.when(F.col("dist") == h, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c{h}")
            for h in range(1, max_hops + 1)
        ],
    )
    harmonic = " + ".join(f"c{h} / {h}.0e0" for h in range(1, max_hops + 1))
    return counts.selectExpr("node", "reached", f"{harmonic} AS harmonic")


def betweenness_sample(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 3
) -> DataFrame:
    """Brandes betweenness centrality, seed-sampled and hop-capped:
    forward multi-source BFS accumulates exact-integer shortest-path
    counts sigma per (seed, node, level); the backward pass folds the
    dependency recurrence delta(v) = Σ_successors sigma(v)/sigma(w) ·
    (1 + delta(w)) level by level (a DAG edge is exactly a frame-l →
    frame-l+1 edge, so no predecessor lists are materialized). Returns
    (node, betweenness) = Σ_seeds delta over non-seed nodes, rounded to
    6 (the successor/seed sums are engine-order floats; sigma itself is
    exact). Sampled-seed betweenness is the standard approximation
    (Brandes-Pich); the hop cap bounds both rounds and state.

    Shape: forward = the bfs frontier loop on (seed, node) keys with a
    sigma sum folded into the level aggregate; backward = one
    co-partitioned join per level. Everything hash-partitions on the
    expansion key; per-level frames are |reached| rows. Edges are
    lazily localCheckpoint-ed — both passes re-read them every level
    (bfs's rationale). Both passes broadcast-hint the measured-small
    per-level frames (:func:`_known_small`), so each level pays ONE
    data-bearing exchange (its sigma/delta aggregate) instead of
    re-shuffling the |E| edges frame per level."""
    edges = edges.select("src", "dst").localCheckpoint(eager=False)
    l0 = (
        seeds.select(F.col("node").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(1).cast("bigint").alias("sig"))
        .localCheckpoint(eager=True)
    )
    levels = [(l0, l0.count())]
    frontier, n_frontier = l0, levels[0][1]
    for _ in range(1, max_hops + 1):
        fb = _known_small(frontier, n_frontier)
        visited = levels[0][0].select("seed", "node")
        for lvl, _n in levels[1:]:
            visited = visited.unionByName(lvl.select("seed", "node"))
        n_visited = sum(n for _lvl, n in levels)
        nxt = (
            fb.join(edges, fb.node == edges.src)
            .select("seed", F.col("dst").alias("node"), "sig")
            .groupBy("seed", "node")
            .agg(F.sum("sig").cast("bigint").alias("sig"))
            .join(_known_small(visited, n_visited), ["seed", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        n_nxt = nxt.count()
        if n_nxt == 0:
            break
        levels.append((nxt, n_nxt))
        frontier, n_frontier = nxt, n_nxt
    # backward dependency accumulation
    deep = levels[-1][0].select(
        "seed", "node", "sig", F.lit(0.0).alias("delta")
    )
    acc = [deep] if len(levels) > 1 else []
    nxt_lvl, n_nxt_lvl = deep, levels[-1][1]
    for l in range(len(levels) - 2, -1, -1):
        cur, n_cur = levels[l]
        succ = nxt_lvl.select(
            F.col("seed").alias("seed_w"),
            F.col("node").alias("w"),
            F.col("sig").alias("sig_w"),
            F.col("delta").alias("delta_w"),
        )
        cb = _known_small(cur, n_cur)
        contrib = (
            cb.join(edges, cb.node == edges.src)
            .join(
                _known_small(succ, n_nxt_lvl),
                (F.col("seed") == F.col("seed_w")) & (F.col("dst") == F.col("w")),
            )
            .groupBy("seed", "node")
            .agg(
                F.sum(
                    F.col("sig").cast("double")
                    / F.col("sig_w").cast("double")
                    * (1 + F.col("delta_w"))
                ).alias("delta")
            )
        )
        # contrib has at most |cur| rows — the same measured bound
        cur_d = (
            cur.join(
                _known_small(contrib.withColumnRenamed("delta", "__d"), n_cur),
                ["seed", "node"],
                "left",
            )
            .select(
                "seed",
                "node",
                "sig",
                F.coalesce(F.col("__d"), F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        if l > 0:
            acc.append(cur_d)
        nxt_lvl, n_nxt_lvl = cur_d, n_cur
    if not acc:
        return l0.select("node").limit(0).select(
            "node", F.lit(0.0).alias("betweenness")
        )
    allv = acc[0]
    for a in acc[1:]:
        allv = allv.unionByName(a)
    return (
        allv.groupBy("node")
        .agg(F.round(F.sum("delta"), 6).alias("betweenness"))
    )



def eccentricity(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Hop-capped eccentricity per seed — max BFS distance within the
    ``max_hops`` ball — plus the sampled diameter lower bound
    max-over-seeds broadcast onto every row. Exact integers throughout.
    Same k·BFS cost as ``closeness`` (shared ``seeded_bfs`` frame)."""
    dist = seeded_bfs(edges, seeds, max_hops)
    per = dist.groupBy(F.col("seed").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("reached"),
        F.max("dist").cast("bigint").alias("ecc"),
    )
    dia = per.agg(F.max("ecc").cast("bigint").alias("diameter_lb"))
    return per.crossJoin(F.broadcast(dia))


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """(node, score) after ``iters`` personalized-PageRank steps over
    directed ``edges`` (src, dst): the teleport vector is uniform over
    ``seeds`` (one ``node`` column) instead of uniform over all nodes —
    score_0 = 1/|S| on seeds (0 elsewhere); score_{t+1}(v) =
    (1-d)·[v∈S]/|S| + d·Σ_{u→v} score_t(u)/outdeg(u).

    The similarity-to-the-seed-set ranking behind "related items" /
    local community detection. Same fixed-k deterministic recurrence
    and co-partitioned join-per-iteration shape as :func:`pagerank`;
    the seed table joins in BROADCAST (seed sets are query-sized, not
    data-sized). Dangling mass leaks, matching the base convention.
    """
    if iters < 1:
        raise ValueError("personalized_pagerank requires iters >= 1")
    edges, nodes = _directed(edges)
    seeds = seeds.select("node").distinct()
    ns = seeds.agg(F.count(F.lit(1)).alias("ns"))
    outdeg = _out_degree(edges)
    flagged = (
        nodes.join(
            F.broadcast(seeds.withColumn("is_seed", F.lit(1))), "node", "left"
        )
        .crossJoin(F.broadcast(ns))
        .select(
            "node",
            "ns",
            F.coalesce("is_seed", F.lit(0)).alias("is_seed"),
        )
    )
    scores = flagged.select(
        "node",
        "ns",
        "is_seed",
        (F.col("is_seed").cast("double") / F.col("ns")).alias("score"),
    )
    for _ in range(iters):
        contrib = _in_mass(edges, scores, outdeg)
        scores = (
            scores.join(contrib, scores.node == contrib.dst, "left")
            .select(
                "node",
                "ns",
                "is_seed",
                (
                    (1.0 - damping)
                    * (F.col("is_seed").cast("double") / F.col("ns"))
                    + damping * F.coalesce("in_mass", F.lit(0.0))
                ).alias("score"),
            )
        )
    return scores.select("node", "score")


def katz_centrality(
    edges: DataFrame,
    iters: int = 3,
    beta: float = 0.1,
) -> DataFrame:
    """(node, score) after ``iters`` Katz-centrality steps over directed
    ``edges`` (src, dst): x_0 = 1; x_{t+1}(v) = 1 + β·Σ_{u→v} x_t(u) —
    the unrolled truncation of Katz's Σ_k β^k (Aᵀ)^k 1 that counts walks
    of every length with geometric damping, crediting a node for being
    reachable (unlike degree) without PageRank's out-degree dilution.

    Same fixed-k deterministic recurrence and co-partitioned
    join-per-iteration shape as :func:`pagerank` (one edges⨝scores hash
    join + one groupBy(dst) per step); β must be small enough to
    converge in spirit but the fixed-k unroll is deterministic and
    oracle-checkable regardless.
    """
    if iters < 1:
        raise ValueError("katz_centrality requires iters >= 1")
    edges, nodes = _directed(edges)
    scores = nodes.select("node", F.lit(1.0).alias("score"))
    for _ in range(iters):
        in_mass = (
            edges.join(scores, edges.src == scores.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("score").alias("m"))
        )
        scores = (
            nodes.join(in_mass, "node", "left")
            .select(
                "node",
                (1.0 + beta * F.coalesce("m", F.lit(0.0))).alias("score"),
            )
        )
    return scores
