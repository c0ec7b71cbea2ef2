"""Connected components over duplicate-pair edges.

The dedup family (`operators/dedup.py`) emits *pairs*; a real corpus
cleanup needs *clusters*: transitively-closed duplicate groups and one
canonical survivor per group (the reference stops at pairwise matches —
`/root/reference/pl_fuzzy_frame_match/matcher.py` returns joined rows —
so this is a pipeline extension, not a port).

Spark-first design: iterative min-label propagation expressed as plain
DataFrame joins/aggregations with a driver-side convergence loop.

- Each round is two hash-shuffles (edge⋈label join, per-node min): no
  windows, no driver data path; `localCheckpoint` truncates lineage per
  round so round k never re-executes rounds 1..k-1.
- Labels propagate through the CURRENT label graph as well as the raw
  edges (a "pointer-jumping" edge from every node to its current
  component label), which collapses long chains in O(log diameter)
  rounds instead of O(diameter) — the classic hash-to-min acceleration
  (Rastogi et al., "Finding Connected Components in Map-Reduce in
  Logarithmic Rounds", ICDE 2013).
- Near-dup graphs at corpus scale are dense star-like clusters with
  tiny diameters, so convergence is typically 2-3 rounds; the
  `max_rounds` guard turns a pathological input into an error rather
  than an infinite job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Below this (symmetrized, deduped) edge count the component labeling
# runs as a driver-side union-find over one collect — near-dup edge
# sets are a tiny fraction of any corpus (256 edges from 5K docs at
# the bench scale), and the distributed loop's per-round fixed cost
# (checkpoint + convergence probe jobs) dwarfs the actual work there.
# 2M (u, v) longs is ~32 MB on the driver. Past the limit the
# pointer-jumping loop below is the (unchanged) 100 TB path — the
# crossover is planner-chosen from the measured count, same pattern as
# the vector family's broadcast <-> blocked switch. (The crossover
# compares the RAW input count against LIMIT/2 — the same boundary,
# measured before the 2x symmetrize.)
SMALL_GRAPH_EDGE_LIMIT = 2_000_000

# Round-count instrumentation is returned from connected_components
# via ``return_rounds=True`` (a (df, rounds) tuple) — the former
# module-level LAST_DISTRIBUTED_ROUNDS global raced under concurrent
# callers (ADVICE r8) and was removed in round 9;
# scripts/probe_graph_scale.py and the O(log diameter) iteration
# assertion now read the returned count.


def _driver_union_find(sym: DataFrame) -> DataFrame:
    """Min-id union-find over a collected edge list; returns the same
    (node, component) contract as the distributed loop (min reachable
    id — unique fixpoint, so the two paths agree exactly)."""
    parent: dict = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in sym.collect():
        u, v = row["u"], row["v"]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN id: the root is always the component min
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    rows = [(n, find(n)) for n in parent]
    return sym.sparkSession.createDataFrame(
        rows, "node long, component long"
    )


def connected_components(
    edges: DataFrame,
    left_col: str = "left_id",
    right_col: str = "right_id",
    max_rounds: int = 50,
    return_rounds: bool = False,
    small_edge_limit: "int | None" = None,
):
    """``(node, component)`` for every node incident to an edge, where
    ``component`` is the minimum node id reachable from ``node``
    (undirected). Deterministic: min-id labeling has a unique fixpoint.

    ``return_rounds=True`` returns ``(df, rounds)`` where ``rounds`` is
    the number of pointer-jumping iterations the distributed loop ran
    (0 on the driver union-find path) — thread-safe, unlike the former
    module global (ADVICE r8). ``small_edge_limit`` overrides the
    module-level driver/distributed crossover (probe/test hook)."""
    limit = (
        SMALL_GRAPH_EDGE_LIMIT if small_edge_limit is None
        else small_edge_limit
    )
    raw = edges.select(
        F.col(left_col).cast("long").alias("u"),
        F.col(right_col).cast("long").alias("v"),
    )
    # materialize the INPUT once before anything references it twice:
    # symmetrizing first (union of both orientations) evaluated the
    # whole upstream pair-search plan TWICE inside one checkpoint job
    # (measured on the semantic-dedup keep path, VERDICT r5 #5)
    raw = raw.localCheckpoint(eager=True)
    if raw.count() <= limit // 2:  # free: checkpointed
        # union-find is orientation-agnostic and dup-tolerant: skip the
        # symmetrize + distinct shuffle entirely on the driver path
        out = _driver_union_find(raw)
        return (out, 0) if return_rounds else out
    sym = raw.union(
        raw.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    sym = sym.localCheckpoint(eager=True)

    labels = (
        sym.groupBy("u")
        .agg(F.least(F.first("u"), F.min("v")).alias("label"))
        .localCheckpoint(eager=True)
    )

    for _round in range(max_rounds):
        # pointer-jumping edges: node <-> its current label. Unioned
        # with the raw edges they let a label learned anywhere in the
        # cluster reach every member in O(log d) rounds.
        jump = labels.filter(F.col("u") != F.col("label")).select(
            F.col("u"), F.col("label").alias("v")
        )
        frontier = sym.unionByName(jump).unionByName(
            jump.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        prop = (
            frontier.join(labels, on="u", how="inner")
            .groupBy("v")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(prop, labels["u"] == prop["v"], "left")
            .select(
                labels["u"].alias("u"),
                F.least(
                    labels["label"],
                    F.coalesce(prop["nlabel"], labels["label"]),
                ).alias("label"),
            )
            # lazy checkpoint: the convergence probe below is the
            # round's first action and materializes it — one job per
            # round instead of (eager checkpoint + probe)
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="u")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        rounds = _round + 1
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    out = labels.select(
        F.col("u").alias("node"), F.col("label").alias("component")
    )
    return (out, rounds) if return_rounds else out


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """``(id_col, component)`` for EVERY row of ``df``: members of a
    duplicate cluster get the cluster's min id, singletons get their
    own id. The frame join is a left join on the (small) component
    labels — broadcastable whenever the duplicate set is a fraction of
    the corpus, which at dedup selectivities it always is."""
    cc = connected_components(pairs, left_col, right_col).select(
        F.col("node").alias(id_col), "component"
    )
    return df.join(cc, on=id_col, how="left").withColumn(
        "component",
        F.coalesce(F.col("component"), F.col(id_col).cast("long")),
    )


def canonical_corpus(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """The deduplicated corpus: keep exactly one row (the min-id
    member) per duplicate cluster plus every singleton. Anti-join
    formulation — the big frame is filtered with a left_semi join
    against the (small) survivor-id set, never sorted or windowed."""
    labeled = dedup_components(df, pairs, id_col, left_col, right_col)
    keep = (
        labeled.groupBy("component")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# Graph analytics over corpus-derived edges (round 9): PageRank and
# degree-ordered triangle counting. Both are plain DataFrame programs —
# no GraphX/GraphFrames dependency — expressed the way they distribute:
# PageRank as k rounds of (co-partitioned join + per-dst sum), triangle
# counting as the Suri–Vassilvitskii degree-orientation join (each
# triangle enumerated exactly once from its lowest-degree corner, which
# bounds wedge fan-out by O(sqrt(m)) per node instead of max-degree).
# ---------------------------------------------------------------------------


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Defensive canonicalization (ADVICE r9): accept edge lists that
    contain either or BOTH orientations of an undirected edge and
    reduce to the canonical u < v form. Without this, an input holding
    (a, b) and (b, a) would survive ``distinct()`` as two rows, double
    every degree and count every triangle twice. ``least``/``greatest``
    is the identity on already-canonical input, so the SQL oracles
    (which unroll over canonical edge fixtures) are unchanged."""
    return (
        edges.select("u", "v")
        .where(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )


def _symmetrized(edges: DataFrame) -> DataFrame:
    """Undirected edges (either/both orientations) -> both directions,
    distinct."""
    e = _canonical_edges(edges)
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


# Below this many vertices the rank vector is explicitly broadcast
# each round (~16 bytes/vertex -> ~32 MB at the bound, well inside
# executor memory) and the PageRank loop runs with ZERO exchanges;
# past it the loop falls back to shuffling only the rank vector.
PAGERANK_BROADCAST_NODES = 2_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint_every: int = 5,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank over an undirected edge list (treated as a symmetric
    digraph), fixed iteration count, uniform init 1/N.

    With ``weight_col`` the walk is weighted: a node distributes its
    rank to neighbors proportionally to edge weight (duplicate (u, v)
    rows have their weights summed). Unweighted behaves as all-ones.

    Vertex set = nodes incident to at least one edge, so every vertex
    has out-degree >= 1 and the dangling-mass term vanishes — the spec
    the SQL oracle replays by unrolling the rounds.

    Scale shape (100 TB): ONE setup shuffle builds the per-edge rank
    share ``_w / wsum`` (orientation merge, degree sum and the wsum
    join are all partition-local behind it), then the adjacency is
    hash-partitioned by ``dst`` and persisted. When the vertex count
    is at most ``PAGERANK_BROADCAST_NODES`` the loop is EXCHANGE-FREE:
    the rank vector (node, rank — tens of bytes per vertex) is
    broadcast each round, the contribution join is map-side, and the
    per-dst sum reuses the adjacency partitioning. Past the bound the
    loop falls back to re-shuffling only the rank vector per round
    (one join + one per-dst sum — the minimal data motion of
    distributed PageRank at billions of vertices). The driver holds
    two scalars (N, round index); lineage is truncated every
    ``checkpoint_every`` rounds so round k never replays rounds
    1..k-1.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    # Canonicalization + weight merge + symmetrize, fused behind ONE
    # shuffle (VERDICT r10 #2 — the round-10 defensive groupBy(u, v)
    # paid a full extra edge exchange, regressing the bench 1.5x).
    # Emit BOTH orientations map-side (one scan, no self-union), then
    # a single explicit repartition by src; because hash(src) clusters
    # every (src, dst) pair, the duplicate-orientation weight merge,
    # the degree aggregate AND the adjacency join all stay
    # partition-local — Catalyst inserts no further Exchange. The
    # merged multiset is identical to canonical-then-symmetrize: an
    # input carrying (a, b, w1) and (b, a, w2) lands as
    # (a, b, w1+w2) / (b, a, w1+w2) either way (ADVICE r9 semantics
    # preserved).
    sym_raw = (
        edges.where(
            F.col("u").isNotNull()
            & F.col("v").isNotNull()
            & (F.col("u") != F.col("v"))
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("src"),
                        F.col("v").alias("dst"),
                        w.alias("_w"),
                    ),
                    F.struct(
                        F.col("v").alias("src"),
                        F.col("u").alias("dst"),
                        w.alias("_w"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst", "e._w")
        .repartition(shuffle, "src")
    )
    sym = sym_raw.groupBy("src", "dst").agg(F.sum("_w").alias("_w"))
    deg = sym.groupBy("src").agg(F.sum("_w").alias("wsum"))
    # pre-divide the per-edge rank share once; the loop then only
    # needs (src, dst, sw)
    shares = sym.join(deg, "src").select(
        "src", "dst", (F.col("_w") / F.col("wsum")).alias("sw")
    ).persist()
    # ONE pass materializes the cache; node count and the node frame
    # are partition-local distincts over it (hash(src) clustering)
    n = shares.select("src").distinct().count()
    if n == 0:
        shares.unpersist()
        return spark.createDataFrame([], "node long, rank double")
    small = n <= PAGERANK_BROADCAST_NODES
    if small:
        # exchange-free loop: adjacency re-keyed by dst ONCE (read
        # from the cache, one bounded shuffle), rank vector broadcast
        # per round (<= PAGERANK_BROADCAST_NODES rows ~ tens of MB),
        # contribution sum partition-local on dst
        adj = shares.repartition(shuffle, "dst").persist()
    else:
        adj = shares
    nodes = shares.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    for i in range(iterations):
        rank_side = F.broadcast(ranks) if small else ranks
        contrib = (
            adj.join(rank_side, adj["src"] == rank_side["node"])
            .select("dst", (F.col("rank") * F.col("sw")).alias("share"))
            .groupBy("dst")
            .agg(F.sum("share").alias("mass"))
        )
        if small:
            contrib = F.broadcast(contrib)
        ranks = nodes.join(contrib, nodes["node"] == contrib["dst"], "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))).alias(
                "rank"
            ),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    # materialize the result, then release the adjacency cache — a
    # long-lived session calling pagerank repeatedly must not
    # accumulate persisted partitions until LRU eviction (ADVICE r9)
    ranks = ranks.localCheckpoint(eager=True)
    adj.unpersist()
    shares.unpersist()
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    an undirected edge list.

    Degree-ordered enumeration: orient every edge from its lower
    (degree, id) endpoint to the higher, list each low-corner's ordered
    out-neighbor pairs (the wedges), and keep wedges closed by an
    oriented edge — each triangle is found exactly once, and the wedge
    fan-out per node is bounded by its ORIENTED out-degree, O(sqrt(m))
    after orientation (Suri & Vassilvitskii, WWW 2011). Three
    hash-shuffles total (degree agg, wedge self-join, closing join);
    no node ever sees more than its out-neighborhood squared.

    Output: (node, degree, triangles, clustering) — clustering =
    2T / (deg * (deg - 1)) for deg >= 2, else 0.0.
    """
    # The edge pipeline feeds MANY consumers below (symmetrize, both
    # degree sides, the orientation join, both packed-adjacency lookup
    # sides, the final degree join): without a materialization each
    # branch re-executes the whole upstream candidate build — the
    # committed before-plan (plans/r12/graph_triangles_copurchase_
    # before.txt) shows 188 parquet scans / 552 Exchanges in ONE plan
    # for the co-purchase flagship (guide §2.4: remove shuffles
    # outright; §5: cut lineage when an intermediate is reused).
    # One eager checkpoint of the canonical edge set collapses that to
    # a single evaluation; deg / oriented / adj below get the same
    # treatment because each is read 2-3 times.
    e = _canonical_edges(edges).localCheckpoint(eager=True)
    # e is already canonical — symmetrize directly (the defensive
    # re-canonicalization in _symmetrized would add a second distinct
    # exchange over data that cannot contain mirrored duplicates)
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("u").alias("node"), "deg")
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    with_deg = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    )
    # Edge-iterator over the oriented graph with packed adjacency
    # arrays: for oriented edge (u, v) every w in out(u) ∩ out(v)
    # closes a triangle whose orientation-order corners are u < v < w
    # — each triangle found exactly once. Packing out-neighborhoods
    # into sorted arrays ships the same Σ outdeg² wedge volume in m
    # shuffle ROWS instead of Σ outdeg² rows and evaluates the
    # intersection in one codegen'd array_intersect per edge: 8x
    # faster than the row-level wedge self-join at the bench scale
    # (41M wedges / 1.2M edges: 27 s -> 3.1 s, A/B in PLANS.md r9).
    oriented = oriented.drop("ddst").localCheckpoint(eager=True)
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    ).localCheckpoint(eager=True)
    # NOT broadcast: an A/B this round measured broadcasting the two
    # packed-array lookup sides (~10 MB each at bench scale) at
    # 7.8 -> 10.8 s median — the hash-relation build over array
    # payloads costs more than the two shuffle joins it removes
    # (PLANS.md round 11). Shuffle hash joins stay.
    a_u = adj.select(F.col("src").alias("_u"), F.col("nbrs").alias("nu"))
    a_v = adj.select(F.col("src").alias("_v"), F.col("nbrs").alias("nv"))
    tris = (
        oriented.join(a_u, oriented["src"] == a_u["_u"])
        .join(a_v, oriented["dst"] == a_v["_v"])
        .select(
            "src",
            F.col("dst").alias("b"),
            F.explode(F.array_intersect("nu", "nv")).alias("c"),
        )
    )
    # one evaluation of the wedge join instead of three: the 3-way
    # corner union re-executed the tris subtree per branch; exploding
    # a 3-element corner array is the identical multiset in ONE pass
    corners = tris.select(
        F.explode(F.array("src", "b", "c")).alias("node")
    )
    per_node = corners.groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    return deg.join(per_node, "node", "left").select(
        "node",
        F.col("deg").alias("degree"),
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        F.round(
            F.when(
                F.col("deg") >= 2,
                2.0
                * F.coalesce(F.col("triangles"), F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1.0))),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("clustering"),
    )


def cooccurrence_edges(
    df: DataFrame, group_col: str, item_col: str, weighted: bool = False
) -> DataFrame:
    """Market-basket edges: one undirected edge (u < v) per pair of
    distinct items sharing a group (e.g. parts co-ordered in the same
    order). The self-join is an equi-join on the group key — per-group
    fan-out is quadratic in basket size, which is small and bounded in
    basket-shaped data. Unweighted: repeat co-purchases collapse to
    one edge. ``weighted=True`` adds ``w`` = the number of groups the
    pair shares (co-purchase strength), the natural input for the
    weighted PageRank walk."""
    # one exchange instead of three (guide §2.4): the old form ran
    # distinct(g, u) -> self-equi-join on g -> distinct(u, v), each its
    # own shuffle (plus AQE stage jobs). collect_set dedupes items
    # within the basket in the same map-side-combined aggregation, and
    # the u < v pairs are generated INSIDE the sorted basket array with
    # higher-order functions — the only remaining shuffles are the
    # basket groupBy and the final pair dedup/count. Per-basket fan-out
    # stays quadratic in basket size exactly as the join form was.
    baskets = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("u"))
        .where(F.col(group_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy("g")
        .agg(F.array_sort(F.collect_set("u")).alias("__items"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(__items, (x, i) -> "
                "transform(slice(__items, i + 2, size(__items)), "
                "y -> named_struct('u', x, 'v', y))))"
            )
        ).alias("__p")
    ).select(F.col("__p.u").alias("u"), F.col("__p.v").alias("v"))
    if weighted:
        # collect_set made each basket contribute a pair at most once,
        # so the count is exactly "number of groups sharing the pair"
        return pairs.groupBy("u", "v").agg(
            F.count(F.lit(1)).cast("double").alias("w")
        )
    return pairs.distinct()


def link_prediction(
    edges: DataFrame,
    k: int = 50,
    max_degree: int | None = 1000,
) -> DataFrame:
    """Neighborhood-overlap link prediction (Liben-Nowell &
    Kleinberg, CIKM 2003): for every NON-adjacent node pair at
    distance 2, the three classic scores —

        common_neighbors = |N(u) ∩ N(v)|
        jaccard          = cn / (deg(u) + deg(v) - cn)
        adamic_adar      = sum over z in N(u) ∩ N(v) of 1 / ln deg(z)

    returning the top ``k`` pairs by (rounded Adamic-Adar desc,
    common-neighbor count desc, u, v) — the rounding (6 dp) makes the
    cut deterministic across engines and summation orders.

    Plan: one wedge self-join through each MIDDLE node z (two rows of
    the symmetric adjacency sharing z), one (u, v) aggregate, an anti
    join against the existing edges, and a TakeOrdered top-k — no
    global sort. Wedge volume is sum over z of deg(z)^2, the same
    blowup triangle counting faces; ``max_degree`` purges hub middles
    (default 1000), bounding any z's fan-out while costing almost no
    score mass — a hub's Adamic-Adar contribution is 1/ln(deg),
    already near zero exactly when it is expensive. ``None`` disables
    purging for exhaustive small-graph runs."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # same multi-consumer lineage hygiene as triangle_stats: e feeds
    # the symmetrize (hence both wedge sides) AND the anti-join
    # broadcast; deg feeds the middle filter and both endpoint degree
    # joins. The committed before-plan showed 44 parquet scans / 130
    # Exchanges from the re-executed candidate build (guide §2.4/§5).
    e = _canonical_edges(edges).localCheckpoint(eager=True)
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .select(F.col("u").alias("node"), "_deg")
        .localCheckpoint(eager=True)
    )
    mid = deg
    if max_degree is not None:
        mid = deg.where(F.col("_deg") <= F.lit(int(max_degree)))
    # precompute the middle's Adamic-Adar weight once per NODE (tiny
    # broadcast frame) so the 10^8-row wedge stream carries one ready
    # double instead of paying a log per wedge row. Degree-1 nodes
    # can never be a wedge middle — drop them BEFORE the 1/ln(deg)
    # division (ln 1 = 0 would trip ANSI mode's divide-by-zero)
    mid = mid.where(F.col("_deg") >= 2).select(
        "node",
        (F.lit(1.0) / F.log(F.col("_deg").cast("double"))).alias("_w"),
    )
    a = sym.select(F.col("u").alias("z"), F.col("v").alias("x"))
    b = sym.select(F.col("u").alias("z"), F.col("v").alias("y"))
    wedges = (
        a.join(b, "z")
        .where(F.col("x") < F.col("y"))
        .join(F.broadcast(mid), mid["node"] == F.col("z"))
        .select("x", "y", "_w")
    )
    scores = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum("_w").alias("_aa"),
    )
    # the edge set is orders smaller than the candidate-pair set —
    # broadcast it so the anti join never shuffles the scores frame
    non_adj = scores.join(
        F.broadcast(e),
        (scores["x"] == e["u"]) & (scores["y"] == e["v"]),
        "left_anti",
    )
    dx = deg.select(F.col("node").alias("x"), F.col("_deg").alias("_dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("_deg").alias("_dy"))
    out = (
        non_adj.join(dx, "x")
        .join(dy, "y")
        .select(
            F.col("x").alias("u"),
            F.col("y").alias("v"),
            F.col("common_neighbors").cast("long"),
            F.round(
                F.col("common_neighbors")
                / (F.col("_dx") + F.col("_dy") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            F.round(F.col("_aa"), 6).alias("adamic_adar"),
        )
    )
    return out.orderBy(
        F.col("adamic_adar").desc(),
        F.col("common_neighbors").desc(),
        F.col("u").asc(),
        F.col("v").asc(),
    ).limit(k)


# Below this many directed (symmetrized) edges the walk adjacency is
# packed into per-node neighbor arrays and broadcast per step (~8 B /
# edge in the arrays -> ~64 MB at the bound); past it the unbounded
# ranked-adjacency equi-join form runs.
WALK_ADJ_BROADCAST_EDGES = 8_000_000


def _walks_core(
    edges: DataFrame,
    length: int,
    seed: str,
    starts: DataFrame | None,
) -> tuple[str, DataFrame]:
    """Shared walk engine behind :func:`deterministic_walks` and
    :func:`walk_path_arrays`. Returns ``("paths", df)`` on the small
    (broadcast-adjacency) route — one row per walk, ``path`` array of
    length+1 node entries, null from the first dead step onward — or
    ``("rows", df)`` on the large (ranked-adjacency) route — the
    exploded (start, step, node) rows, dead steps simply absent."""
    from pyspark.sql import Window

    if length < 0:
        raise ValueError("length must be >= 0")
    # sym feeds the size probe AND the adjacency build (and, on the
    # large path, the degree aggregate too) — materialize once so the
    # upstream edge pipeline is not re-executed per consumer
    sym = _symmetrized(edges).localCheckpoint(eager=True)

    def _draw(t: int):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("node").cast("string"),
                        F.lit(f":{t}:{seed}"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    small = (
        sym.limit(WALK_ADJ_BROADCAST_EDGES + 1).count()
        <= WALK_ADJ_BROADCAST_EDGES
    )
    if small:
        # packed-array form: sort_array(collect_list) is the same
        # id-ascending neighbor order the row_number rank form walks
        adj = (
            sym.groupBy("u")
            .agg(F.sort_array(F.collect_list("v")).alias("__nbrs"))
            .localCheckpoint(eager=True)
        )
        if starts is None:
            starts = adj.select(F.col("u").alias("start"))
        # ONE linear chain carrying the whole path as an array, then a
        # single posexplode — the former per-step unionByName re-built
        # every prefix chain per branch (O(L^2) broadcast joins across
        # the union's subtrees; guide §2.4). Walks that die (a node
        # with no adjacency row — impossible on a symmetrized graph,
        # but the operator is generic) LEFT-join to a null next node;
        # nulls then propagate through the draw arithmetic for the
        # remaining steps and the final filter drops them, which is
        # exactly the rows the old inner-join branches never emitted.
        state = starts.select(
            "start",
            F.col("start").alias("node"),
            F.array(F.col("start")).alias("__path"),
        )
        for t in range(length):
            nxt = F.element_at(
                "__nbrs",
                ((_draw(t) % F.size("__nbrs")) + F.lit(1)).cast("int"),
            )
            state = state.join(
                F.broadcast(adj), state["node"] == adj["u"], "left"
            ).select(
                "start",
                nxt.alias("node"),
                F.concat(F.col("__path"), F.array(nxt)).alias("__path"),
            )
        return "paths", state.select(
            "start", F.col("__path").alias("path")
        )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("__deg"))
    ranked = (
        sym.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("u").orderBy(F.col("v").asc())),
        )
        .join(deg, "u")
        .localCheckpoint(eager=True)
    )
    if starts is None:
        starts = deg.select(F.col("u").alias("start"))
    cur = starts.select("start", F.col("start").alias("node"))
    out = cur.select("start", F.lit(0).alias("step"), "node")
    for t in range(length):
        nxt = (
            cur.join(ranked, cur["node"] == ranked["u"])
            .where(F.col("__rn") == _draw(t) % F.col("__deg") + 1)
            .select("start", F.col("v").alias("node"))
        )
        out = out.unionByName(
            nxt.select("start", F.lit(t + 1).alias("step"), "node")
        )
        cur = nxt
    return "rows", out


def deterministic_walks(
    edges: DataFrame,
    length: int = 4,
    seed: str = "w",
    starts: DataFrame | None = None,
) -> DataFrame:
    """Uniform random walks over an undirected graph with a
    DETERMINISTIC pseudo-random draw — the corpus-generation step of
    DeepWalk/node2vec (walk sequences feeding a skip-gram embedding),
    made reproducible across engines, runs and partitionings: step t
    from node x follows neighbor rank
    ``md5_u32(x ':' t ':' seed) mod deg(x)`` in the id-sorted
    adjacency — the same md5-prefix draw the sampling family uses
    (`functions/sampling.shard_of`), so a SQL engine replays every
    step exactly.

    Output: (start, step, node) for step 0..length, one walk per
    start node (default: every edge-incident node).

    Scale shape: below ``WALK_ADJ_BROADCAST_EDGES`` directed edges
    the id-sorted adjacency packs into per-node neighbor ARRAYS (one
    groupBy), checkpointed once; every step is then a BROADCAST join
    + ``element_at`` — zero per-step exchanges (A/B in PLANS.md round
    11). Past the bound the ranked-adjacency form runs instead
    (row_number per source over id-sorted neighbors, one equi-join on
    (node, drawn rank) per step) — the identical draw arithmetic,
    shuffle-bound but unbounded. Walk state is one row per walk in
    both forms; the two paths are equivalence-tested.
    """
    kind, df = _walks_core(edges, length, seed, starts)
    if kind == "rows":
        return df
    return df.select(
        "start", F.posexplode("path").alias("step", "node")
    ).where(F.col("node").isNotNull())


def walk_path_arrays(
    edges: DataFrame,
    length: int = 4,
    seed: str = "w",
    starts: DataFrame | None = None,
) -> DataFrame:
    """The walk corpus of :func:`deterministic_walks` in PATH-ARRAY
    form: one row per walk, ``(start, path)``, where ``path[i]`` is
    the node at step i. A walk's rows are exactly its non-null path
    positions and row steps equal array indices (a dead walk stays
    dead, so nulls — or, on the large route, missing steps — only
    ever trail), hence ``deterministic_walks(...) ==
    walk_path_arrays(...)`` exploded on position with nulls dropped
    (pinned by test). Per-walk consumers (the skip-gram window
    generator) read this form directly and skip the explode + walk-id
    self-join entirely (guide §2.4).

    Scale shape: identical to `deterministic_walks` on the small
    route (the broadcast array chain IS this frame). On the large
    ranked-adjacency route the step rows are re-assembled with one
    per-walk groupBy — walk state stays one row per walk."""
    kind, df = _walks_core(edges, length, seed, starts)
    if kind == "paths":
        return df
    return df.groupBy("start").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("step", "node"))),
            lambda s: s["node"],
        ).alias("path")
    )


def skipgram_pairs_from_paths(
    paths: DataFrame, window: int = 2
) -> DataFrame:
    """:func:`skipgram_pairs` computed INSIDE each walk's path array —
    (center, context, cnt) for every ordered position pair with
    ``|i - j| <= window``, i != j, both entries non-null — instead of
    exploding the paths and self-joining on the walk id (guide §2.4:
    the join's two hash exchanges disappear; the only exchange left
    is the final pair-count aggregation). Identical to
    ``skipgram_pairs(deterministic_walks(...), window)`` because walk
    rows are exactly the non-null path positions and row steps equal
    array indices (equivalence pinned by test; the sgns oracle
    value-pins every pair at both gate SFs)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    p = F.col("path")
    sz = F.size(p)
    w = F.lit(window)
    pairs_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(0), sz - 1),
            lambda i: F.filter(
                F.transform(
                    F.sequence(
                        F.greatest(i - w, F.lit(0)),
                        F.least(i + w, sz - 1),
                    ),
                    lambda j: F.struct(
                        F.element_at(p, (i + 1).cast("int")).alias(
                            "center"
                        ),
                        F.element_at(p, (j + 1).cast("int")).alias(
                            "context"
                        ),
                        (j != i).alias("__k"),
                    ),
                ),
                lambda s: s["__k"]
                & s["center"].isNotNull()
                & s["context"].isNotNull(),
            ),
        )
    )
    # empty / null paths yield no pairs: sequence(0, size - 1) would
    # count DOWN to [0, -1] there, and element_at(path, 0) raises
    pairs_arr = F.when(sz > 0, pairs_arr)
    return (
        paths.select(F.explode(pairs_arr).alias("__pr"))
        .select(F.col("__pr.center").alias("center"),
                F.col("__pr.context").alias("context"))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context) training pairs from walk sequences — the
    step between `deterministic_walks` and a skip-gram embedding
    trainer: every ordered pair of nodes co-occurring within
    ``window`` positions on the same walk, with multiplicity.

    One equi-join on the walk id with a bounded |step difference|
    predicate (band join over positions, volume <= 2 * window * walk
    rows), then a count aggregation. Output:
    (center, context, cnt)."""
    if window < 1:
        raise ValueError("window must be >= 1")
    a = walks.select(
        F.col("start").alias("__wid"),
        F.col("step").alias("__i"),
        F.col("node").alias("center"),
    )
    b = walks.select(
        F.col("start").alias("__wid"),
        F.col("step").alias("__j"),
        F.col("node").alias("context"),
    )
    d = F.col("__j") - F.col("__i")
    return (
        a.join(b, "__wid")
        .where((d != 0) & (F.abs(d) <= window))
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def eigenvector_centrality(
    edges: DataFrame, iterations: int = 3, checkpoint_every: int = 4
) -> DataFrame:
    """Eigenvector centrality by power iteration over the undirected
    adjacency: x <- A x / ||A x||_2 from the uniform start, a fixed
    number of rounds (the deterministic, SQL-unrollable form — no
    convergence test, like `pagerank`). A node is central when its
    neighbors are central; on co-occurrence graphs this ranks the
    "core" items the way degree alone cannot.

    Plan per round: one edge⋈vector join + per-dst sum (the A·x), one
    scalar L2 norm broadcast back — the vector is the only thing that
    shuffles. Lineage checkpointed every ``checkpoint_every`` rounds.
    """
    if iterations < 0:
        raise ValueError("iterations must be >= 0")
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sym = _symmetrized(edges)
    adj = sym.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).repartition(shuffle, "src").persist()
    nodes = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        adj.unpersist()
        return spark.createDataFrame([], "node long, score double")
    import math

    x = nodes.select("node", F.lit(1.0 / math.sqrt(n)).alias("score"))
    for i in range(iterations):
        # y feeds TWO consumers (the L2 norm and the update), and
        # Spark does not share the subplan across the broadcast
        # boundary — left lazy, every round re-evaluated y once per
        # consumer and the 4M-edge probe measured ~10 s/round vs
        # pagerank's 1.1 s (round-10 lineage probe). Materializing
        # the matrix-vector product once per round makes the norm a
        # cheap scan and truncates lineage as a side effect.
        y = (
            adj.join(x, adj["src"] == x["node"])
            .groupBy("dst")
            .agg(F.sum("score").alias("y"))
            .localCheckpoint(eager=True)
        )
        norm = y.agg(F.sqrt(F.sum(F.col("y") * F.col("y"))).alias("__nrm"))
        x = (
            nodes.join(y, nodes["node"] == y["dst"], "left")
            .crossJoin(F.broadcast(norm))
            .select(
                "node",
                (F.coalesce(F.col("y"), F.lit(0.0)) / F.col("__nrm")).alias(
                    "score"
                ),
            )
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iterations:
            x = x.localCheckpoint(eager=True)
    # materialize, then release the adjacency cache (ADVICE r9)
    x = x.localCheckpoint(eager=True)
    adj.unpersist()
    return x


def label_propagation(
    edges: DataFrame, rounds: int = 2, checkpoint_every: int = 4
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation
    (Raghavan et al. 2007), made deterministic and SQL-unrollable:
    every node starts labeled with its own id; each round every node
    simultaneously adopts the most frequent label among its
    neighbors, ties broken to the SMALLEST label; fixed round count.
    (The classic async/random-order variant converges further but is
    irreproducible — this is the deterministic form distributed
    systems actually ship.)

    Plan per round: one edge⋈label join, one (node, label) count
    aggregation, one per-node argmax (min_by over (-count, label)) —
    the label vector is the only shuffled state. Output:
    (node, label)."""
    if rounds < 0:
        raise ValueError("rounds must be >= 0")
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sym = _symmetrized(edges)
    adj = sym.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).repartition(shuffle, "src").persist()
    labels = (
        adj.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for i in range(rounds):
        counts = (
            adj.join(labels, adj["src"] == labels["node"])
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = counts.groupBy(F.col("dst").alias("node")).agg(
            F.min_by(
                "label",
                F.struct((-F.col("__c")).alias("nc"), F.col("label").alias("l")),
            ).alias("label")
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < rounds:
            labels = labels.localCheckpoint(eager=True)
    # materialize, then release the adjacency cache (ADVICE r9)
    labels = labels.localCheckpoint(eager=True)
    adj.unpersist()
    return labels


def negative_sampled_pairs(
    pairs: DataFrame,
    nodes: DataFrame,
    negatives: int = 2,
    seed: str = "n",
) -> DataFrame:
    """Skip-gram-with-negative-sampling training set (the word2vec
    SGNS data layout): every positive (center, context) pair is kept
    with label 1, and ``negatives`` deterministic draws from the
    id-sorted node table are attached with label 0 — draw j for a
    pair is node rank ``md5_u32(center ':' context ':' j ':' seed)
    mod N`` (uniform negative distribution; a draw that collides
    with the true context is kept, the standard small-corpus
    simplification, and exactly what the SQL oracle replays).

    ``pairs``: (center, context, cnt) as from :func:`skipgram_pairs`;
    ``nodes``: one ``node`` column. Output: (center, context, label,
    cnt) — negatives inherit the positive pair's multiplicity.

    Scale shape: the node table is ranked once (distributed rank
    primitive), negatives are an explode + one equi-join on the drawn
    rank; nothing quadratic, no driver data path."""
    from .suffixdedup import global_dense_rank

    if negatives < 0:
        raise ValueError("negatives must be >= 0")
    ranked = global_dense_rank(
        nodes.select("node").distinct(), ["node"], rank_col="_rk"
    ).localCheckpoint(eager=True)
    n = ranked.count()
    pos = pairs.select(
        "center", "context", F.lit(1).alias("label"), "cnt"
    )
    if negatives == 0 or n == 0:
        return pos
    drawn = pairs.select(
        "center",
        F.col("context").alias("_pos"),
        "cnt",
        F.explode(
            F.array(*[F.lit(j) for j in range(negatives)])
        ).alias("_j"),
    ).withColumn(
        "_draw",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("center").cast("string"),
                        F.col("_pos").cast("string"),
                        F.col("_j").cast("string"),
                        F.lit(seed),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(n),
    )
    # the ranked node table is (node, rank) longs — broadcast it below
    # the same bound the pagerank loop uses instead of shuffling the
    # (pairs x negatives)-sized drawn frame by _draw (round 11 A/B)
    rank_side = (
        F.broadcast(ranked) if n <= PAGERANK_BROADCAST_NODES else ranked
    )
    neg = drawn.join(rank_side, drawn["_draw"] == rank_side["_rk"]).select(
        "center",
        F.col("node").alias("context"),
        F.lit(0).alias("label"),
        "cnt",
    )
    return pos.unionByName(neg)


def khop_reach(edges: DataFrame, hops: int = 2) -> DataFrame:
    """Per-node neighborhood growth: how many distinct nodes are
    reachable within 1, 2, ... ``hops`` undirected hops (self
    excluded) — the BFS-frontier profile that diagnoses graph
    density/diameter before running iterative algorithms on it.

    Round k is one equi-join of the (node, reached) frontier with the
    adjacency + a distinct — the standard unrolled BFS; volume is the
    k-hop wedge count, which is why ``hops`` stays small and explicit
    (this is a profiling operator, not transitive closure —
    `connected_components` owns the unbounded case).

    Output: (node, n_hop1, ..., n_hopK)."""
    if hops < 1:
        raise ValueError("hops must be >= 1")
    sym = _symmetrized(edges).localCheckpoint(eager=True)
    reached = sym.select(F.col("u").alias("node"), F.col("v").alias("r"))
    out = reached.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_hop1")
    )
    frontier = reached
    for k in range(2, hops + 1):
        nxt = (
            frontier.join(sym, frontier["r"] == sym["u"])
            .select("node", F.col("v").alias("r"))
            .where(F.col("node") != F.col("r"))
        )
        frontier = frontier.unionByName(nxt).distinct().localCheckpoint(
            eager=True
        )
        out = out.join(
            frontier.groupBy("node").agg(
                F.count(F.lit(1)).alias(f"n_hop{k}")
            ),
            "node",
        )
    return out


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 30,
    checkpoint_every: int = 5,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node has degree >= ``k`` inside the subgraph (Seidman 1983)
    — the classic community/spam-farm density filter, and the
    pre-prune that makes expensive per-node graph features affordable
    (triangle counts, embeddings) by dropping the low-degree fringe.

    Algorithm: synchronous peeling. Round i removes every node whose
    degree WITHIN the surviving subgraph is < k; the fixpoint is the
    k-core (peeling is confluent — removal order cannot change the
    result, so the synchronous rounds converge to the same set as
    sequential peeling). Termination is detected with one driver
    scalar per round (the surviving-node count); rounds are capped at
    ``max_rounds`` with a loud error rather than an unbounded driver
    loop — each round strictly shrinks the node set, so the cap only
    binds on adversarial long-chain graphs, where the caller should
    raise it explicitly.

    Scale shape (100 TB): the edge frame is hash-partitioned by ``u``
    and cached ONCE — never rebuilt; each round re-filters it by the
    current alive set (single-column node ids, BROADCAST below
    ``PAGERANK_BROADCAST_NODES``, shuffle semi-joins above) with a
    partition-local degree aggregate, and the alive set itself is
    eagerly checkpointed so every round's plan stays the same shallow
    shape. Per round on the small-graph path: one pass over the
    cache, zero exchanges, two scalars of driver state. (Two earlier
    forms were measured and rejected at the sf0.1 bench: the
    checkpoint-cadence edge chain at 21.3 s and a per-round edge
    persist chain at 26-31 s — stacked cached plans hit a replanning
    cliff; PLANS.md round 11.)

    Output: (node, core_degree) — nodes of the k-core with their
    degree inside it (>= k by construction). Empty when no k-core
    exists. ``checkpoint_every`` is retained for API stability but
    the fixed-cache iteration supersedes it.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    del checkpoint_every  # superseded by the fixed-cache iteration
    spark = edges.sparkSession
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # the EDGE cache is built once and never rebuilt: each round
    # re-filters it by the current alive set instead of materializing
    # a shrinking edge frame (a per-round edge persist chain measured
    # 26-31 s at the sf0.1 bench — stacked cached plans hit a
    # replanning cliff; this form is one cached pass per round)
    sym = _symmetrized(edges).repartition(shuffle, "u").persist()
    alive = None  # None == every node
    prev_n = None
    try:
        for _i in range(max_rounds):
            if alive is None:
                deg = sym.groupBy("u").agg(
                    F.count(F.lit(1)).alias("deg")
                )
            else:
                side = (
                    F.broadcast(alive)
                    if prev_n is not None
                    and prev_n <= PAGERANK_BROADCAST_NODES
                    else alive
                )
                deg = (
                    sym.join(side, "u")
                    .join(side.select(F.col("u").alias("v")), "v")
                    .groupBy("u")
                    .agg(F.count(F.lit(1)).alias("deg"))
                )
            keep = (
                deg.where(F.col("deg") >= F.lit(int(k)))
                .select("u")
                # the survivor set is <= one row per node; an eager
                # checkpoint per round keeps every round's plan the
                # same shallow shape (cached edges + two joins)
                .localCheckpoint(eager=True)
            )
            n = keep.count()
            if n == 0:
                return spark.createDataFrame(
                    [], "node long, core_degree long"
                )
            if prev_n is not None and n == prev_n:
                # fixpoint: nobody dropped below k this round
                return deg.where(F.col("deg") >= F.lit(int(k))).select(
                    F.col("u").alias("node"),
                    F.col("deg").alias("core_degree"),
                ).localCheckpoint(eager=True)
            prev_n = n
            alive = keep
    finally:
        sym.unpersist()
    raise RuntimeError(
        f"kcore(k={k}) did not converge within max_rounds={max_rounds}; "
        "raise max_rounds for long-chain graphs"
    )
