"""Distributed graph analytics beyond traversal: triangle counting and
PageRank.

Complements the engine's BFS (traverse.py) and connected components
(canonicalize.py) with the other classic distributed graph primitives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..canonicalize import collect_capped


def triangle_count(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Global triangle count via degree-ordered wedge join
    (Schank-Wagner orientation) — 1-row DataFrame (n_triangles).

    Naive wedge enumeration joins on every shared vertex: a hub with
    degree d contributes d² wedges, which detonates on skewed graphs.
    Orienting every edge from its lower-degree endpoint to the higher
    (ties by id) makes each triangle countable at exactly one vertex
    — its lowest-degree corner — and caps per-vertex wedge fanout at
    the oriented out-degree, O(sqrt(E)) on any graph. Three shuffles:
    degree aggregation, the wedge self-join on the oriented source,
    and the closure probe against the canonical edge set.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)  # reused: degrees, orientation, closure
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)  # feeds BOTH endpoint joins
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # shuffle_hash hints here and below: every side is edge- or
    # node-scale off stats-less checkpoints/aggregates — Catalyst's
    # no-stats fallback otherwise BROADCASTS one (driver OOM on a
    # billion-edge graph); observed BroadcastHashJoins at sf0.001
    oriented = (
        und.join(du.hint("shuffle_hash"), "u")
        .join(dv.hint("shuffle_hash"), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=False)  # both wedge-join sides
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(
        e2.hint("shuffle_hash"),
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(F.col("e1.t").alias("x"), F.col("e2.t").alias("y"))
    closed = wedges.join(
        und.hint("shuffle_hash"),
        (F.least("x", "y") == F.col("u")) & (F.greatest("x", "y") == F.col("v")),
    )
    return closed.groupBy().agg(F.count("*").alias("n_triangles"))


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree ≥ k — the graph-curation primitive that prunes weakly
    attached fringe (the k-core is a unique fixpoint, so parallel
    peeling — removing ALL under-degree nodes each round — reaches the
    same set as sequential peeling).

    Per round: one degree aggregation over the surviving undirected
    edge set, one semi-join filter of edges on surviving endpoints,
    eager localCheckpoint to truncate lineage; one count job per
    round (the post-filter count doubles as the next round's
    pre-count). The loop exits when a round removes nothing. Peeling
    depth is O(diameter) on typical graphs but O(n) on path-like
    chains, so a non-converged loop RAISES instead of silently
    returning a non-core superset — raise max_iter for pathological
    chains. Returns (node)."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        # consumed by BOTH semi-joins below: materialize so the degree
        # aggregation over the edge union runs once per round, not twice
        keep = deg.where(F.col("d") >= k).select("node").localCheckpoint(
            eager=False
        )
        e2 = (
            e.join(
                keep.withColumnRenamed("node", "u").hint("shuffle_hash"),
                "u", "left_semi",
            )
            .join(
                keep.withColumnRenamed("node", "v").hint("shuffle_hash"),
                "v", "left_semi",
            )
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        n2 = e2.count()
        converged = n2 == n_edges or n2 == 0
        e, n_edges = e2, n2
    if not converged:
        raise RuntimeError(
            f"k_core did not converge in {max_iter} rounds (path-like "
            f"graphs peel one layer per round); raise max_iter"
        )
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
) -> DataFrame:
    """Directed PageRank → (node, rank), sum(rank) = 1.

    Per iteration: one join of ranks onto the (pre-materialized)
    out-degree edge list, one aggregation of contributions per target.
    Dangling nodes (no out-edges) redistribute their mass uniformly —
    the mass is a 1-row AGGREGATE folded into the round's plan via a
    broadcast cross join (never collected: one Spark job per round,
    not a driver round-trip plus a job). Each round eagerly
    localCheckpoints to truncate lineage, so the plan stays O(1) deep
    across max_iter rounds (the property that lets the loop run on a
    billion-edge graph without a 20-level join tower)."""
    # e feeds nodes (twice), outdeg AND links across several setup
    # actions — materialize once or the caller's edge lineage (e.g.
    # the cosupply self-join) re-executes per consumer (r07: 4x)
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).distinct().localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outdeg = e.groupBy("s").agg(F.count("*").alias("od"))
    # (s, t, od) reused every round
    links = e.join(outdeg.hint("shuffle_hash"), "s").localCheckpoint(eager=True)
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint(
        eager=True
    )
    has_out = links.select(F.col("s").alias("node")).distinct()
    dangling_nodes = nodes.join(
        has_out.hint("shuffle_hash"), "node", "left_anti"
    ).localCheckpoint(
        eager=True
    )
    for _ in range(max_iter):
        dm = (
            ranks.join(dangling_nodes.hint("shuffle_hash"), "node")
            .groupBy()
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contribs = (
            # shuffle_hash: links is edge-scale, ranks node-scale, both
            # stats-less checkpoints — no-stats broadcast = driver OOM
            links.join(ranks.hint("shuffle_hash"), links.s == ranks.node)
            .select(F.col("t").alias("node"), (F.col("rank") / F.col("od")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            nodes.join(contribs.hint("shuffle_hash"), "node", "left")
            .crossJoin(F.broadcast(dm))  # 1-row aggregate, stays in-plan
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("_dm") / F.lit(float(n))
                    + F.lit(damping) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 5,
) -> DataFrame:
    """Synchronous label-propagation communities → (node, label).

    Deterministic by construction: labels start as node ids; each
    round EVERY node simultaneously adopts the most frequent label
    among its neighbors (undirected), ties broken by the smaller
    label. Runs a FIXED max_iter rounds — synchronous LPA can
    oscillate (bipartite structures flip forever), so a fixed round
    budget is the deterministic, oracle-able choice, same as
    GraphFrames' labelPropagation.

    Per round: one join of labels onto the (pre-materialized)
    undirected edge list, one (node, label) count aggregation, one
    per-node window pick; eager localCheckpoint keeps the plan O(1)
    deep across rounds — the same loop shape as pagerank/k_core."""
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    und = (
        und.unionAll(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # shuffle_hash: edge-scale × node-scale, both stats-less
        votes = und.join(
            labels.hint("shuffle_hash"), und.v == labels.node
        ).select("u", "label")
        # majority vote (ties -> min label) as min_by over the
        # (-count, label) ordering — two partial-aggregating hash aggs
        # per round where the former row_number window added a full
        # shuffle AND sort of the node×label vote table every round
        labels = (
            votes.groupBy("u", "label")
            .agg(F.count("*").alias("c"))
            .groupBy("u")
            .agg(
                F.min_by(
                    "label", F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("label")
            )
            .select(F.col("u").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
    return labels


def personalized_pagerank(
    edges: DataFrame,
    seeds,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
) -> DataFrame:
    """Personalized PageRank → (node, rank), sum(rank) = 1: teleport
    AND dangling mass restart at the SEED distribution (uniform over
    `seeds`) instead of uniformly over all nodes, so rank concentrates
    in the seeds' neighborhood. This is the batch analogue of the
    reference's start-node-anchored hierarchy walks (react_tools.py:
    92-181 expand outward from one entity) and the standard KG-serving
    ranking primitive (seed = the entities in a user query).

    `seeds` is a single-column DataFrame of node ids (scale path —
    millions of seeds stay distributed) or a Python list (serving
    convenience). Seeds not present in the graph would silently leak
    restart mass, so they raise. Same per-round shape as `pagerank`:
    one join + one aggregation, dangling mass as an in-plan broadcast
    1-row aggregate, eager localCheckpoint keeping the plan O(1) deep.
    """
    spark = edges.sparkSession
    # materialized once: nodes (two branches), outdeg and links all
    # consume e across separate setup actions (r07 — see pagerank)
    e = edges.select(
        F.col(src).alias("s"), F.col(dst).alias("t")
    ).distinct().localCheckpoint(eager=False)
    if not isinstance(seeds, DataFrame):
        if not seeds:
            raise ValueError("seeds must be non-empty")
        seeds = spark.createDataFrame(
            [(x,) for x in set(seeds)],
            StructType([StructField("node", e.schema["s"].dataType)]),
        )
    sd = seeds.toDF("node").distinct().localCheckpoint(eager=True)
    n_seeds = sd.count()
    if n_seeds == 0:
        raise ValueError("seeds must be non-empty")
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes.join(sd, "node", "left_semi").count() != n_seeds:
        raise ValueError(
            "some seeds are not nodes of the graph — their restart mass "
            "would silently vanish; filter seeds to the node set first"
        )
    # restart distribution p, materialized once and reused every round
    base = (
        nodes.join(sd.withColumn("_p", F.lit(1.0 / n_seeds)), "node", "left")
        .select("node", F.coalesce("_p", F.lit(0.0)).alias("p"))
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy("s").agg(F.count("*").alias("od"))
    links = e.join(outdeg.hint("shuffle_hash"), "s").localCheckpoint(eager=True)
    has_out = links.select(F.col("s").alias("node")).distinct()
    dangling_nodes = nodes.join(
        has_out.hint("shuffle_hash"), "node", "left_anti"
    ).localCheckpoint(
        eager=True
    )
    ranks = base.select("node", F.col("p").alias("rank")).localCheckpoint(
        eager=True
    )
    for _ in range(max_iter):
        dm = (
            ranks.join(dangling_nodes.hint("shuffle_hash"), "node")
            .groupBy()
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contribs = (
            # shuffle_hash: links is edge-scale, ranks node-scale, both
            # stats-less checkpoints — no-stats broadcast = driver OOM
            links.join(ranks.hint("shuffle_hash"), links.s == ranks.node)
            .select(
                F.col("t").alias("node"), (F.col("rank") / F.col("od")).alias("c")
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        ranks = (
            base.join(contribs.hint("shuffle_hash"), "node", "left")
            .crossJoin(F.broadcast(dm))  # 1-row aggregate, stays in-plan
            .select(
                "node",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (F.col("_dm") * F.col("p") + F.coalesce("c", F.lit(0.0)))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def link_prediction(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    exclude_existing: bool = True,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Common-neighbors / Jaccard / Adamic-Adar link-prediction scores
    — the classic KG-completion screen (which entity pairs SHOULD be
    linked?), the batch analogue of the reference's relatedness
    questions over its hierarchy graph (react_tools.py:92-181 walks
    neighbors; this scores every candidate pair at once).

    Returns (a, b, common_neighbors, jaccard, adamic_adar) for every
    unordered non-adjacent pair sharing >= 1 neighbor (set
    exclude_existing=False to score existing edges too, e.g. for edge
    re-weighting).  adamic_adar = sum over shared neighbors z of
    1/ln(deg(z)) — z always has deg >= 2 (it has two wedge edges), so
    ln never hits 0.

    Scale shape: one wedge self-join keyed on the shared neighbor.  A
    hub of degree d contributes d^2 candidate rows — that is inherent
    to the score (every pair through the hub IS a candidate), so for
    skew-bounded runs pass max_neighbor_degree to drop hub wedges
    (standard practice: a shared neighbor of huge degree carries ~no
    signal, 1/ln(d) -> 0, and costs the most).  The drop is reported
    nowhere silently: scores then deliberately exclude those hubs'
    contributions, documented here.  With the cap set, ALL three
    scores are computed over the same capped neighbor sets
    ({z : deg(z) <= cap}) — in particular jaccard is
    |A'∩B'| / |A'∪B'| of the capped sets, so it stays a true Jaccard
    of a consistent set pair rather than mixing a capped intersection
    with uncapped unions.  All other shuffles are key-local
    aggregations and broadcast-size degree joins.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)  # reused: nbrs, degrees, anti-join
    )
    nbrs = und.select(F.col("u").alias("n"), F.col("v").alias("z")).unionAll(
        und.select(F.col("v").alias("n"), F.col("u").alias("z"))
    )
    deg = nbrs.groupBy("n").agg(F.count("*").alias("d"))
    # wedge rows carry deg(z) so Adamic-Adar is a plain sum at the agg
    zdeg = deg.select(F.col("n").alias("z"), F.col("d").alias("dz"))
    if max_neighbor_degree is not None:
        zdeg = zdeg.where(F.col("dz") <= max_neighbor_degree)
    # shuffle_hash hints: nbrs is 2|E| rows, zdeg/deg node-scale, the
    # wedge self-join quadratic in hub degree — all unbounded,
    # stats-less sides (no-stats broadcast = driver OOM at scale)
    # consumed by BOTH sides of the wedge self-join (and the capped
    # degree recount): materialize so the 2|E|-row degree join runs
    # once, not once per consumer
    nbz = nbrs.join(zdeg.hint("shuffle_hash"), "z").localCheckpoint(eager=False)
    if max_neighbor_degree is not None:
        # jaccard denominators must use the SAME capped neighbor sets
        # the intersection counts — recount degrees post-cap
        deg = nbz.groupBy("n").agg(F.count("*").alias("d"))
    # deg feeds BOTH endpoint joins (da, db) — materialize once
    deg = deg.localCheckpoint(eager=False)
    n1 = nbz.alias("n1")
    n2 = nbz.alias("n2")
    scored = (
        n1.join(
            n2.hint("shuffle_hash"),
            (F.col("n1.z") == F.col("n2.z"))
            & (F.col("n1.n") < F.col("n2.n")),
        )
        .select(
            F.col("n1.n").alias("a"),
            F.col("n2.n").alias("b"),
            F.col("n1.dz").alias("dz"),
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log("dz")).alias("adamic_adar"),
        )
    )
    if exclude_existing:
        scored = scored.join(
            und.hint("shuffle_hash"),
            (scored.a == und.u) & (scored.b == und.v),
            "left_anti",
        )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    return (
        scored.join(da.hint("shuffle_hash"), "a")
        .join(db.hint("shuffle_hash"), "b")
        .select(
            "a",
            "b",
            F.col("common_neighbors").cast("bigint").alias("common_neighbors"),
            (
                F.col("common_neighbors")
                / (F.col("da") + F.col("db") - F.col("common_neighbors"))
            ).alias("jaccard"),
            "adamic_adar",
        )
    )



def _adjacency(
    edges: DataFrame,
    src: str,
    dst: str,
    directed: bool,
    weight: str | None = None,
) -> DataFrame:
    """Canonical adjacency for the iterative operators: (u, v[, w]),
    self-loops dropped, reversed edges unioned when undirected, exact
    duplicates removed (parallel weighted edges keep the cheapest),
    lazily localCheckpointed so every round of the caller's loop reuses
    the materialized edge list instead of recomputing its lineage."""
    cols = [F.col(src).alias("u"), F.col(dst).alias("v")]
    rcols = [F.col(dst).alias("u"), F.col(src).alias("v")]
    if weight is not None:
        cols.append(F.col(weight).cast("double").alias("w"))
        rcols.append(F.col(weight).cast("double").alias("w"))
    adj = edges.select(*cols)
    if not directed:
        adj = adj.unionAll(edges.select(*rcols))
    adj = adj.where(F.col("u") != F.col("v"))
    if weight is not None:
        adj = adj.groupBy("u", "v").agg(F.min("w").alias("w"))
    else:
        adj = adj.distinct()
    return adj.localCheckpoint(eager=False)


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 10,
    directed: bool = True,
) -> DataFrame:
    """Single-source(-set) BFS shortest-path lengths: (node, dist) for
    every node reachable from `seeds` (a 1-column DataFrame of node
    ids — an expression, never a driver list, so seed selection stays
    in-plan at any scale) within max_hops.

    The level-synchronous frontier loop the engine's typed BFS
    (traverse.py:59, the reference's hierarchy walks) specializes:
    per hop one equi-join frontier→edges plus one anti-join against
    the visited set, eager localCheckpoint keeps the plan O(1) deep
    across hops, and the loop exits early on an empty frontier (one
    bounded count per hop — the same driver-side loop-control cost as
    BFS/PageRank/k-core, amortized at real scale by hop width).
    """
    adj = _adjacency(edges, src, dst, directed)
    seed_col = seeds.columns[0]
    dist0 = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=True)
    )
    # visited stays a UNION of the per-hop checkpointed levels (the
    # traverse.py pattern) instead of a re-checkpointed growing table:
    # one eager checkpoint per hop, not two — at toy scale the saved
    # action is the dominant cost, at scale the saved pass over the
    # accumulated distance table is
    levels = [dist0]
    frontier = dist0.select("node")
    for hop in range(1, max_hops + 1):
        visited = levels[0].select("node")
        for lv in levels[1:]:
            visited = visited.unionAll(lv.select("node"))
        nxt = (
            frontier.join(adj.hint("shuffle_hash"), frontier.node == adj.u)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.hint("shuffle_hash"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        levels.append(nxt)
        frontier = nxt.select("node")
    dist = levels[0]
    for lv in levels[1:]:
        dist = dist.unionAll(lv)
    return dist


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_len: int = 5,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    salt: str = "w",
) -> DataFrame:
    """Deterministic 'random' walks (DeepWalk/node2vec's sampling
    primitive): from every seed node, walk_len steps; at each step the
    next hop is the neighbor minimizing md5(salt‖walk_id‖step‖v) —
    hash-random, so walks are i.i.d.-ish like sampled walks but
    REPRODUCIBLE on any engine with md5 (same trick as
    curation.sample_by_hash), which is what makes a distributed walk
    table auditable and resumable.  Walks stop early at a node with no
    out-neighbor.

    Returns (walk_id, step, node); walk_id is the seed node.  Each
    step is one frontier-join + one per-walk min_by aggregation (argmin
    over the candidate neighbors) with an eager localCheckpoint — O(1) plan
    depth, the engine's standard iterative shape (BFS/PageRank/CC).
    The per-step frontier is seed-table-sized, not graph-sized.
    """
    adj = _adjacency(edges, src, dst, directed)
    seed_col = seeds.columns[0]
    cur = (
        seeds.select(F.col(seed_col).alias("walk_id"))
        .distinct()
        .select("walk_id", F.lit(0).alias("step"), F.col("walk_id").alias("node"))
        .localCheckpoint(eager=True)
    )
    out = cur
    for step in range(1, walk_len + 1):
        # successor = argmin (h, v) per walk — min_by hash aggregation
        # instead of a row_number window, so the walk×degree candidate
        # rows partial-aggregate map-side per step rather than being
        # shuffled and sorted whole
        nxt = (
            cur.join(adj.hint("shuffle_hash"), cur.node == adj.u)
            .withColumn(
                "h",
                F.md5(
                    F.concat(
                        F.lit(salt),
                        F.col("walk_id").cast("string"),
                        F.lit(":"),
                        F.lit(str(step)),
                        F.lit(":"),
                        F.col("v").cast("string"),
                    )
                ),
            )
            .groupBy("walk_id")
            .agg(F.min_by("v", F.struct("h", "v")).alias("v"))
            .select(
                "walk_id",
                F.lit(step).alias("step"),
                F.col("v").alias("node"),
            )
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        out = out.unionAll(nxt)
        cur = nxt
    return out


def multi_source_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    directed: bool = True,
) -> DataFrame:
    """All BFS distances from every node in `sources` at once —
    (source, node, dist) — by running shortest_paths' level-synchronous
    loop on the composite (source, node) key.  One frontier join + one
    anti-join per level regardless of how many sources ride along, so
    k sources cost the same NUMBER of stages as one (the frontier is
    just k× wider) — the right shape when the per-stage latency, not
    bandwidth, dominates (it does for BFS loops).
    """
    adj = _adjacency(edges, src, dst, directed)
    s = sources.columns[0]
    dist0 = (
        sources.select(F.col(s).alias("source"))
        .distinct()
        .select(
            "source", F.col("source").alias("node"), F.lit(0).alias("dist")
        )
        .localCheckpoint(eager=True)
    )
    # one eager checkpoint per hop (see shortest_paths): the visited
    # set is a union of the per-hop checkpointed levels, never a
    # re-checkpointed growing table
    levels = [dist0]
    frontier = dist0.select("source", "node")
    for hop in range(1, max_hops + 1):
        visited = levels[0].select("source", "node")
        for lv in levels[1:]:
            visited = visited.unionAll(lv.select("source", "node"))
        nxt = (
            frontier.join(adj.hint("shuffle_hash"), frontier.node == adj.u)
            .select("source", F.col("v").alias("node"))
            .distinct()
            .join(visited.hint("shuffle_hash"), ["source", "node"], "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        levels.append(nxt)
        frontier = nxt.select("source", "node")
    dist = levels[0]
    for lv in levels[1:]:
        dist = dist.unionAll(lv)
    return dist


def closeness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_hops: int = 20,
    nodes_subset: DataFrame | None = None,
    max_exact_nodes: int | None = 20_000,
) -> DataFrame:
    """Closeness centrality (n_reachable−1) / Σ dist for every node —
    the 'how central is this entity' KG-serving screen, computed as
    one multi-source BFS over all nodes + one aggregation.  Matches
    NetworkX closeness_centrality(wf_improved=False) on each node's
    reachable set (distances INTO v on directed graphs, per the
    standard definition — we BFS on the reversed adjacency).  Isolated
    semantics: a node reaching nothing scores 0.

    Guard rail (the containment_pairs max_block_df pattern): the
    all-nodes default materializes the O(V·reachable) distance table —
    the exact screen for KG-sized graphs, an un-runnable job at
    web-graph V.  Above ``max_exact_nodes`` nodes the call REFUSES
    with routing guidance instead of silently launching quadratic
    state; pass ``nodes_subset`` (a 1-column DataFrame of node ids —
    e.g. a deterministic sample, or the entities a report actually
    shows) to compute EXACT closeness for just those nodes with
    O(|subset|·V) state, or raise/None the ceiling deliberately.
    """
    nodes = (
        edges.select(F.col(src).alias("n"))
        .unionAll(edges.select(F.col(dst).alias("n")))
        .distinct()
    )
    if nodes_subset is not None:
        scol = nodes_subset.columns[0]
        # only nodes that exist in the graph — a stray subset id would
        # otherwise score itself as an isolated component
        bfs_from = (
            nodes_subset.select(F.col(scol).alias("n"))
            .distinct()
            .join(nodes.hint("shuffle_hash"), "n", "left_semi")
        )
    else:
        bfs_from = nodes
        if max_exact_nodes is not None:
            n_nodes = nodes.count()
            if n_nodes > max_exact_nodes:
                raise ValueError(
                    f"closeness_centrality: graph has {n_nodes} nodes > "
                    f"max_exact_nodes={max_exact_nodes}; the all-nodes exact "
                    "path materializes O(V*reachable) BFS state. Pass "
                    "nodes_subset= (a sampled 1-column node DataFrame) for "
                    "exact closeness on just those nodes, or raise "
                    "max_exact_nodes / set it to None to force the exact "
                    "all-pairs screen deliberately."
                )
    # closeness uses distances d(u, v) for u reaching v: BFS from v on
    # the REVERSED graph enumerates exactly those u
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    d = multi_source_distances(
        rev, bfs_from, src="src", dst="dst", max_hops=max_hops,
        directed=directed,
    )
    agg = d.groupBy("source").agg(
        F.count("*").alias("r"), F.sum("dist").alias("sum_d")
    )
    return agg.select(
        F.col("source").alias("node"),
        F.when(F.col("sum_d") > 0, (F.col("r") - 1) / F.col("sum_d"))
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """Kleinberg HITS → (node, hub, authority), both L1-normalized.

    Per iteration (the standard update order): authority(v) = Σ hub(u)
    over in-edges; hub(u) = Σ authority(v) over out-edges (the NEW
    authorities). Normalization is DEFERRED to the end (r07): positive
    scalars factor through the linear maps and the L1 norms, so
    normalizing once after the last push yields the same vectors as
    normalizing every half-step — and each push becomes ONE edge-scale
    join + aggregation per eager checkpoint, with no per-push 1-row
    normalizer broadcast and no per-push completion join (nodes absent
    from a score table are exact zeros; the final assembly left-joins
    the node set back in). Magnitudes grow as (mean degree)^iter —
    fine in doubles for any real max_iter (overflow needs
    d^max_iter > 1e308). Per-round scalar normalization only rescales
    the power-iteration trajectory, so the L1-normalized result
    matches any other normalization convention (e.g. NetworkX's) at
    the fixed point.
    """
    if max_iter < 1:
        raise ValueError("hits needs max_iter >= 1")
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # non-empty input can still yield an empty graph (all rows were
        # self-loops, filtered above) — mirror closeness' empty handling
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )
    h = nodes.select("node", F.lit(1.0 / n).alias("x")).localCheckpoint(
        eager=True
    )

    def push(scores: DataFrame, key_in: str, key_out: str) -> DataFrame:
        # unnormalized push: one edge-scale join + aggregation, nothing
        # else. Nodes absent from `scores` are exact zeros — a 0-score
        # row contributes +0.0 to every sum it joins, so dropping it
        # changes no value and no downstream consumer.
        return (
            e.join(scores.hint("shuffle_hash"), e[key_in] == scores.node)
            .groupBy(F.col(key_out).alias("node"))
            .agg(F.sum("x").alias("x"))
            .localCheckpoint(eager=True)
        )

    a = None
    for _ in range(max_iter):
        a = push(h, "s", "t")  # authorities
        h = push(a, "t", "s")  # hubs

    def finish(scores: DataFrame, name: str) -> DataFrame:
        # L1-normalize once, completing the node set (zeros for nodes
        # the final push never reached)
        tot = scores.groupBy().agg(
            F.coalesce(F.sum("x"), F.lit(0.0)).alias("_tot")
        )
        return (
            nodes.join(scores.hint("shuffle_hash"), "node", "left")
            .crossJoin(F.broadcast(tot))
            .select(
                "node",
                F.when(
                    F.col("_tot") > 0,
                    F.coalesce("x", F.lit(0.0)) / F.col("_tot"),
                )
                .otherwise(F.lit(0.0))
                .alias(name),
            )
        )

    return finish(h, "hub").join(
        finish(a, "authority").hint("shuffle_hash"), "node"
    )


def shortest_path_counts(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 20,
    directed: bool = True,
) -> DataFrame:
    """(source, node, dist, sigma): BFS distance AND number of
    shortest paths from every source — multi_source_distances' loop
    with a count riding the frontier: new nodes at level d+1 aggregate
    sigma over their level-d predecessors (the Brandes forward pass,
    level-synchronous).  sigma(source, source) = 1 at dist 0.
    """
    adj = _adjacency(edges, src, dst, directed)
    s = sources.columns[0]
    state = (
        sources.select(F.col(s).alias("source"))
        .distinct()
        .select(
            "source",
            F.col("source").alias("node"),
            F.lit(0).alias("dist"),
            F.lit(1.0).alias("sigma"),
        )
        .localCheckpoint(eager=True)
    )
    visited = state.select("source", "node")
    frontier = state
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj.hint("shuffle_hash"), frontier.node == adj.u)
            .groupBy("source", F.col("v").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited.hint("shuffle_hash"), ["source", "node"], "left_anti")
            .withColumn("dist", F.lit(hop))
            .select("source", "node", "dist", "sigma")
            .localCheckpoint(eager=True)
        )
        if not nxt.take(1):
            break
        state = state.unionAll(nxt).localCheckpoint(eager=True)
        visited = state.select("source", "node")
        frontier = nxt
    return state


def betweenness_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_hops: int = 20,
    sources: DataFrame | None = None,
    max_exact_nodes: int | None = 20_000,
) -> DataFrame:
    """Exact betweenness centrality for every node, via the
    pair-dependency identity on the shortest-path-count table:

        bc(v) = Σ_{s≠v≠t, s≠t} [d(s,v) + d(v,t) = d(s,t)]
                 · σ(s,v)·σ(v,t) / σ(s,t)

    One multi-source BFS-with-counts from ALL nodes (σ symmetric /
    reversed as needed), then the dependency sum is two equi-joins of
    the σ-table with itself plus one aggregation — no per-source
    backward sweep, so the whole thing is joins+aggs (Spark's home
    turf) instead of Brandes' sequential dependency recursion.
    Undirected convention matches NetworkX (each unordered pair
    counted once = ordered sum / 2).  Cost is the all-pairs table —
    the exact screen for KG-sized graphs; for web-scale graphs pass
    `sources` (a sampled 1-column node DataFrame): that path runs
    Brandes' LEVEL-SYNCHRONOUS backward dependency sweep instead, so
    the σ-table (and every join) spans ONLY the |S| sampled sources —
    O(|S|·V) state, the true subset estimator — scaled by n_nodes/|S|
    to estimate the full score.  sources=None (default) = exact.
    sources=all-nodes equals the exact path (cross-implementation
    pytest pin: two different algorithms, same numbers).

    Guard rail (the containment_pairs max_block_df pattern): the exact
    default is O(V²) σ-state — right for KG-sized screens, an
    un-runnable job at web-graph V.  With sources=None and more than
    ``max_exact_nodes`` nodes the call REFUSES with routing guidance
    instead of silently launching all-pairs state; pass ``sources``
    (sampled) for the O(|S|·V) Brandes estimator, or raise/None the
    ceiling to force the exact screen deliberately.
    """
    nodes = (
        edges.select(F.col(src).alias("n"))
        .unionAll(edges.select(F.col(dst).alias("n")))
        .distinct()
    )
    scale = 1.0 if directed else 0.5
    if sources is not None:
        scol = sources.columns[0]
        sset = sources.select(F.col(scol).alias("source")).distinct()
        dep = _brandes_dependencies(
            edges, sset, src, dst, directed, max_hops
        )
        scale *= nodes.count() / max(sset.count(), 1)
    else:
        if max_exact_nodes is not None:
            n_nodes = nodes.count()
            if n_nodes > max_exact_nodes:
                raise ValueError(
                    f"betweenness_centrality: graph has {n_nodes} nodes > "
                    f"max_exact_nodes={max_exact_nodes}; the exact default "
                    "materializes the O(V^2) shortest-path-count table. Pass "
                    "sources= (a sampled 1-column node DataFrame) for the "
                    "O(|S|*V) Brandes subset estimator, or raise "
                    "max_exact_nodes / set it to None to force the exact "
                    "screen deliberately."
                )
        # exact: pair-dependency identity over the all-pairs σ-table —
        # two equi-joins + one aggregation, no backward sweep.
        # paths FROM v (the v→t leg) need forward distances from v; on
        # undirected graphs sp already has them, on directed graphs sp
        # IS forward (source→node), so both legs read the same table
        sp = shortest_path_counts(
            edges, nodes, src=src, dst=dst, max_hops=max_hops,
            directed=directed,
        ).localCheckpoint(eager=True)
        a = sp.select(
            F.col("source").alias("s"),
            F.col("node").alias("v"),
            F.col("dist").alias("d_sv"),
            F.col("sigma").alias("sig_sv"),
        )
        b = sp.select(
            F.col("source").alias("v"),
            F.col("node").alias("t"),
            F.col("dist").alias("d_vt"),
            F.col("sigma").alias("sig_vt"),
        )
        c = sp.select(
            F.col("source").alias("s"),
            F.col("node").alias("t"),
            F.col("dist").alias("d_st"),
            F.col("sigma").alias("sig_st"),
        )
        dep = (
            a.join(b.hint("shuffle_hash"), "v")
            .join(c.hint("shuffle_hash"), ["s", "t"])
            .where(
                (F.col("s") != F.col("v"))
                & (F.col("t") != F.col("v"))
                & (F.col("s") != F.col("t"))
                & (F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
            )
            .groupBy("v")
            .agg(
                F.sum(
                    F.col("sig_sv") * F.col("sig_vt") / F.col("sig_st")
                ).alias("bc")
            )
        )
    return nodes.join(
        dep.hint("shuffle_hash"), nodes.n == dep.v, "left"
    ).select(
        F.col("n").alias("node"),
        (F.coalesce("bc", F.lit(0.0)) * F.lit(scale)).alias("betweenness"),
    )


def _brandes_dependencies(
    edges: DataFrame,
    sset: DataFrame,
    src: str,
    dst: str,
    directed: bool,
    max_hops: int,
) -> DataFrame:
    """Σ_s delta_s(v) over the sampled sources via Brandes' backward
    accumulation, level-synchronous: the forward pass is
    shortest_path_counts from ONLY the sampled sources; then levels
    run deepest→1, each one join of the level-d frontier onto its
    SP-DAG predecessors (edge v→w with d(s,v)=d(s,w)−1) + one
    aggregation.  All state is O(|S|·V); rounds = eccentricity bound.
    Returns (v, bc) with delta summed over sources, source rows
    (v = s) excluded."""
    sp = shortest_path_counts(
        edges, sset, src=src, dst=dst, max_hops=max_hops, directed=directed
    ).localCheckpoint(eager=True)
    adj = _adjacency(edges, src, dst, directed)
    maxd_row = sp.agg(F.max("dist").alias("m")).first()
    maxd = maxd_row["m"] if maxd_row and maxd_row["m"] is not None else 0
    # delta starts 0 everywhere; rows carry (source, node, dist, sigma)
    delta = sp.withColumn("delta", F.lit(0.0)).localCheckpoint(eager=True)
    for d in range(maxd, 0, -1):
        frontier = delta.where(F.col("dist") == d).select(
            "source",
            F.col("node").alias("w"),
            F.col("sigma").alias("sig_w"),
            F.col("delta").alias("delta_w"),
        )
        preds = (
            frontier.join(adj.hint("shuffle_hash"), frontier.w == adj.v)
            .select(
                "source",
                F.col("u").alias("node"),
                (
                    (F.lit(1.0) + F.col("delta_w")) / F.col("sig_w")
                ).alias("_part"),
            )
            .groupBy("source", "node")
            .agg(F.sum("_part").alias("_contrib_over_sig"))
        )
        # only true SP-DAG predecessors (dist = d-1) absorb the
        # contribution; sigma_v multiplies back in at the merge
        delta = (
            delta.join(preds.hint("shuffle_hash"), ["source", "node"], "left")
            .select(
                "source",
                "node",
                "dist",
                "sigma",
                F.when(
                    F.col("dist") == d - 1,
                    F.col("delta")
                    + F.coalesce("_contrib_over_sig", F.lit(0.0))
                    * F.col("sigma"),
                )
                .otherwise(F.col("delta"))
                .alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        delta.where(F.col("node") != F.col("source"))
        .groupBy(F.col("node").alias("v"))
        .agg(F.sum("delta").alias("bc"))
    )


def local_clustering(
    edges: DataFrame, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient
    lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) — triangle_count's
    degree-ordered wedge join kept per-triangle instead of folded to
    one global count: each closed wedge (s; x, y) IS one triangle
    {s, x, y}, found exactly once thanks to the orientation, then
    exploded to its three corners and counted per node.  Same three
    shuffles as triangle_count plus the corner aggregation; deg < 2
    nodes get lcc 0.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)  # feeds BOTH endpoint joins
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # shuffle_hash: same no-stats broadcast hazard as triangle_count
    oriented = (
        und.join(du.hint("shuffle_hash"), "u")
        .join(dv.hint("shuffle_hash"), "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint(eager=False)
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    tri = (
        e1.join(
            e2.hint("shuffle_hash"),
            (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
        )
        .select(
            F.col("e1.s").alias("c0"),
            F.col("e1.t").alias("c1"),
            F.col("e2.t").alias("c2"),
        )
        .join(
            und.hint("shuffle_hash"),
            (F.least("c1", "c2") == F.col("u"))
            & (F.greatest("c1", "c2") == F.col("v")),
        )
        .select(F.explode(F.array("c0", "c1", "c2")).alias("n"))
        .groupBy("n")
        .agg(F.count("*").alias("triangles"))
    )
    return deg.join(tri.hint("shuffle_hash"), "n", "left").select(
        F.col("n").alias("node"),
        F.coalesce("triangles", F.lit(0)).cast("bigint").alias("triangles"),
        F.when(
            F.col("d") >= 2,
            2.0
            * F.coalesce("triangles", F.lit(0))
            / (F.col("d") * (F.col("d") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def weighted_shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    max_hops: int = 20,
    directed: bool = True,
) -> DataFrame:
    """Min-total-weight distances from the seed set within a hop
    budget — level-synchronous Bellman-Ford: each round relaxes edges
    out of the IMPROVED frontier only, merges via union + min-per-node,
    and stops early when a round improves nothing.  With max_hops ≥
    the longest shortest path (and non-negative weights) this is the
    exact Dijkstra distance; the hop budget is the web-scale knob —
    and, like every loop in this module, each round is one join + one
    aggregation with an eager localCheckpoint (O(1) plan depth).
    Returns (node, dist)."""
    adj = _adjacency(edges, src, dst, directed, weight=weight)
    s = seeds.columns[0]
    dist = (
        seeds.select(F.col(s).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0.0))
        .localCheckpoint(eager=True)
    )
    frontier = dist
    for _ in range(max_hops):
        cand = (
            frontier.join(adj.hint("shuffle_hash"), frontier.node == adj.u)
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("d"))
            .groupBy("node")
            .agg(F.min("d").alias("d"))
        )
        old = dist.select("node", F.col("dist").alias("_old"))
        improved = (
            cand.join(old.hint("shuffle_hash"), "node", "left")
            .where(F.col("_old").isNull() | (F.col("d") < F.col("_old")))
            .select("node", F.col("d").alias("dist"))
            .localCheckpoint(eager=True)
        )
        if not improved.take(1):
            break
        dist = (
            dist.unionAll(improved)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
        frontier = improved
    return dist


def graph_summary(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """One-row graph health screen — the first thing to run on a new
    KG build: n_nodes, n_edges (undirected, deduped), avg/max degree,
    triangle count, open-wedge count and the global clustering
    coefficient 3·triangles / wedges.  Degree stats are one
    aggregation; triangles reuse the degree-ordered wedge join."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        (F.sum("d") / 2).cast("bigint").alias("n_edges"),
        F.round(F.avg("d"), 6).alias("avg_degree"),
        F.max("d").cast("bigint").alias("max_degree"),
        # wedges (paths of length 2 centered anywhere) = Σ C(d, 2)
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("_wedges"),
    )
    tri = triangle_count(und, src="u", dst="v")
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "avg_degree",
        "max_degree",
        F.col("n_triangles").cast("bigint").alias("n_triangles"),
        F.col("_wedges").alias("n_wedges"),
        F.round(
            F.when(
                F.col("_wedges") > 0,
                3.0 * F.col("n_triangles") / F.col("_wedges"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("global_clustering"),
    )


_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def hyperball(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    m: int = 64,
    max_radius: int = 8,
    early_stop: bool = True,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013, arXiv:1308.2144): the
    neighborhood function N(r) = Σ_v |ball(v, r)| estimated with one
    HyperLogLog counter per node — THE web-scale way to measure graph
    distances (reachable-set growth, effective diameter) without
    all-pairs BFS: per round, each node's counter is the register-wise
    max of its own and its out-neighbors' counters, so the whole graph
    advances one radius in ONE edge-scale join + aggregation.

    Registers are md5-derived (bucket = first 32 hash bits mod m, rho
    from the next 32 bits), so the DuckDB oracle replays the estimator
    bit-for-bit against exact recursive-CTE balls. Counter state is
    SPARSE (node, register, value) rows — absent registers are 0 — so
    state is ≤ m rows per node and register merging is a plain
    map-side-combining max aggregation (hub-safe), never an array
    aggregate or a hot collect. Per round: one shuffle_hash join of
    the edge list onto the state (both unbounded, checkpoint-fed —
    never a driver broadcast) + one (node, register) max; state
    re-checkpoints each round for O(1) plan depth. Registers only
    grow, so (row count, register sum) is a complete convergence
    witness — one O(1)-row action per round.

    Returns (radius, nf_est): radius 0..max_radius (early_stop=True
    cuts the tail once converged — the production default; gates use
    early_stop=False for a fixed row count). nf_est is the standard
    HLL estimate with small-range correction, summed over nodes.
    """
    if m not in _HLL_ALPHA and (m < 128 or m & (m - 1)):
        raise ValueError("m must be 16, 32, 64, or a power of two >= 128")
    if max_radius < 0:
        raise ValueError("max_radius must be >= 0")
    alpha = _HLL_ALPHA.get(m, 0.7213 / (1 + 1.079 / m))

    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionAll(e.select(F.col("t").alias("node")))
        .distinct()
    )
    h = F.md5(F.col("node").cast("string"))
    v2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    state = nodes.select(
        "node",
        (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % F.lit(m)).alias(
            "ri"
        ),
        F.when(v2 == 0, F.lit(33))
        .otherwise(F.lit(33) - F.length(F.bin(v2)))
        .cast("int")
        .alias("rv"),
    ).localCheckpoint(eager=True)
    if not state.take(1):  # empty graph: no radii, not null-estimate rows
        spark = edges.sparkSession
        return spark.createDataFrame([], "radius bigint, nf_est double")

    def nf_at(st: DataFrame, r: int) -> DataFrame:
        per_node = st.groupBy("node").agg(
            F.count("*").alias("cnt"),
            F.sum(F.pow(F.lit(2.0), -F.col("rv"))).alias("ssum"),
        )
        raw = (
            F.lit(alpha * m * m)
            / (F.col("ssum") + (F.lit(m) - F.col("cnt")))
        )
        est = F.when(
            (raw <= F.lit(2.5 * m)) & (F.col("cnt") < F.lit(m)),
            F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - F.col("cnt"))),
        ).otherwise(raw)
        return per_node.agg(F.round(F.sum(est), 3).alias("nf_est")).select(
            F.lit(r).cast("bigint").alias("radius"), "nf_est"
        )

    out = [nf_at(state, 0)]

    def sig_of(st):
        # registers only grow, so (row count, register sum) is a
        # complete convergence witness — computed ONLY when early_stop
        # needs it (with early_stop=False it was one wasted collect
        # action per radius, r07)
        row = st.agg(
            F.count("*").alias("n"), F.sum("rv").alias("s")
        ).collect()[0]
        return (row["n"], row["s"])

    prev = sig_of(state) if early_stop else None
    for r in range(1, max_radius + 1):
        grown = e.join(
            state.hint("shuffle_hash"), e.t == state.node
        ).select(F.col("s").alias("node"), "ri", "rv")
        state = (
            state.unionByName(grown)
            .groupBy("node", "ri")
            .agg(F.max("rv").alias("rv"))
            .localCheckpoint(eager=True)
        )
        out.append(nf_at(state, r))
        if early_stop:
            cur = sig_of(state)
            if cur == prev:
                break
            prev = cur

    from functools import reduce

    return reduce(DataFrame.unionAll, out)


def effective_diameter(nf: DataFrame, q: float = 0.9) -> float:
    """Effective diameter at quantile q from a hyperball() result:
    the smallest radius whose neighborhood function reaches q of the
    final (converged or max-radius) value, linearly interpolated
    between radii as in HyperANF/HyperBall practice. Driver-side on
    the ≤(max_radius+1)-row nf table."""
    if not 0.0 < q <= 1.0:
        raise ValueError("q must be in (0, 1]")
    rows = sorted(
        (r["radius"], r["nf_est"]) for r in nf.select("radius", "nf_est").collect()
    )
    if not rows:
        raise ValueError("empty neighborhood function")
    target = q * rows[-1][1]
    prev_r, prev_v = rows[0]
    if prev_v >= target:
        return float(prev_r)
    for r, v in rows[1:]:
        if v >= target:
            if v == prev_v:
                return float(r)
            return prev_r + (target - prev_v) / (v - prev_v)
        prev_r, prev_v = r, v
    return float(rows[-1][0])


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_phases: int = 30,
    max_iter: int = 60,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """Directed SCC → (node, component), component = min node id of
    the SCC — the directed twin of canonicalize's undirected CC, for
    the KG's directed relation graphs (calls/imports cycles).

    Two execution paths, same output (equivalence-tested), the exact
    tiering of canonicalize.connected_components: one capped collect
    (``collect_capped``) of the deduped, self-loop-free edges picks it.

    - at most driver_threshold such edges: iterative Tarjan on the
      driver over the collected table. The distributed loop below
      advances one hop per round in BOTH its coloring and reach sweeps,
      so on a small graph its cost is pure per-round scheduling latency
      (r07 measured 84s at sf0.1 — ~1000 nodes — from the round floor
      alone); Tarjan is O(V+E) and milliseconds there. A big graph
      usually ARRIVES here small: real call/import graphs are
      DAG-heavy, and callers can trim first.
    - above the threshold (or driver_threshold=0): the Pregel-style
      trim + forward-max-coloring + backward-reach scheme: (1) TRIM
      peels nodes with no in- or no out-edges in the active subgraph
      (singleton SCCs — most of a real call graph); (2) forward
      propagation gives every node the max id that reaches it; (3) a
      backward reachability from each color root, constrained to the
      root's own color, carves out exactly the root's SCC; remove and
      repeat. Every step is an edge-scale shuffle_hash join + a
      node-keyed aggregate with per-round eager checkpoints (O(1) plan
      depth — the pagerank machinery). Phase count is small on real
      graphs (trim kills DAG regions wholesale) but adversarial chains
      of interlocking cycles need one phase per cycle layer, so a
      non-converged run RAISES (the k_core contract) rather than
      returning a partial assignment."""
    # lazy: the capped collect fills it for the loop above the limit
    e0 = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
    ).localCheckpoint(eager=False)
    nodes0 = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    spark = edges.sparkSession
    table = collect_capped(e0, driver_threshold)
    if table is not None:
        return _driver_tarjan(spark, table, nodes0)
    nodes0 = nodes0.localCheckpoint(eager=True)
    done = spark.createDataFrame([], "node long, component long")
    active_nodes, e = nodes0, e0
    for _ in range(max_phases):
        if not active_nodes.take(1):
            return done
        # ---- trim: nodes missing an in- OR out-edge are singleton SCCs
        while True:
            has_out = e.select(F.col("s").alias("node")).distinct()
            has_in = e.select(F.col("t").alias("node")).distinct()
            keep = has_out.join(
                has_in.hint("shuffle_hash"), "node"
            ).localCheckpoint(eager=True)
            trimmed = active_nodes.join(
                keep.hint("shuffle_hash"), "node", "left_anti"
            )
            if not trimmed.take(1):
                break
            done = done.unionByName(
                trimmed.select("node", F.col("node").alias("component"))
            ).localCheckpoint(eager=True)
            active_nodes = keep
            e = (
                e.join(
                    keep.withColumnRenamed("node", "s").hint("shuffle_hash"),
                    "s", "left_semi",
                )
                .join(
                    keep.withColumnRenamed("node", "t").hint("shuffle_hash"),
                    "t", "left_semi",
                )
                .localCheckpoint(eager=True)
            )
        if not active_nodes.take(1):
            return done
        # ---- forward max-coloring to fixpoint
        color = active_nodes.select(
            "node", F.col("node").alias("c")
        ).localCheckpoint(eager=True)
        for _ in range(max_iter):
            inc = (
                e.join(
                    color.withColumnRenamed("node", "s").hint("shuffle_hash"),
                    "s",
                )
                .groupBy(F.col("t").alias("node"))
                .agg(F.max("c").alias("cin"))
            )
            nxt = (
                color.join(inc.hint("shuffle_hash"), "node", "left")
                .select(
                    # greatest() ignores nulls: nodes with no in-edge
                    # this round keep their color
                    "node",
                    F.greatest("c", "cin").alias("c"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                nxt.join(
                    color.withColumnRenamed("c", "c0").hint("shuffle_hash"),
                    "node",
                )
                .where(F.col("c") != F.col("c0"))
                .take(1)
            )
            color = nxt
            if not changed:
                break
        else:
            raise RuntimeError(
                f"SCC coloring did not stabilize in {max_iter} rounds; "
                "raise max_iter"
            )
        # ---- backward reach from roots within their color = the SCCs
        roots = color.where(F.col("node") == F.col("c")).select(
            "node", "c"
        )
        member = roots.localCheckpoint(eager=True)  # (node, c) in SCC(c)
        for _ in range(max_iter):
            grown = (
                e.join(
                    member.withColumnRenamed("node", "t").hint("shuffle_hash"),
                    "t",
                )
                .select(F.col("s").alias("node"), "c")
                .join(
                    color.withColumnRenamed("c", "c0").hint("shuffle_hash"),
                    "node",
                )
                .where(F.col("c") == F.col("c0"))
                .select("node", "c")
                .join(member.hint("shuffle_hash"), ["node", "c"], "left_anti")
                .distinct()
            )
            if not grown.take(1):
                break
            member = member.unionByName(grown).localCheckpoint(eager=True)
        else:
            raise RuntimeError(
                f"SCC backward reach did not close in {max_iter} rounds; "
                "raise max_iter"
            )
        scc = member.groupBy("c").agg(F.min("node").alias("component"))
        assigned = member.join(
            scc.hint("shuffle_hash"), "c"
        ).select("node", "component").localCheckpoint(eager=True)
        done = done.unionByName(assigned).localCheckpoint(eager=True)
        active_nodes = active_nodes.join(
            assigned.select("node").hint("shuffle_hash"), "node", "left_anti"
        ).localCheckpoint(eager=True)
        e = (
            e.join(
                assigned.select(F.col("node").alias("s")).hint("shuffle_hash"),
                "s", "left_anti",
            )
            .join(
                assigned.select(F.col("node").alias("t")).hint("shuffle_hash"),
                "t", "left_anti",
            )
            .localCheckpoint(eager=True)
        )
    if active_nodes.take(1):
        raise RuntimeError(
            f"SCC did not finish in {max_phases} phases (interlocking "
            "cycle layers peel one per phase); raise max_phases"
        )
    return done


def _driver_tarjan(spark, e, nodes: DataFrame) -> DataFrame:
    """Iterative Tarjan over a collected (s, t) edge table — the
    small-graph fast path (gated at ≤ driver_threshold edges by the
    caller), which collects the node set `nodes` here. Output identical
    to the distributed loop: (node, component) with component = min
    node id of the SCC; self-loops were already dropped from `e`, and
    self-loop-only nodes (in `nodes` but not `e`) come out as
    singletons, as in the trim sweep.
    Iterative (explicit stack + per-node neighbor iterators): Python's
    recursion limit dies at ~1000-deep chains, far below the gate."""
    from collections import defaultdict

    adj: dict = defaultdict(list)
    for s, t in zip(e["s"].to_pylist(), e["t"].to_pylist()):
        adj[s].append(t)
    all_nodes = nodes.toArrow()["node"].to_pylist()

    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = 0
    for s in all_nodes:
        if s in index:
            continue
        index[s] = low[s] = counter
        counter += 1
        stack.append(s)
        on_stack.add(s)
        path = [s]
        iters = {s: iter(adj.get(s, ()))}
        while path:
            v = path[-1]
            advanced = False
            for w in iters[v]:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    on_stack.add(w)
                    path.append(w)
                    iters[w] = iter(adj.get(w, ()))
                    advanced = True
                    break
                if w in on_stack and index[w] < low[v]:
                    low[v] = index[w]
            if advanced:
                continue
            path.pop()
            if path and low[v] < low[path[-1]]:
                low[path[-1]] = low[v]
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m

    id_type = nodes.schema["node"].dataType
    schema = StructType(
        [
            StructField("node", id_type, False),
            StructField("component", id_type, False),
        ]
    )
    return spark.createDataFrame(sorted(comp.items()), schema)
