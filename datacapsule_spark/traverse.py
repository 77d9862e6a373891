"""Rank-constrained iterative graph traversal (SURVEY.md G1-G4, J2-J3).

Set-oriented DataFrame re-expression of the reference's recursive
NetworkX walk (react_tools.py:80-210):

- NODE_HIERARCHY (react_tools.py:19-40) becomes a broadcast literal
  map; for the code KG the ranks follow the containment taxonomy
  repo(1) → dir(2) → file(3) → symbol/module(4) → leaf attrs(5).
- find_nodes_by_node_type = iterative BFS: each round joins the
  frontier to the bidirectional edge list, applies the rank-
  monotonicity pruning predicate (pushed below the join by Catalyst),
  anti-joins the visited set, and localCheckpoints to truncate lineage.
- The batch variant (G2) seeds the frontier with (query_id, node) rows —
  many traversals in one DAG, which is the whole point of doing this on
  Spark (the reference loops per start node, dspy_inference.py:64-78,
  with a bug we do not replicate: it passes the list where a single
  node was meant).

Termination: rank-monotone traversal over a DAG of depth ≤ max_hops;
the visited anti-join guards cycles introduced by canonicalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Containment-taxonomy ranks for the code KG (analogue of
# NODE_HIERARCHY, react_tools.py:19-40: 界=1 … 种=7, attributes=8).
NODE_HIERARCHY = {
    "repo": 1,
    "dir": 2,
    "file": 3,
    "symbol": 4,
    "module": 4,
    "lang": 5,
    "author": 5,
    "year": 5,
    "metric": 5,
    "raw": 5,
}

# Hop bound of find_nodes_by_node_type (both serving tiers use it)
MAX_HOPS = 7


def _rank_map_col(hierarchy: dict[str, int] | None = None):
    pairs = []
    for k, v in (hierarchy or NODE_HIERARCHY).items():
        pairs.extend([F.lit(k), F.lit(v)])
    return F.create_map(*pairs)


def bidirectional_edges(edges: DataFrame) -> DataFrame:
    """Neighbor expansion is both-direction in the reference
    (neighbors ∪ predecessors, react_tools.py:132-136)."""
    fwd = edges.select(F.col("src").alias("from_id"), F.col("dst").alias("to_id"))
    rev = edges.select(F.col("dst").alias("from_id"), F.col("src").alias("to_id"))
    return fwd.union(rev)


def find_nodes_by_node_type(
    nodes: DataFrame,
    edges: DataFrame,
    start_nodes: DataFrame,
    target_type: str,
    max_hops: int = MAX_HOPS,
    hierarchy: dict[str, int] | None = None,
) -> DataFrame:
    """Batch G1/G2: start_nodes(query_id, node_id) → (query_id, node_id)
    of all reachable nodes with node_type == target_type, traversal
    direction-pruned by rank monotonicity.

    Direction rule (react_tools.py:158-176): if the target type ranks
    ABOVE the start (smaller rank), only expand to equal-or-smaller
    ranks; if below, only to equal-or-larger; same rank → immediate hit
    check only.

    hierarchy: node_type → rank map; defaults to the code-KG taxonomy.
    Pass the reference's NODE_HIERARCHY (react_tools.py:19-40) to
    traverse an ingested marine-species graph.
    """
    rank_map = _rank_map_col(hierarchy)
    # materialized once: every hop joins against typed, and the nodes
    # input is often an unmaterialized union/projection tree that would
    # otherwise re-evaluate per hop
    typed = nodes.select(
        "node_id", "node_type", rank_map[F.col("node_type")].alias("rank")
    ).localCheckpoint(eager=False)
    target_rank_row = (
        typed.where(F.col("node_type") == target_type).select("rank").first()
    )
    if target_rank_row is None:
        return start_nodes.limit(0)
    target_rank = target_rank_row["rank"]

    # materialized once per traversal; reused every hop
    bedges = bidirectional_edges(edges).localCheckpoint(eager=False)

    frontier = (
        start_nodes.select("query_id", "node_id")
        .distinct()
        .join(typed.select("node_id", "rank"), "node_id")
        .select("query_id", "node_id", "rank")
    )
    hits = (
        frontier.join(
            typed.where(F.col("node_type") == target_type).select("node_id"),
            "node_id",
            "inner",
        ).select("query_id", "node_id")
    )
    start_ranks = (
        frontier.groupBy("query_id")
        .agg(F.min("rank").alias("start_rank"))
        .localCheckpoint(eager=False)  # broadcast every hop; tiny
    )

    # visited kept as a list of checkpointed frontiers: the anti-join
    # target tolerates duplicates, so no per-round distinct shuffle
    visited_frontiers = [frontier.select("query_id", "node_id")]

    for _ in range(max_hops):
        # per-hop rank monotonicity (react_tools.py:158-176 direction
        # rules): each hop must move weakly toward the target rank
        # RELATIVE TO THE CURRENT node, and never past the target.
        # The target cap is what stops a downward walk from passing
        # THROUGH shared deeper nodes (a symbol used by two repos) and
        # re-ascending into a different subtree; the per-hop rule stops
        # down-then-up wandering inside the allowed range.
        expanded = (
            frontier.join(
                bedges.hint("shuffle_hash"), frontier.node_id == bedges.from_id
            )
            .select(
                "query_id",
                F.col("to_id").alias("node_id"),
                F.col("rank").alias("cur_rank"),
            )
            .join(typed, "node_id")
            .join(F.broadcast(start_ranks), "query_id")
            .where(
                F.when(
                    F.lit(target_rank) < F.col("start_rank"),  # going up
                    F.col("rank").between(F.lit(target_rank), F.col("cur_rank")),
                ).otherwise(  # going down (or same rank)
                    F.col("rank").between(F.col("cur_rank"), F.lit(target_rank))
                )
            )
            .groupBy("query_id", "node_id", "node_type")
            .agg(F.min("rank").alias("rank"))
        )
        visited = visited_frontiers[0]
        for vf in visited_frontiers[1:]:
            visited = visited.union(vf)
        frontier = (
            expanded.select("query_id", "node_id", "node_type", "rank")
            .join(visited, ["query_id", "node_id"], "left_anti")
            .localCheckpoint(eager=True)  # truncate lineage + terminate check
        )
        if frontier.isEmpty():
            break
        visited_frontiers.append(frontier.select("query_id", "node_id"))
        # target hits come off the CHECKPOINTED frontier, not `expanded`:
        # accumulating from expanded re-executed each hop's full
        # expansion join tree once more when the final union was
        # evaluated (r07). Equivalent: the first time a (query_id,
        # target node) pair is reached it survives the anti-join into
        # the frontier; start nodes of the target type are in the
        # initial `hits`.
        hits = hits.union(
            frontier.where(F.col("node_type") == target_type).select(
                "query_id", "node_id"
            )
        )

    return hits.distinct()


def get_adjacent_descriptions(
    nodes: DataFrame, edges: DataFrame, names: DataFrame
) -> DataFrame:
    """G4: 1-hop both directions from names(node_id), collect distinct
    neighbor names per start (react_tools.py:192-210)."""
    bedges = bidirectional_edges(edges)
    nbrs = names.join(bedges, names.node_id == bedges.from_id).select(
        names.node_id.alias("start"), F.col("to_id")
    )
    with_names = nbrs.join(
        nodes.select(F.col("node_id").alias("to_id"), F.col("name").alias("nbr_name")),
        "to_id",
    )
    return with_names.groupBy("start").agg(
        F.array_sort(F.collect_set("nbr_name")).alias("descriptions"),
        F.count("*").alias("n_neighbors"),
    )
