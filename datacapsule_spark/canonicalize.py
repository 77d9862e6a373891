"""Connected-components canonicalization over an alias-edge DataFrame.

Implements the alternating large-star / small-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC
'14) as a driver-side loop of DataFrame transformations — O(log n)
rounds, each round two shuffles, `localCheckpoint()` per round to
truncate lineage (SURVEY.md §4.2.1).

This replaces the reference's implicit exact-string entity merge
(NetworkX `add_node` on the same key unions attrs,
tools/entity_extraction.py:93-133) with true distributed
canonicalization: alias pairs from linking.py become edges; each
connected component collapses to `min(node_id)` as canonical_id.

Scale notes: one capped collect (`collect_capped`, the package's one
driver/Spark tier gate: CC, linking.alias_pairs, graph_stats' SCC, the
api serving index, sql_tier snapshots and vectorize's batch kernels)
picks the tier: an edge list of at most `driver_threshold` rows is
closed by driver union-find, a larger one by the distributed loop. There each round is two self-joins + groupBys on
(src,dst) — all shuffle-partitioned by key, no driver materialization
except the O(1) convergence probe. Star-graph skew (one canonical id
with 10^8 aliases) is exactly what large-star alternation bounds.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def collect_capped(df: DataFrame, cap: int) -> pa.Table | None:
    """All rows of df as a pyarrow Table, or None when it has more than
    ``cap`` rows (or ``cap`` <= 0). The limit rides on the collect itself,
    so sizing the tier costs no counting pass below the limit; above it
    the gate pulls ``cap + 1`` rows to the driver and drops them. This is
    the package's one driver/Spark tier gate. The table keeps every Spark
    type exactly: a nullable int column holding a NULL stays int."""
    if cap <= 0:
        return None
    table = df.limit(cap + 1).toArrow()
    return None if len(table) > cap else table


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """edges(a, b) undirected → (node_id, canonical_id) mapping.

    canonical_id = min node id (lexicographic) in the component; the
    mapping's id dtype is the input's. Deterministic; idempotent
    (CC∘CC = CC) — property-tested against a union-find oracle in
    tests/test_canonicalize.py.

    Two execution paths, same semantics (equivalence-tested), chosen by
    one capped collect of the deduped edges (``collect_capped``):

    - at most driver_threshold edges: driver-side union-find over the
      collected table. The CC input here is the ALIAS-PAIR dictionary —
      O(distinct linked names), orders of magnitude smaller than the
      corpus — and below ~10^6 pairs the distributed loop's cost is pure
      scheduling latency (each round is 4+ tiny jobs; measured ~60-70s
      of fixed wall per pipeline run at ANY parallelism, the dominant
      term in full-pipeline scaling). Union-find on the driver is
      O(E α(E)) and milliseconds at that size. An empty input is just
      zero rows here.
    - more (or driver_threshold=0): the alternating large-star/small-star
      loop below — the path a 10^9-name vocabulary takes on a real
      cluster, where each round's shuffles scale with executors. It
      raises RuntimeError rather than return a mapping that has not
      converged within max_iter rounds.
    """
    spark = edges.sparkSession
    # undirected, deduped edge list; drop self-loops
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    ).localCheckpoint(eager=False)
    # the lazy checkpoint runs the upstream lineage (e.g. near_dedup's
    # minhash→band→jaccard chain) once for both the tier probe and the
    # loop: the capped collect fills it, and above the limit round 1's
    # four reads of e (twice in nbrs, twice in the convergence check)
    # reuse it; an eager checkpoint after the probe would run it twice
    table = collect_capped(e, driver_threshold)
    if table is not None:
        return _driver_union_find(spark, table, e.schema["u"].dataType)

    for _ in range(max_iter):
        # --- large-star: for each u, attach all neighbors v with v > u
        #     to m(u) = min(N(u) ∪ {u})
        # nbrs feeds the min-aggregation AND the star join: materialize
        # so the 2|E| union is built once per round, not twice
        nbrs = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint(eager=False)
        mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
        mins = mins.withColumn("m", F.least("m", "u"))
        large = (
            # shuffle_hash: 2|E| × node-scale, both stats-less — the
            # no-stats fallback otherwise broadcasts a side (OOM at scale)
            nbrs.join(mins.hint("shuffle_hash"), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: orient edges to (larger → smaller); for each u
        #     attach all smaller neighbors to the minimum
        # oriented feeds mins2 AND the star join: materialize so the
        # large-star join+distinct above runs once per round, not twice
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).localCheckpoint(eager=False)
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            oriented.join(mins2.hint("shuffle_hash"), "u")
            .select(
                F.when(F.col("v") == F.col("m"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("u"),
                F.col("m").alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        small = small.localCheckpoint(eager=True)  # truncate lineage
        # convergence: edge set stable — ONE action (both sides are
        # distinct, so set semantics: two anti-joins unioned, early-out
        # via limit). The old two-exceptAll form was two driver round-
        # trips per round of pure scheduling latency.
        delta = (
            small.join(e, ["u", "v"], "left_anti").limit(1)
            .union(e.join(small, ["u", "v"], "left_anti").limit(1))
            .take(1)
        )
        e = small
        if not delta:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )

    # e now maps every non-root node to its component root
    mapping = e.select(
        F.col("u").alias("node_id"), F.col("v").alias("canonical_id")
    )
    roots = mapping.select(
        F.col("canonical_id").alias("node_id"),
        F.col("canonical_id").alias("canonical_id"),
    ).distinct()
    return mapping.union(roots).distinct()


def _driver_union_find(spark, table: pa.Table, id_type) -> DataFrame:
    """Exact union-find (union-by-min + path compression) over a collected
    (u, v) edge table — the small-dictionary fast path. Union always
    parents the larger root under the smaller, so every final root is
    its component's minimum id: identical output to the distributed
    loop (string order: Python code points ≡ Spark UTF8_BINARY)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(table["u"].to_pylist(), table["v"].to_pylist()):
        ra, rb = find(u), find(v)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    out = [(n, find(n)) for n in parent] + [
        (root, root) for root in {find(n) for n in parent}
    ]
    # output schema mirrors the INPUT id dtype (string ids in the KG
    # pipeline, bigint doc ids in near_dedup): long-vs-string joins
    # degrade via double casts above 2^53
    schema = StructType(
        [
            StructField("node_id", id_type, False),
            StructField("canonical_id", id_type, False),
        ]
    )
    return spark.createDataFrame(sorted(set(out)), schema)


def apply_canonical(
    df: DataFrame,
    mapping: DataFrame,
    cols: list[str],
    flag: str | None = None,
) -> DataFrame:
    """Rewrite id columns through the canonical mapping (left join +
    coalesce — ids not in any component map to themselves).

    The mapping is the alias dictionary: O(distinct aliased names),
    orders of magnitude smaller than the triple stream — always
    broadcast, so the rewrite is map-side (no shuffle of df).

    flag: optional boolean output column, true iff ANY of `cols` hit
    the mapping (including identity hits on canonical ids themselves —
    the mapping contains its roots). Rows with flag=false provably
    cannot collide with any other row post-rewrite, which is what lets
    the pipeline shuffle only the collision-prone stream.
    """
    out = df
    for c in cols:
        m = mapping.select(
            F.col("node_id").alias(c), F.col("canonical_id").alias(f"_canon_{c}")
        )
        out = out.join(F.broadcast(m), c, "left")
        if flag:
            out = out.withColumn(f"_hit_{c}", F.col(f"_canon_{c}").isNotNull())
        out = out.withColumn(
            c, F.coalesce(F.col(f"_canon_{c}"), F.col(c))
        ).drop(f"_canon_{c}")
    if flag:
        cond = F.lit(False)
        for c in cols:
            cond = cond | F.col(f"_hit_{c}")
        out = out.withColumn(flag, cond).drop(*[f"_hit_{c}" for c in cols])
    return out
