"""Entity linking: exact name-gram similarity join, in two tiers.

Upgrades the reference's exact-string node identity (NetworkX add_node
on the same surface string, tools/entity_extraction.py:93-133 — J5 in
SURVEY.md) to real alias resolution: symbol names that differ only by
case convention (HttpClient / http_client) or small edits are linked.

Two kinds of link, both exact:

1. **Normal form** (cheap): `norm = lower + strip non-alnum`.
   Names sharing a normal form are aliases by construction: each
   group is a star to its min name, no pairwise work. This alone
   resolves the planted CamelCase/snake_case variants.
2. **Fuzzy** (near-miss aliases): a prefix-filtered self-join over
   the character-3-gram sets of the normalized names (the filter-and-
   verify join of *Distributed Similarity Joins over Top-K Rankings*,
   EDBT 2020). Exactly the pairs with gram-set Jaccard ≥ LINK_JACCARD
   are emitted, scored by that Jaccard — no recall loss, deterministic.
   Only pairs sharing a prefix gram are ever formed, so cost is
   ~O(candidates), never O(n²).

Both run over the deduped name dictionary, not the corpus (at 10^12-
file scale the distinct-symbol vocabulary is << corpus size). One
capped collect of that dictionary (`canonicalize.collect_capped`, the
package's one tier gate) picks the tier: up to
LINK_DRIVER_NAMES names, both joins run in plain Python on the driver
(`_driver_alias_pairs`); above it, as Spark jobs. The tiers are
equivalence-tested against one brute-force oracle (tests/test_linking.py).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import collect_capped

# The one threshold of the fuzzy join: two names link iff their 3-gram
# sets have Jaccard >= LINK_JACCARD.
LINK_JACCARD = 0.7

# Largest name dictionary linked on the driver. bench/link_tiers.py
# (fresh JVMs, 4 cores, names from 24 common words) found no crossover:
# the driver tier was faster at every size from 2k to 80k names (40k:
# 180 s against 489 s for the Spark tier; 80k: 893 s at 546 MB peak
# driver RSS), so this is the largest size measured. Above it the Spark
# tier runs: the only path for a dictionary that does not fit in driver
# memory. See bench/BASELINE.md "Linking tiers".
LINK_DRIVER_NAMES = 80_000

_PAIRS = pa.struct([("a", pa.string()), ("b", pa.string()), ("score", pa.float64())])


def normalize_name(col):
    """lower + strip non-alphanumeric: HttpClient → httpclient."""
    return F.regexp_replace(F.lower(col), "[^a-z0-9]", "")


def exact_norm_alias_pairs(names: DataFrame, name_col: str = "name") -> DataFrame:
    """names(name) → alias_pairs(a, b, score=1.0) via shared normal form.

    Emits a star per normal-form group (every member → group min), not
    the quadratic pairs — CC closes the component anyway.
    """
    n = names.select(F.col(name_col).alias("name")).distinct()
    grouped = (
        n.withColumn("norm", normalize_name(F.col("name")))
        .where(F.length("norm") > 0)
        .groupBy("norm")
        .agg(F.min("name").alias("a"), F.collect_set("name").alias("members"))
    )
    return (
        grouped.select("a", F.explode("members").alias("b"))
        .where(F.col("a") != F.col("b"))
        .withColumn("score", F.lit(1.0))
    )


def fuzzy_alias_pairs(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Near-duplicate alias pairs: an exact prefix-filter self-join over
    the 3-gram sets of the normalized names.

    Emits ALL pairs with gram-set Jaccard >= LINK_JACCARD, scored by that
    Jaccard. Each name's distinct grams are ordered rarest-first (gram
    frequency over the name dictionary, ties by gram); a pair with
    J >= t shares at least ⌈t·|A|⌉ grams, so it shares one of A's first
    |A| − ⌈t·|A|⌉ + 1 grams (the prefix). The prefix grams are exploded
    and self-joined under the length filter t·|A| <= |B| <= |A|/t; the
    distinct candidate pairs then pick up both gram sets and the exact
    array_intersect/array_union Jaccard verifies each pair once.
    Prefix, length filter and verification all derive from the one
    threshold, so there is no separate candidate cut.

    Returns alias_pairs(a, b, score), each pair once (a < b).
    """
    # float slack: t·n must not round above an integer it equals
    t = LINK_JACCARD - 1e-9

    n = (
        names.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("norm", normalize_name(F.col("name")))
        .where(F.length("norm") >= 3)
    )
    shingles = "transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3))"
    grams = n.select("name", F.explode(F.array_distinct(F.expr(shingles))).alias("g"))
    freq = grams.groupBy("g").agg(F.count("*").alias("df"))
    # grams rarest-first per name; checkpointed (dictionary-sized) because
    # both join sides read it, each re-executing its plan
    sets = (
        grams.join(freq, "g")
        .groupBy("name")
        .agg(F.array_sort(F.collect_list(F.struct("df", "g"))).alias("o"))
        .select("name", F.col("o.g").alias("grams"), F.size("o").alias("n"))
        .localCheckpoint(eager=True)
    )
    # only (name, n) rides through the prefix join: a pair sharing k
    # prefix grams comes out k times, so it is distinct()ed before the
    # gram sets join back and the Jaccard runs once per pair
    prefix = sets.select(
        "name",
        "n",
        F.explode(
            F.slice("grams", 1, F.col("n") - F.ceil(F.col("n") * t).cast("int") + 1)
        ).alias("p"),
    )
    A, B = prefix.alias("A"), prefix.alias("B")
    cands = (
        A.join(
            B,
            (F.col("A.p") == F.col("B.p"))
            & (F.col("A.name") < F.col("B.name"))
            & (F.col("B.n") >= F.col("A.n") * t)
            & (F.col("A.n") >= F.col("B.n") * t),
        )
        .select(F.col("A.name").alias("a"), F.col("B.name").alias("b"))
        .distinct()
    )
    ga, gb = F.col("ga"), F.col("gb")
    jac = F.size(F.array_intersect(ga, gb)) / F.size(F.array_union(ga, gb))
    return (
        cands.join(sets.select(F.col("name").alias("a"), F.col("grams").alias("ga")), "a")
        .join(sets.select(F.col("name").alias("b"), F.col("grams").alias("gb")), "b")
        .select("a", "b", jac.alias("score"))
        .where(F.col("score") >= LINK_JACCARD)
    )


def alias_pairs(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Normal-form stars ∪ fuzzy pairs over the distinct names:
    alias_pairs(a, b, score), each pair once (a < b).

    The distinct dictionary (name, norm) is built once, with `norm`
    computed in the JVM by normalize_name (Python's str.lower is not
    Spark's lower, whose non-ASCII path follows the JVM default locale).
    One capped collect of it picks the tier:

    - at most LINK_DRIVER_NAMES distinct names (read at call time):
      both joins run in plain Python on the collected table
      (`_driver_alias_pairs`); the whole stage is that collect plus the
      write of the result.
    - more (or LINK_DRIVER_NAMES = 0): exact_norm_alias_pairs ∪
      fuzzy_alias_pairs as Spark jobs.

    The dictionary sits behind a lazy localCheckpoint: the capped collect
    fills it, so the Spark tier reads it and never re-scans `names`
    (typically a lazy view over a corpus-sized boundary)."""
    dictionary = (
        names.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("norm", normalize_name(F.col("name")))
        .localCheckpoint(eager=False)
    )
    table = collect_capped(dictionary, LINK_DRIVER_NAMES)
    if table is not None:
        # via Arrow: a LocalRelation, so reading the pairs back launches
        # no job
        pairs = pa.Table.from_struct_array(pa.array(_driver_alias_pairs(table), _PAIRS))
        return names.sparkSession.createDataFrame(pairs)
    return (
        exact_norm_alias_pairs(dictionary)
        .unionByName(fuzzy_alias_pairs(dictionary))
        .dropDuplicates(["a", "b"])
    )


def _driver_alias_pairs(table: pa.Table) -> list[tuple[str, str, float]]:
    """The Spark tier's output, computed in Python over a collected
    (name, norm) table, sorted by (a, b).

    Normal form: every member of a norm group pairs with the group's min
    name, score 1.0. Fuzzy: the same rarest-first prefix filter (gram
    frequency over the dictionary, ties by gram), length filter and
    exact Jaccard check as fuzzy_alias_pairs, with the same 1e-9 slack.
    Names are probed in ascending gram-count order against an index of
    the prefixes seen so far (AllPairs), so each candidate pair is formed
    once and the length filter reduces to |B| >= t·|A| for the smaller B.
    String order is the same on both sides (Python code points ≡ Spark
    UTF8_BINARY), and norm is ASCII, so its grams and their order are too.
    """
    t = LINK_JACCARD - 1e-9
    pairs: dict[tuple[str, str], float] = {}

    rows = list(zip(table["name"].to_pylist(), table["norm"].to_pylist()))
    groups = defaultdict(list)
    for name, norm in rows:
        if norm:
            groups[norm].append(name)
    for members in groups.values():
        a = min(members)
        pairs.update(((a, b), 1.0) for b in members if b != a)

    grams = {
        name: {norm[i : i + 3] for i in range(len(norm) - 2)}
        for name, norm in rows
        if norm and len(norm) >= 3
    }
    freq = Counter(g for gs in grams.values() for g in gs)
    index = defaultdict(list)  # prefix gram → names with it, by size
    short = Counter()  # index[g][:short[g]] is below every later length cut
    for x in sorted(grams, key=lambda x: len(grams[x])):
        gx = grams[x]
        nx = len(gx)
        cands = set()
        for g in sorted(gx, key=lambda g: (freq[g], g))[: nx - math.ceil(nx * t) + 1]:
            ys, i = index[g], short[g]
            while i < len(ys) and len(grams[ys[i]]) < nx * t:
                i += 1
            short[g] = i
            cands.update(ys[i:])
            ys.append(x)
        for y in cands:
            inter = len(gx & grams[y])
            score = inter / (nx + len(grams[y]) - inter)
            if score >= LINK_JACCARD:
                pairs[min(x, y), max(x, y)] = score
    return sorted((a, b, s) for (a, b), s in pairs.items())
