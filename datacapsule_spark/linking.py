"""Distributed entity linking: exact name-gram similarity join.

Upgrades the reference's exact-string node identity (NetworkX add_node
on the same surface string, tools/entity_extraction.py:93-133 — J5 in
SURVEY.md) to real alias resolution: symbol names that differ only by
case convention (HttpClient / http_client) or small edits are linked.

Two-tier design, both fully distributed and both exact:

1. **Normalization tier** (cheap): `norm = lower + strip non-alnum`.
   Names sharing a normal form are aliases by construction. This is a
   groupBy, no pairwise work — it alone resolves the planted
   CamelCase/snake_case variants.
2. **Fuzzy tier** (near-miss aliases): a prefix-filtered self-join over
   the character-3-gram sets of the normalized names (the filter-and-
   verify join of *Distributed Similarity Joins over Top-K Rankings*,
   EDBT 2020). Exactly the pairs with gram-set Jaccard ≥ LINK_JACCARD
   are emitted, scored by that Jaccard — no recall loss, deterministic.
   Only pairs sharing a prefix gram are ever formed, so cost is
   ~O(candidates), never O(n²).

At 10^12-file scale the distinct-symbol dictionary is << corpus size
(vocabulary saturates), so the join runs on the deduped name table,
not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The one threshold of the fuzzy tier: two names link iff their 3-gram
# sets have Jaccard >= LINK_JACCARD.
LINK_JACCARD = 0.7


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
    and self-joined under the length filter t·|A| <= |B| <= |A|/t, and
    the exact array_intersect/array_union Jaccard verifies each pair.
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
    prefix = sets.select(
        "name",
        "grams",
        "n",
        F.explode(
            F.slice("grams", 1, F.col("n") - F.ceil(F.col("n") * t).cast("int") + 1)
        ).alias("p"),
    )
    A, B = prefix.alias("A"), prefix.alias("B")
    ga, gb = F.col("A.grams"), F.col("B.grams")
    jac = F.size(F.array_intersect(ga, gb)) / F.size(F.array_union(ga, gb))
    return (
        A.join(
            B,
            (F.col("A.p") == F.col("B.p"))
            & (F.col("A.name") < F.col("B.name"))
            & (F.col("B.n") >= F.col("A.n") * t)
            & (F.col("A.n") >= F.col("B.n") * t),
        )
        .select(F.col("A.name").alias("a"), F.col("B.name").alias("b"), jac.alias("score"))
        .where(F.col("score") >= LINK_JACCARD)
        .dropDuplicates(["a", "b"])
    )


def alias_pairs(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Union of the exact-normal-form tier and the fuzzy tier.
    The deduped name dictionary is materialized ONCE here — `names` is
    typically a lazy view over a corpus-sized boundary, and each tier
    would otherwise re-run that scan + distinct."""
    n = names.select(F.col(name_col).alias("name")).distinct().localCheckpoint(eager=True)
    return (
        exact_norm_alias_pairs(n)
        .unionByName(fuzzy_alias_pairs(n))
        .dropDuplicates(["a", "b"])
    )
