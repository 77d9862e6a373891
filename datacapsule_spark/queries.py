"""Query registry: every SURVEY.md §2 operator as a (spark_fn, oracle_sql)
pair over the driver testdata tables (TESTDATA.md).

Contract (driver): each spark fn takes (spark, sf_dir) and returns a
DataFrame; the oracle SQL runs in DuckDB over pre-registered views of
the same parquet. Column names are aliased identically on both sides;
floats are rounded to fixed decimals so cross-engine value-hashes
match; LIMIT queries carry a unique total order.

Queries whose semantics are not SQL-expressible (LSH banding) omit the
oracle → the driver records a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SENTINEL_EVENTS = ("error", "timeout")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread over the cluster — but ONLY when the scan is
    narrower than the cluster. The testdata parquet is a single file
    (one input split), which would serialize the heavy per-doc
    expression work onto one core, so a repartition is bought once; a
    real corpus has >= defaultParallelism splits and pays nothing here
    (no unconditional Exchange — asserted in tests/test_plans.py)."""
    return _spread(spark, _t(spark, sf_dir, "documents"), "doc_id")


# --------------------------------------------------------------------------
# TPC-H-style relational operators (SURVEY §2.2-2.6: P*, J*, A*, W*, U*)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark, sf_dir):
    """A4/A1: wide aggregate with partial+final hash agg (TPC-H Q1 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_orders(spark, sf_dir):
    """J1+W1: 3-way join, group, top-10 by revenue (TPC-H Q3 shape).
    Small dims broadcast; top-k compiles to TakeOrderedAndProject."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_regional_revenue(spark, sf_dir):
    """J1 at full fan: 6-way join with two broadcast dims."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def distinct_segments(spark, sf_dir):
    """P4: DISTINCT projection (dspy_query_db.py:64-67 probe)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


def filter_valid_events(spark, sf_dir):
    """P1: sentinel/invalid-value filter (entity_extraction.py:158)."""
    e = _t(spark, sf_dir, "events")
    return e.where(
        (~F.col("event_type").isin(*SENTINEL_EVENTS))
        & F.col("value").isNotNull()
        & (F.col("value") > 0)
    ).select("event_id", "event_type", F.round("value", 2).alias("value"))


def like_brand_parts(spark, sf_dir):
    """P5: LIKE-policy predicate (dspy_query_db.py:27-31)."""
    p = _t(spark, sf_dir, "part")
    return p.where(F.col("p_type").contains("AND")).select(
        "p_partkey", "p_name", "p_type"
    )


def union_high_value(spark, sf_dir):
    """U1: union + distinct of two derived sets."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    a = c.where(F.col("c_acctbal") > 9000).select(F.col("c_name").alias("name"))
    b = s.where(F.col("s_acctbal") > 9000).select(F.col("s_name").alias("name"))
    return a.union(b).distinct()


def anti_join_idle_customers(spark, sf_dir):
    """left_anti — the visited-set device of the BFS (SURVEY J3)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") >= F.lit("1998-01-01"))
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def semi_join_ordered_parts(spark, sf_dir):
    """left_semi: parts that appear in any lineitem."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_brand"
    )


def window_top3_orders_per_segment(spark, sf_dir):
    """W1 grouped: row_number per partition, k=3 (filter→rank→limit,
    the reference's overfetch quirk fixed — SURVEY G7)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = o.join(c, o.o_custkey == c.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "c_mktsegment",
            "rn",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


def page2_orders(spark, sf_dir):
    """W2: order + offset/limit pagination (app.py:469-495)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("o_totalprice"))
        .offset(20)
        .limit(20)
    )


def histogram_event_types(spark, sf_dir):
    """A2: per-type histogram (entity_extraction.py:261-269)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


def rollup_order_stats(spark, sf_dir):
    """Grouping sets via rollup — free through Catalyst (SURVEY §2.4)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 2).alias("avg_price"))
    )


def distinct_parts_per_flag(spark, sf_dir):
    """Distinct aggregate: count(distinct) per group."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def events_hourly(spark, sf_dir):
    """Tumbling time window: hourly event counts and mean value per
    event type (date_trunc group key, one shuffle)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))
    )


def events_lag_delta(spark, sf_dir):
    """Analytic window: per-user value delta vs previous event."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        e.withColumn("prev_value", F.lag("value").over(w))
        .where(F.col("prev_value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.col("prev_value"), 2).alias("delta"),
        )
    )


def sessionize_batch(spark, sf_dir):
    """Gap-based sessions via lag + running sum of session-break flags
    (two windows, one shuffle on user_id)."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    # TIMESTAMP_NTZ needs a hop through TIMESTAMP to reach epoch seconds
    epoch = F.col("ts").cast("timestamp").cast("long")
    flagged = e.withColumn(
        "new_sess",
        F.when(epoch - F.lag(epoch).over(w) > 1800, 1)
        .otherwise(0)
        .cast("int"),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .drop("sess_id")
    )


def range_join_value_bands(spark, sf_dir):
    """Range join: events assigned to value bands [lo, hi) via the
    bucketed (scale-path) strategy; per-band aggregates."""
    from .operators.rangejoin import range_join_bucketed

    e = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bands = spark.createDataFrame(
        [(i, float(i * 100), float((i + 1) * 100)) for i in range(10)],
        "band_id int, lo double, hi double",
    )
    joined = range_join_bucketed(e, bands, "value", step=100.0)
    return joined.groupBy("band_id", "lo", "hi").agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_value")
    )


def asof_click_last_purchase(spark, sf_dir):
    """As-of join: for each click event, the user's most recent
    purchase value at-or-before the click. Right side pre-aggregated
    to one row per (user, ts) for tie determinism."""
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = asof_join(clicks, purchases, by=["user_id"], ts="ts", value_cols=["pvalue"])
    return out.select(
        "event_id", "user_id", F.round("pvalue_asof", 2).alias("last_purchase")
    )


def min_price_supplier_per_part(spark, sf_dir):
    """TPC-H Q2 shape: min-per-group correlated subquery as a
    self-joinable aggregate — cheapest supplier account balance among
    suppliers of each part (via lineitem)."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    s = _t(spark, sf_dir, "supplier")
    j = li.join(s, li.l_suppkey == s.s_suppkey)
    mins = j.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    return (
        j.join(mins, "l_partkey")
        .where(F.col("s_acctbal") == F.col("min_bal"))
        .select(
            "l_partkey",
            "s_suppkey",
            F.round("s_acctbal", 2).alias("s_acctbal"),
        )
    )


def customers_with_big_order(spark, sf_dir):
    """Correlated EXISTS with a predicate on the subquery row."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def parts_above_brand_avg(spark, sf_dir):
    """Correlated-aggregate shape: parts priced above their brand's
    average (window-avg formulation; Catalyst plans one shuffle)."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("brand_avg", F.avg("p_retailprice").over(w))
        .where(F.col("p_retailprice") > F.col("brand_avg"))
        .select("p_partkey", "p_brand", F.round("p_retailprice", 2).alias("p_retailprice"))
    )


def pivot_order_status(spark, sf_dir):
    """Conditional pivot: order counts per priority × status as columns."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_f"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_o"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_p"),
    )


def monthly_revenue(spark, sf_dir):
    """Date bucketing time series: revenue per calendar month."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.year("l_shipdate").alias("y"), F.month("l_shipdate").alias("m")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def segment_price_quartiles(spark, sf_dir):
    """Exact interpolated percentiles per group (median + p90)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
    )


def events_funnel(spark, sf_dir):
    """Ordered funnel view → click → purchase (operators/funnel.py):
    per-user strictly-increasing-timestamp subsequence match via
    greedy frontier aggregation — order-sensitive analytics a single
    grouped count can't express. Oracle chains the identical greedy
    min-after-frontier steps in SQL."""
    from .operators.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


def events_funnel_users(spark, sf_dir):
    """Per-user funnel table (operators/funnel.funnel_user_depths):
    each user's depth and deepest-step frontier time for
    view → click → purchase — the row form behind events_funnel's
    counts."""
    from .operators.funnel import funnel_user_depths

    return funnel_user_depths(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


def user_event_sequences(spark, sf_dir):
    """Per-user ordered event-type sequence (sessionization precursor):
    sort_array over collected (ts, type) structs → concat for
    engine-portable compare."""
    e = _t(spark, sf_dir, "events").where(F.col("user_id") < 50)
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                "|",
            ).alias("sequence"),
            F.count("*").alias("n_events"),
        )
    )
    return seq


def dedup_keep_docs(spark, sf_dir):
    """The actual dedup operator output: the surviving corpus (one doc
    per exact-content group, min doc_id wins)."""
    from .operators.dedup import exact_dedup

    d = _docs(spark, sf_dir)
    keep = exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    return d.join(keep, "doc_id", "left_semi").select("doc_id", "n_chars")


def string_projection(spark, sf_dir):
    """String scalar functions: upper/substring/length/replace."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("upper_name"),
        F.substring("n_name", 1, 3).alias("prefix3"),
        F.length("n_name").alias("name_len"),
        F.regexp_replace("n_name", "[AEIOU]", "_").alias("devoweled"),
    )


# --------------------------------------------------------------------------
# Dedup suite (training-data pipeline operators) over `documents`
# --------------------------------------------------------------------------

def events_json_extract(spark, sf_dir):
    """F12: JSON payload extraction (to_json/from_json round-trip of
    app.py:298-316 re-expressed as get_json_object)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .where(F.col("k") > 50)
        .select("event_id", "event_type", "k")
    )


def except_lapsed_customers(spark, sf_dir):
    """Set difference: customers with any order EXCEPT customers with a
    1998 order (exceptAll → EXCEPT ALL)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )
    recent = (
        c.join(
            o.where(F.col("o_orderdate") >= F.lit("1998-01-01")),
            c.c_custkey == o.o_custkey,
            "left_semi",
        ).select("c_custkey", "c_name")
    )
    return with_orders.exceptAll(recent)


def intersect_both_segments(spark, sf_dir):
    """Set intersection: nations having BUILDING customers ∩ nations
    having MACHINERY customers."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    a = j.where(F.col("c_mktsegment") == "BUILDING").select("n_name")
    b = j.where(F.col("c_mktsegment") == "MACHINERY").select("n_name")
    return a.intersect(b)


def dedup_exact_docs(spark, sf_dir):
    from .operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def dedup_ngram_jaccard_docs(spark, sf_dir):
    """Exact 3-gram Jaccard ≥ 0.5 over a bounded candidate set (same
    `source` — blocking stands in for LSH so the oracle stays SQL).

    r07: candidates are built as an ids-only same-source self-join and
    scored through the ROW-form gate (ngram_jaccard_pairs) — the old
    with_shingles form shipped full per-doc gram ARRAYS through the
    pair join and ran array_intersect/array_union per pair (~1600-
    element arrays at real doc lengths: 8.4 -> 4.5s at sf0.1, 142 ->
    34s on the 29x long-doc check). Same integers by construction
    (|A∩B| and |A∪B| over distinct gram sets), so gate at threshold 0
    and apply the declared round-then-filter on top."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _docs(spark, sf_dir)
    ids = d.select("doc_id", "source")
    pairs = (
        ids.alias("x")
        .join(
            ids.alias("y").hint("shuffle_hash"),  # corpus-scale, stats-less
            (F.col("x.doc_id") < F.col("y.doc_id"))
            & (F.col("x.source") == F.col("y.source")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .localCheckpoint(eager=False)  # consumed 4x inside the gate
    )
    # threshold=0: score every candidate, then apply the DECLARED
    # round-then-filter. (A min/max size-ratio prefilter inside the
    # gate was tried and REVERTED: on uniform-length docs it prunes
    # ~nothing while paying two pair-scale joins — 4.45 -> 6.40s.)
    return (
        ngram_jaccard_pairs(d, pairs, "text", "doc_id", 3, threshold=0.0)
        .withColumn("jaccard", F.round("jaccard", 6))
        .where(F.col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
    )


def dedup_simhash_docs(spark, sf_dir):
    from .operators.dedup import simhash64

    return simhash64(_docs(spark, sf_dir))


def dedup_simhash_pairs_docs(spark, sf_dir):
    """SimHash near-dup PAIRING (r02 VERDICT item 2): fingerprints →
    bit-block banding candidates (pigeonhole-complete for hamming ≤ 3)
    → exact popcount verify. Natural near-dup pairs are rare in the
    synthetic corpus, so each doc also gets a planted twin
    (doc_id + 1000000) whose fingerprint flips exactly one
    doc_id-derived bit — guaranteeing ≥ n_docs true hamming-1 pairs for
    the oracle to witness at every SF."""
    from .operators.dedup import simhash64, simhash_pairs

    # fp feeds BOTH union branches (itself + the planted twin
    # projection): materialize once or the 60-bit fingerprint
    # aggregation runs per branch (r07)
    fp = simhash64(_docs(spark, sf_dir)).localCheckpoint(eager=False)
    flip = F.expr(
        "shiftleft(cast(1 as bigint), cast(pmod(doc_id, 60) as int))"
    )
    planted = fp.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("simhash").bitwiseXOR(flip).alias("simhash"),
    )
    pairs = simhash_pairs(fp.unionByName(planted), max_hamming=3)
    return pairs.select("a", "b", F.col("hamming").cast("int").alias("hamming"))


def _dedup_minhash_pairs(spark, sf_dir):
    from .operators.dedup import minhash_lsh_pairs, minhash_signatures

    d = _docs(spark, sf_dir)
    return minhash_lsh_pairs(minhash_signatures(d))


def dedup_minhash_pairs_docs(spark, sf_dir):
    """MinHash+LSH banding (16 hashes, 4 bands × 4 rows) — candidate
    pairs. md5-derived so the DuckDB oracle reproduces exactly."""
    return _dedup_minhash_pairs(spark, sf_dir).select("a", "b")


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs on a bounded slice — exact=True is the
    DuckDB-oracle twin (all-pairs is SQL-expressible; the operator's
    DEFAULT is the bucketed LSH path, recall-gated in
    tests/test_operators.py::test_embedding_dedup_bucketed_recall)."""
    from .operators.dedup import embedding_cosine_pairs

    e = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 200)
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    out = embedding_cosine_pairs(e, threshold=0.3, exact=True)
    return out.select("a", "b", F.round("cos", 6).alias("cos"))


def dedup_semantic_keep(spark, sf_dir):
    """SemDeDup-style surviving set end-to-end (operators/dedup.
    semantic_dedup): cosine-pair graph → connected components → keep
    min id per cluster. exact=True pair twin so the DuckDB oracle
    (list_cosine_similarity all-pairs + recursive-CTE closure) verifies
    the whole pairs→CC→anti-join chain; the production default is the
    bucketed hyperplane-LSH pair path (recall-gated in pytest)."""
    from .operators.dedup import semantic_dedup

    e = (
        _t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 200)
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
    )
    return semantic_dedup(e, threshold=0.3, exact=True).select("vec_id", "label")


def dedup_lsh_jaccard_docs(spark, sf_dir):
    """The production near-dup chain end-to-end (VERDICT r01 item 3):
    MinHash signatures → banded LSH candidate pairs → exact n-gram
    Jaccard re-score. Never all-pairs: candidates exist only where a
    band collides; the re-score joins shingles onto candidates only."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _docs(spark, sf_dir)
    pairs = _dedup_minhash_pairs(spark, sf_dir)
    out = ngram_jaccard_pairs(d, pairs, threshold=0.5)
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def dedup_keep_best_docs(spark, sf_dir):
    """near_dedup's keep-BEST mode driver-gated (r05): the surviving
    corpus after MinHash-LSH + 0.5-Jaccard-gated clustering, keeping
    each cluster's LONGEST doc (n_chars as the deterministic quality
    proxy; ties → min id) instead of min id — the production
    training-data shape: a near-dup cluster usually mixes a clean
    original with mangled copies, and min-id keeps an arbitrary one.
    Oracle replays the banding, the Jaccard gate, the reachability
    closure, and the argmax-with-tie keep rule."""
    from .operators.dedup import near_dedup

    d = _docs(spark, sf_dir)
    out = near_dedup(d, min_jaccard=0.5, keep_best_col="n_chars")
    return out.select("doc_id", "n_chars")


# --------------------------------------------------------------------------
# Text analysis suite over `documents`
# --------------------------------------------------------------------------

def text_language_id(spark, sf_dir):
    from .operators.text import language_id

    return language_id(_docs(spark, sf_dir))


def text_quality(spark, sf_dir):
    from .operators.text import quality_score

    q = quality_score(_docs(spark, sf_dir))
    return q.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        "quality",
    )


def text_token_count(spark, sf_dir):
    from .operators.text import token_count

    return token_count(_docs(spark, sf_dir))


def text_fingerprint(spark, sf_dir):
    from .operators.text import fingerprint

    return fingerprint(_docs(spark, sf_dir))


def text_chunks(spark, sf_dir):
    """F9: sliding-window token chunking (64-token chunks, stride 48) —
    1→N row expansion born on the scan partitions, no shuffle."""
    from .operators.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), size=64, stride=48)


def events_retention_cohorts(spark, sf_dir):
    """Classic retention matrix: cohort users by first-seen day, count
    distinct users active at each day offset. Two aggregations + one
    join of the user-sized first-seen table back onto events."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
            "n_users",
        )
    )


def events_moving_avg(spark, sf_dir):
    """7-calendar-day trailing moving average of daily event volume —
    a RANGE frame over the integer day number, so calendar gaps do NOT
    stretch the window (a ROWS frame would average the last 7 PRESENT
    days). The rolling window runs over the POST-aggregation daily
    table (one row per day), so the unpartitioned window is a
    dimension-sized sort, not a corpus-wide one."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_events"))
        .withColumn("_dayn", F.datediff("day", F.lit("1970-01-01")))
    )
    w = Window.orderBy("_dayn").rangeBetween(-6, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.avg("n_events").over(w), 4).alias("ma7"),
    )


def dedup_passages_docs(spark, sf_dir):
    """Cross-document duplicated-passage screen (Lee et al.'s exact
    dedup at passage granularity): non-overlapping 16-token chunks,
    md5-fingerprinted, grouped corpus-wide; a passage in ≥2 distinct
    docs is a dedup target. The corpus view plants 20 copied docs
    (doc_id + 1e6) so the screen is exercised, not vacuously empty on
    this dup-free slice. Chunking is the shuffle-free 1→N expansion;
    the group-by moves 16-byte hashes, never passages."""
    from .operators.text import chunk_documents

    # _docs: chunking+fingerprinting is per-doc compute that must not
    # serialize onto the testdata's single input split
    d = _docs(spark, sf_dir).select("doc_id", "text")
    low = (
        d.orderBy("doc_id")
        .limit(20)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    ch = chunk_documents(d.unionAll(low), size=16, stride=16)
    return (
        ch.groupBy(F.md5("chunk").alias("passage_hash"))
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
    )


# --------------------------------------------------------------------------
# Corpus-curation suite over `documents` (CCNet / Gopher / C4 family)
# --------------------------------------------------------------------------

def curation_boilerplate_strip(spark, sf_dir):
    """CCNet-style boilerplate removal: segment docs into fixed 8-token
    windows, drop every segment occurring in >= 2 distinct docs
    (globally), reassemble. Boilerplate set is broadcast back."""
    from .operators.curation import boilerplate_strip
    from .operators.text import chunk_documents

    segs = chunk_documents(_docs(spark, sf_dir), size=8, stride=8).select(
        "doc_id",
        F.col("chunk_idx").alias("seg_idx"),
        F.col("chunk").alias("seg"),
    )
    return boilerplate_strip(segs, min_docs=2)


def curation_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 97 == 0 act as the
    held-out eval set; every other doc is scored by how many distinct
    word-3-grams it shares with ANY benchmark doc."""
    from .operators.curation import decontaminate

    d = _docs(spark, sf_dir)
    bench = d.where(F.col("doc_id") % 97 == 0)
    train = d.where(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, shingle_n=3, min_hits=1)


def text_gopher_quality(spark, sf_dir):
    """Gopher repetition/word-shape rules (mean word length, symbol
    ratio, unique-token fraction, top-bigram fraction) + pass flag."""
    from .operators.curation import gopher_quality

    g = gopher_quality(_docs(spark, sf_dir))
    return g.withColumn("n_tokens", F.col("n_tokens").cast("bigint"))


def text_repetition_report(spark, sf_dir):
    """Full Gopher repetition suite (dup line/paragraph count+char
    fractions, top-{2,3,4}-gram char fractions) over a linified view
    of documents: every literal ' value ' becomes a newline (literal
    replace — identical left-to-right non-overlap semantics on both
    engines) and the first line is appended again, planting one
    duplicated line per doc so the dup fractions are exercised rather
    than vacuously zero on this newline-free corpus."""
    from .operators.curation import repetition_report

    # _docs, not _t: the per-doc split/explode work below is the whole
    # query — on the single-file testdata scan it would serialize onto
    # one core (13.5s -> 1.9s at the 10x scale check)
    d = _docs(spark, sf_dir)
    lin = F.replace(F.col("text"), F.lit(" value "), F.lit("\n"))
    docs = d.select(
        "doc_id",
        F.concat(
            lin, F.lit("\n"), F.element_at(F.split(lin, "\n"), 1)
        ).alias("text"),
    )
    return repetition_report(docs)


def text_quality_classifier(spark, sf_dir):
    """fastText/CCNet-style linear quality classifier scoring: hashed
    bag-of-words (md5 bucket, 64 buckets here so the synthetic weight
    table is dense) · broadcast weight table → sigmoid. Weights are
    synthesized in-plan from the bucket id ((b % 7 - 3)/10), standing
    in for a trained model export; keep is decided on the ROUNDED
    probability so engine ulp differences can't flip the flag."""
    from .operators.text import linear_quality_score

    w = spark.range(64).select(
        F.col("id").alias("bucket"),
        ((F.col("id") % 7) - 3).cast("double") / F.lit(10.0),
    ).toDF("bucket", "weight")
    s = linear_quality_score(
        _docs(spark, sf_dir), w, n_buckets=64, intercept=-0.05
    )
    p6 = F.round("quality_prob", 6)
    return s.select(
        "doc_id",
        "n_tokens",
        p6.alias("quality_prob"),
        (p6 >= 0.53).alias("keep"),
    )


def text_cooccurrence_pmi(spark, sf_dir):
    """Top-20 adjacent word pairs by pointwise mutual information
    (min pair count 25): PMI = ln(c_xy · N / (c_x · c_y)) over the
    corpus bigram and unigram tables — the collocation screen feeding
    entity-linking features and tokenizer sanity checks. Two
    aggregations (bigrams, unigrams) + two broadcast-size joins; the
    1-row total folds in-plan. Ranked on the ROUNDED score."""
    from .operators.dedup import shingle_rows

    d = _docs(spark, sf_dir)
    bg = (
        shingle_rows(d, "text", "doc_id", n=2, distinct=False)
        .groupBy("g")
        .agg(F.count("*").alias("c_xy"))
        .where(F.col("c_xy") >= 25)
        .select(
            F.split("g", " ").getItem(0).alias("x"),
            F.split("g", " ").getItem(1).alias("y"),
            "c_xy",
        )
    )
    uni = (
        d.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    total = uni.agg(F.sum("c").alias("n_tok"))
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    pmi = F.round(
        F.log(
            F.col("c_xy").cast("double")
            * F.col("n_tok")
            / (F.col("c_x") * F.col("c_y"))
        ),
        6,
    )
    return (
        bg.join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(total))
        .select(
            "x",
            "y",
            F.col("c_xy").cast("bigint").alias("c_xy"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("x"), F.asc("y"))
        .limit(20)
    )


def curation_stratified_sample(spark, sf_dir):
    """Quality-stratified (curriculum) sampling — the composition a
    real mixing job runs: classifier-score the corpus (hashed linear
    model), ntile(4) into quality quartiles (ordered on the ROUNDED
    score then doc_id, so the tiling is deterministic on both
    engines), then keep each quartile at its own deterministic
    md5-threshold rate (best quartile 100%, then 50%, 25%, 10%).
    Witnesses classifier → window → sampler compose with correct
    column contracts."""
    from .operators.curation import sample_by_hash
    from .operators.text import linear_quality_score

    w = spark.range(64).select(
        F.col("id").alias("bucket"),
        (((F.col("id") % 7) - 3).cast("double") / F.lit(10.0)).alias("weight"),
    )
    s = linear_quality_score(_docs(spark, sf_dir), w, n_buckets=64)
    tiled = s.select(
        "doc_id",
        F.round("quality_prob", 6).alias("q6"),
    ).withColumn(
        "quartile",
        F.ntile(4).over(
            Window.orderBy(F.desc("q6"), F.asc("doc_id"))
        ),
    )
    rates = {1: 1.0, 2: 0.5, 3: 0.25, 4: 0.1}
    kept = None
    for tile, rate in rates.items():
        part = sample_by_hash(
            tiled.where(F.col("quartile") == tile), rate, "doc_id", salt="c5"
        )
        kept = part if kept is None else kept.unionAll(part)
    return kept.select(
        "doc_id", "q6", F.col("quartile").cast("bigint").alias("quartile")
    )


def curation_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023) gated end-to-end:
    select 50 docs from the corpus toward the lang='en' target domain
    using hashed uni+bigram bag features (1024 buckets, Laplace 1.0)
    and deterministic md5-Gumbel top-k. The oracle replays the whole
    estimator — feature hashing, both bucket distributions, the
    log-ratio table, per-doc weights, and the Gumbel draw — in SQL,
    so the cross-engine gate covers the math, not just the shape."""
    from .operators.curation import dsir_select

    docs = _docs(spark, sf_dir)
    return dsir_select(
        docs, docs.where(F.col("lang") == "en"), k=50, n_buckets=1024
    )


def dedup_duplicate_spans_docs(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022 substring
    dedup, distributed): every-position 4-token window fingerprints,
    corpus-duplicated windows (count > 1, self-repeats included),
    consecutive positions merged to maximal per-doc spans. min_len=4
    on this corpus yields multi-span docs, so the island merge is
    exercised, not vacuous."""
    from .operators.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), min_len=4)


def dedup_lsh_index_docs(spark, sf_dir):
    """The INCREMENTAL dedup index gated end-to-end: build the band
    index on 80% of the corpus, upsert the remaining 20% at version 1,
    tombstone every doc_id % 50 == 0 at version 2, then read candidate
    pairs from the index. The oracle replays plain whole-corpus banding
    over the LIVE set in SQL — so the version-log resolution, O(batch)
    upsert, and tombstone semantics must compose to exactly the
    from-scratch answer."""
    import shutil

    from .operators.dedup_index import (
        build_lsh_index, delete_lsh_docs, lsh_index_pairs, upsert_lsh_index,
    )

    docs = _docs(spark, sf_dir)
    path = f"/tmp/dcs_lsh_index_gate_{abs(hash(sf_dir))}"
    shutil.rmtree(path, ignore_errors=True)
    build_lsh_index(docs.where(F.col("doc_id") % 5 != 0), path)
    upsert_lsh_index(docs.where(F.col("doc_id") % 5 == 0), path, version=1)
    dead = [
        r["doc_id"]
        for r in docs.where(F.col("doc_id") % 50 == 0)
        .select("doc_id")
        .collect()
    ]
    delete_lsh_docs(spark, path, dead, version=2)
    return lsh_index_pairs(spark, path)


def dedup_lsh_index_probe_docs(spark, sf_dir):
    """The O(delta) incremental query gated cross-engine: build the
    band index on doc_id % 7 != 0, probe the % 7 == 0 delta against it
    — only the delta is shingled at query time. Oracle = whole-corpus
    SQL banding joined across the two sides (per-doc signatures make
    union banding ≡ per-set banding)."""
    import shutil

    from .operators.dedup_index import build_lsh_index, lsh_index_probe

    docs = _docs(spark, sf_dir)
    path = f"/tmp/dcs_lsh_probe_gate_{abs(hash(sf_dir))}"
    shutil.rmtree(path, ignore_errors=True)
    build_lsh_index(docs.where(F.col("doc_id") % 7 != 0), path)
    return lsh_index_probe(docs.where(F.col("doc_id") % 7 == 0), path)


def dedup_keep_first_spans_docs(spark, sf_dir):
    """duplicate_spans keep='first' gated cross-engine: the canonical
    occurrence (min packed (doc_id, pos) per window fingerprint) is
    exempt, every other occurrence marked — the Lee et al. keep-one
    rule. The oracle replays the packed argmin in SQL."""
    from .operators.dedup import duplicate_spans

    return duplicate_spans(_docs(spark, sf_dir), min_len=4, keep="first")


def dedup_strip_spans_docs(spark, sf_dir):
    """Substring dedup end-to-end: find every-position duplicated
    spans (min_len=4) and CUT them, rebuilding the surviving text —
    the removal mechanism gate (keep-policy is the caller's; this
    twin removes every duplicated occurrence). The oracle rebuilds
    the byte-identical cleaned text and compares md5, so tokenization,
    span offsets, overlap handling, and the whitespace-normalization
    contract are all verified, not just row counts."""
    from .operators.dedup import duplicate_spans, strip_spans

    docs = _docs(spark, sf_dir)
    out = strip_spans(docs, duplicate_spans(docs, min_len=4))
    return out.select(
        "doc_id", "n_tokens", "n_removed", F.md5("text").alias("clean_md5")
    )


def text_classifier_train(spark, sf_dir):
    """Distributed training of the hashed linear quality classifier
    (full-batch logistic GD, 3 iterations, hashed uni-gram TF features,
    md5 mod 256 buckets, L2 0.1) — the fastText-style filter's TRAINING
    side, closing the loop with linear_quality_score. Deterministic by
    construction (full batch, zero init, fixed iters), so the DuckDB
    oracle replays the entire optimization as 3 unrolled SQL rounds:
    margins → sigmoid residuals → bucket gradients → weight update."""
    from .operators.text import train_linear_classifier

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.coalesce(F.col("lang") == "en", F.lit(False))
        .cast("int")
        .alias("label"),
    )
    w = train_linear_classifier(docs, n_buckets=256, iters=3, lr=1.0, l2=0.1)
    return w.select("bucket", F.round("weight", 6).alias("weight"))


def tokenizer_top_pairs(spark, sf_dir):
    """BPE training's core distributed step gated end-to-end: corpus →
    word-frequency table → end-of-word-marked symbol arrays → weighted
    adjacent-pair counts → global top-10 (ties lexicographic). This is
    round 0 of operators/tokenizer.bpe_train; the iterative trainer and
    the corpus tokenizer are pinned to a pure-Python Sennrich reference
    in tests/test_tokenizer.py."""
    from .operators.tokenizer import EOW, _adjacent_pair_counts, word_counts

    words = word_counts(_docs(spark, sf_dir))
    symtab = words.select(
        F.concat(F.split("word", ""), F.array(F.lit(EOW))).alias("syms"),
        "freq",
    )
    return (
        _adjacent_pair_counts(symtab)
        .select(
            F.col("s").alias("a"),
            F.col("s2").alias("b"),
            F.col("pair_freq").cast("bigint").alias("pair_freq"),
        )
        .orderBy(F.desc("pair_freq"), F.asc("a"), F.asc("b"))
        .limit(10)
    )


def sample_docs_hash(spark, sf_dir):
    """Deterministic Bernoulli sample at rate 0.25 keyed on
    md5('s1' || doc_id) — reproducible across engines and runs."""
    from .operators.curation import sample_by_hash

    d = _t(spark, sf_dir, "documents")  # pure filter: no repartition
    return sample_by_hash(d, 0.25, "doc_id", salt="s1").select(
        "doc_id", "source", "lang"
    )


def sample_per_source_topn(spark, sf_dir):
    """Stratified quota sampling: 3 docs per source in deterministic
    hash order (window top-n per group)."""
    from .operators.curation import per_source_quota

    d = _t(spark, sf_dir, "documents")
    return per_source_quota(d, 3, salt="s2").select(
        "source", F.col("sample_rank").cast("bigint").alias("sample_rank"), "doc_id"
    )


def corpus_balance_report(spark, sf_dir):
    """Data-mixing report: per (source, lang) doc count, corpus share,
    exact p50/p90 token counts."""
    from .operators.curation import corpus_balance

    return corpus_balance(_t(spark, sf_dir, "documents"))


def rebalance_docs_sources(spark, sf_dir):
    """Deterministic downsampling toward target shares: src0 → 1%,
    src1 → 10% (capped: keeps all), src2 → 3%; other sources dropped."""
    from .operators.curation import rebalance_by_source

    out = rebalance_by_source(
        _t(spark, sf_dir, "documents"),
        {"src0": 0.01, "src1": 0.10, "src2": 0.03},
        salt="mix",
    )
    return out.select("doc_id", "source")


def curation_temperature_mix(spark, sf_dir):
    """Temperature mixing at alpha = 0.5: head sources downsample
    toward the flattened count^0.5 distribution, tail sources keep
    everything — target shares computed IN-PLAN from the counts, then
    the deterministic md5-threshold sampler (same hash family as
    sample_docs_hash/rebalance, so the oracle recomputes membership
    bit-for-bit)."""
    from .operators.curation import temperature_mix

    out = temperature_mix(
        _t(spark, sf_dir, "documents"), alpha=0.5, salt="temp"
    )
    return out.select("doc_id", "source")


def curation_temperature_mix_chars(spark, sf_dir):
    """Mass-weighted temperature mixing (r05 weight_col): sources
    weigh by total n_chars instead of doc count — the production rule
    (mix by tokens/bytes; a source of few huge files is a HEAD source
    even though its doc count says tail). Same in-plan share math and
    md5 sampler, W_s = sum(n_chars)."""
    from .operators.curation import temperature_mix

    out = temperature_mix(
        _t(spark, sf_dir, "documents"), alpha=0.5, salt="tw",
        weight_col="n_chars",
    )
    return out.select("doc_id", "source")


def curation_pipeline_docs(spark, sf_dir):
    """The COMPOSED curation flow end-to-end, gated as one query —
    exact dedup (keep min id per content) → benchmark holdout split
    (doc_id % 97) → Gopher quality gate → 3-gram decontamination vs
    the holdout → deterministic train/val/test assignment. Each stage
    is individually oracle-gated elsewhere; this entry witnesses that
    they COMPOSE (column contracts, filter ordering, id threading)
    exactly as a production pipeline would chain them. Output:
    (doc_id, source, split) of the cleaned training corpus."""
    from .operators.curation import assign_splits, decontaminate, gopher_quality
    from .operators.dedup import exact_dedup

    d = _docs(spark, sf_dir)
    keep = exact_dedup(d).select(F.col("keep_id").alias("doc_id"))
    surv = d.join(keep, "doc_id", "left_semi")
    bench = surv.where(F.col("doc_id") % 97 == 0)
    train = surv.where(F.col("doc_id") % 97 != 0)
    gq = (
        gopher_quality(train).where(F.col("passes_gopher")).select("doc_id")
    )
    train_q = train.join(gq, "doc_id", "left_semi")
    dec = decontaminate(train_q, bench, shingle_n=3, min_hits=1)
    clean = dec.where(~F.col("contaminated")).select("doc_id")
    out = train_q.join(clean, "doc_id", "left_semi").select("doc_id", "source")
    return assign_splits(out, "doc_id", salt="sp")


def pack_docs_sequences(spark, sf_dir):
    """Training-batch packing plan: per source, docs binned into
    256-token concat-then-chunk sequences."""
    from .operators.curation import pack_sequences

    out = pack_sequences(_t(spark, sf_dir, "documents"), capacity=256)
    return out.select(
        "part", "bin_id", "n_docs",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "first_doc", "last_doc",
    )


def profile_part_columns(spark, sf_dir):
    """S8 extension: data-quality profile of the part table's int and
    string columns (nulls / distincts / min / max) in one pass."""
    from .operators.text import profile_table

    cols = ["p_partkey", "p_name", "p_brand", "p_type", "p_size"]
    return profile_table(_t(spark, sf_dir, "part"), cols)


def diff_orders_snapshots(spark, sf_dir):
    """Snapshot diff: two deterministic versions of orders (v1 drops
    keys %97==0, v2 drops %89==0 and bumps price on %83==0) diffed by
    hash-compare full-outer join — churn rows only, one exchange/side."""
    from .operators.diff import table_diff

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    old = base.where(k % 97 != 0)
    new = base.where(k % 89 != 0).withColumn(
        "o_totalprice",
        F.when(k % 83 == 0, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return table_diff(old, new, ["o_orderkey"])


def skew_report_events(spark, sf_dir):
    """Hot-key screen: per-key counts vs the median key count; events
    keyed by a synthetic skewed key (1/3 of rows share one key)."""
    from .operators.diff import skew_report

    ev = _t(spark, sf_dir, "events").withColumn(
        "skey",
        F.when(F.col("event_id") % 3 == 0, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("event_id") % 500).cast("string"))
        ),
    )
    return skew_report(ev, ["skey"], threshold=10.0)


def pii_redact_docs(spark, sf_dir):
    """C4-style PII scrub: deterministic emails/IPv4s/phones injected
    from doc_id (the synthetic corpus has none), then redacted by the
    chained-regexp operator — counts + md5 of the scrubbed text."""
    from .operators.curation import redact_pii

    d = F.col("doc_id")
    injected = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), d.cast("string"), F.lit("@mail.example.org"),
            F.lit(" from 10.1."), (d % 256).cast("string"), F.lit(".7"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" tel 555-010-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    r = redact_pii(injected)
    return r.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ip").cast("long").alias("n_ip"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("pii_total").cast("long").alias("pii_total"),
        F.md5("text").alias("redacted_md5"),
    )


def merge_preview_orders(spark, sf_dir):
    """MERGE INTO relational core: a deterministic delta (price bumps
    on %101 keys, shifted-key inserts from %103 keys) upserted into
    orders — unmatched target rows + all delta rows, one anti-join."""
    from .operators.merge import merge_plan

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    updates = (
        o.where(k % 101 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 100)
        .withColumn("o_orderstatus", F.lit("U"))
    )
    inserts = o.where(k % 103 == 0).select(
        (k + 10000000).alias("o_orderkey"),
        "o_custkey",
        "o_totalprice",
        F.lit("N").alias("o_orderstatus"),
    )
    merged = merge_plan(o, updates.unionByName(inserts), ["o_orderkey"])
    return merged.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderstatus",
    )


def split_docs_assign(spark, sf_dir):
    """Deterministic train/val/test split over documents: md5-bucket
    cumulative thresholds, stable under corpus growth (no reshuffling
    of previously assigned rows)."""
    from .operators.curation import assign_splits

    return assign_splits(
        _docs(spark, sf_dir).select("doc_id", "source"), "doc_id", salt="sp"
    )


def latest_events_per_user(spark, sf_dir):
    """SCD read: each user's latest event by (ts, event_id) — one
    shuffle on user_id, per-key partial sort."""
    from .operators.merge import latest_by_key

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    latest = latest_by_key(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
    )


def expectations_orders(spark, sf_dir):
    """Data-contract screen: four named rules over orders reduced to
    violation counts in ONE aggregation pass (strict NULL semantics)."""
    from .operators.expectations import check_expectations

    o = _t(spark, sf_dir, "orders")
    return check_expectations(
        o,
        [
            ("orderkey_not_null", F.col("o_orderkey").isNotNull()),
            ("price_positive", F.col("o_totalprice") > 0),
            ("status_in_domain", F.col("o_orderstatus").isin("O", "F", "P")),
            ("price_below_400k", F.col("o_totalprice") < 400000),
        ],
    )


def events_hourly_distinct_users(spark, sf_dir):
    """Mergeable distinct-count rollup: per (hour, event_type) distinct
    users via Datasketches HLL partials, estimated at read. The DuckDB
    count(DISTINCT) oracle is exact-match valid here because testdata
    group cardinalities (<=10s) sit in the sketch's sparse-exact
    regime; at production cardinalities the estimate is +-2% and the
    check would be tolerance-based."""
    from .operators.rollup import hourly_distinct_users, read_distinct_users

    ev = _t(spark, sf_dir, "events")
    return read_distinct_users(hourly_distinct_users(ev))


def events_daily_distinct_users(spark, sf_dir):
    """Day-grain re-aggregation of the HOURLY HLL partials (r03 VERDICT
    item 8): the sketches built at (hour, event_type) grain are
    hll_union_agg'd up to day — a user active in many hours/types
    counts once — WITHOUT rescanning events. This is the mergeability
    property that makes the rollup a continuous aggregate; exact-match
    vs DuckDB count(DISTINCT) is valid at testdata cardinalities
    (sparse-exact sketch regime, see events_hourly_distinct_users)."""
    from .operators.rollup import hourly_distinct_users, read_distinct_users

    partials = hourly_distinct_users(_t(spark, sf_dir, "events")).withColumn(
        "day", F.substring("hour", 1, 10)
    )
    return read_distinct_users(partials, by=["day"])


def corpus_token_stats(spark, sf_dir):
    """Vocabulary table: tf / df / smoothed idf per token (df >= 3)."""
    from .operators.text import token_stats

    return token_stats(_docs(spark, sf_dir), min_df=3)


def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 lexical retrieval (operators/text.bm25_topk): top-10
    docs for a 3-term query — the query-based curation screen. Zero
    wide exchanges: per-doc tf/dl computed map-side from the token
    array (no explode), corpus stats one 1-row aggregate, ranked read
    a TakeOrderedAndProject. Oracle recomputes the identical formula
    in DuckDB with the same tokenizer."""
    from .operators.text import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), ["spark", "join", "stream"], k=10
    )


def text_bm25_index_topk(spark, sf_dir):
    """The index-serving BM25 path end-to-end (operators/retrieval):
    build the bucket-partitioned postings index into a fresh temp dir,
    then answer a 2-term query reading ONLY those terms' bucket
    partitions (PartitionFilters plan-tested). Same formula as
    text_bm25_topk, so the oracle is the same SQL twin with this
    query's terms — the driver row witnesses build → prune → score."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from .operators.retrieval import bm25_index_topk, build_bm25_index

    # FIXED path per (session, sf_dir), overwritten on re-run within a
    # session — mkdtemp would leak one full index per gate/bench
    # invocation, and the returned DataFrame must keep reading the
    # files lazily so the dir cannot be deleted before the driver
    # collects. The applicationId keeps concurrent sessions (pytest
    # alongside validate_queries) from overwriting each other's index
    # mid-read; the atexit hook removes this session's copy so the
    # per-session granularity doesn't re-leak one index per process.
    idx = os.path.join(
        tempfile.gettempdir(),
        "bm25_gate_idx_{}_{}".format(
            spark.sparkContext.applicationId,
            hashlib.md5(sf_dir.encode()).hexdigest()[:8],
        ),
    )
    if not os.path.exists(idx):
        atexit.register(shutil.rmtree, idx, ignore_errors=True)
    build_bm25_index(_docs(spark, sf_dir), idx, n_buckets=16)
    return bm25_index_topk(spark, idx, ["table", "scan"], k=10)


def dedup_cross_corpus_docs(spark, sf_dir):
    """Doc-level train-vs-eval near-dup screening (operators/dedup.
    cross_corpus_near_pairs): MinHash-LSH candidates ACROSS two
    corpora (even doc_ids as 'eval', odd as 'train' — the split that
    crosses the corpus's planted near-twins), exact Jaccard re-score
    at 0.5. The oracle replicates the banding itself (md5 signatures +
    band hashes, both sides), so the driver gates the production LSH
    shape, not a brute-force stand-in."""
    from .operators.dedup import cross_corpus_near_pairs

    d = _docs(spark, sf_dir)
    out = cross_corpus_near_pairs(
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
        min_jaccard=0.5,
    )
    return out.select("a", "b", F.round("jaccard", 6).alias("jaccard"))


def text_lm_perplexity(spark, sf_dir):
    """Self-trained bigram-LM quality proxy (operators/text.lm_score):
    per-doc average Laplace-smoothed bigram log-probability under the
    corpus's own LM — CCNet's perplexity dimension without an external
    model artifact. Oracle recomputes the identical counts and
    formula."""
    from .operators.text import lm_score

    return lm_score(_docs(spark, sf_dir))


def dedup_containment_docs(spark, sf_dir):
    """Substring-containment pairs: complete rarest-shingle blocking +
    exact contains() verify — output IS the containment relation over
    docs with >= 5 tokens (oracle: brute-force containment)."""
    from .operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), shingle_n=5)


# --------------------------------------------------------------------------
# Vector search suite over `embeddings` (SURVEY G7, F10, J6)
# --------------------------------------------------------------------------

def _spread(spark, df, *keys):
    """Conditionally repartition a narrow scan over the cluster — the
    _docs pattern: only when the input has fewer splits than
    defaultParallelism (the single-file testdata), so a real corpus
    with enough splits pays no Exchange."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *keys)


def _emb_double(spark, sf_dir, spread=True):
    """embeddings with double vectors, spread like _docs by default:
    per-candidate cosine/quantize work runs on the scan partitions, and
    the testdata parquet is 1-2 input splits — without the conditional
    repartition the brute-force scoring paths serialize onto 1-2 cores
    (measured 5.4-6.4x wall growth for 10x rows at the scale check).
    spread=False is for consumers whose dominant work is NOT row-wise
    scoring of this table (the iterative KMeans fit pays ~20 Lloyd
    rounds of per-task floor on spread toy input; those entries spread
    the post-fit scoring table instead)."""
    e = _t(spark, sf_dir, "embeddings")
    if spread:
        e = _spread(spark, e, "vec_id")
    return e.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


def vector_topk(spark, sf_dir):
    """Brute-force cosine top-20 vs the vec_id=0 vector; filter→rank→
    limit (the reference's k=100-then-filter quirk fixed)."""
    # spread=False: one codegen pass into TakeOrdered; the qvec first()
    # plus the scan re-execute per action, so the conditional Exchange
    # costs more than the single-pass scoring saves (A/B'd both SFs)
    e = _emb_double(spark, sf_dir, spread=False)
    qvec = e.where(F.col("vec_id") == 0).select("embedding").first()[0]
    from .vectorize import _cosine_expr

    q = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        e.where(F.col("vec_id") != 0)
        .withColumn("_q", q)
        .withColumn("sim", F.round(_cosine_expr("embedding"), 6))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", "label", "sim")
    )


def vector_quantized_topk(spark, sf_dir):
    """Cosine top-20 over int8-QUANTIZED embeddings (vectorize.
    quantize_embeddings — 4× memory cut, the 100 TB embedding-column
    budget move): cosine is scale-invariant so search runs directly on
    the tinyint vectors; the oracle replays the identical round(v/m·127)
    quantization in SQL, so the gate witnesses quantize + search
    end-to-end."""
    from .vectorize import _cosine_expr, quantize_embeddings

    e = quantize_embeddings(_emb_double(spark, sf_dir))
    qrow = e.where(F.col("vec_id") == 0).select("qvec").first()[0]
    q = F.array(*[F.lit(float(x)) for x in qrow])
    return (
        e.where(F.col("vec_id") != 0)
        .withColumn("_q", q)
        .withColumn("qv", F.transform("qvec", lambda x: x.cast("double")))
        .withColumn("sim", F.round(_cosine_expr("qv"), 6))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", "label", "sim")
    )


def vector_knn_batch(spark, sf_dir):
    """Batch k-NN: 5 query vectors (vec_id 0-4) × top-5 each via a
    per-query window — the set-oriented G2 shape."""
    e = _emb_double(spark, sf_dir)
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    from .vectorize import _cosine_expr

    pairs = e.where(F.col("vec_id") >= 5).join(F.broadcast(queries))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        pairs.withColumn("sim", F.round(_cosine_expr("embedding", "qvec"), 6))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("query_id", "rn", "vec_id", "sim")
    )


def vector_knn_batch_arrow(spark, sf_dir):
    """Same batch k-NN as vector_knn_batch but through the Arrow/BLAS
    wide-dim kernel (vectorize.cosine_topk_batch_arrow: per-Arrow-batch
    dgemm + map-side partial top-k). One oracle, two physical paths —
    the gate witnesses that the numpy kernel and the JVM HOF fold are
    the same operator."""
    from .vectorize import cosine_topk_batch_arrow

    e = _emb_double(spark, sf_dir)
    queries = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    corpus = e.where(F.col("vec_id") >= 5).select("vec_id", "embedding")
    res = cosine_topk_batch_arrow(
        corpus, queries, k=5, id_col="vec_id", vec_col="embedding"
    )
    return res.select(
        "query_id", "rn", "vec_id", F.round("sim", 6).alias("sim")
    )


def vector_ann_ivf_batch(spark, sf_dir):
    """The ANN scale path for J6, driver-gated (r02 VERDICT item 5):
    IVF index (distributed KMeans lists) + per-query probe. n_probe =
    n_lists here (FULL probe), which makes the output exactly the
    brute-force top-k independent of the learned centroids — so a
    DuckDB oracle verifies the whole index→probe→rank path end-to-end.
    The recall/cost dial (n_probe < n_lists) and the list-partition
    pruning plan are gated in tests/test_sessionize_ivf.py. All Q
    queries probe in ONE job via ivf_topk_batch (r03 VERDICT item 4;
    the old shape was a per-query driver loop — Q scheduler
    round-trips at large Q)."""
    from .vectorize import ivf_index, ivf_topk_batch

    # spread the post-fit scoring table, NOT the fit input: the Lloyd
    # loop pays ~20 rounds of per-task floor on spread toy input (A/B
    # +1.0s), while the probe is per-row scoring that must not
    # serialize onto the testdata's 1-2 scan splits (A/B'd both SFs);
    # centroids cannot shift results here — full probe is brute force
    e = _emb_double(spark, sf_dir, spread=False).select(
        F.col("vec_id").alias("id"), "label", "embedding"
    )
    corpus = e.where(F.col("id") >= 3)
    indexed, centroids = ivf_index(corpus, n_lists=8, seed=42)
    indexed = _spread(spark, indexed, "id")
    queries = e.where(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # kernel pinned: dim-64 embeddings take the hof path anyway, and the
    # explicit choice skips auto's first()-peek action (ADVICE r06)
    top = ivf_topk_batch(indexed, centroids, queries, k=5, n_probe=8,
                         kernel="hof")
    return top.select(
        "query_id", F.col("id").alias("vec_id"), F.round("sim", 6).alias("sim")
    )


def vector_ann_ivf_arrow(spark, sf_dir):
    """vector_ann_ivf_batch through the BLAS scoring kernel
    (ivf_topk_batch(kernel="arrow")): same index, same full probe, same
    oracle — witnesses that the wide-dim kernel (bench/BASELINE.md r06:
    9.5s HOF probe vs 1.0s BLAS at dim 1024) is the SAME operator, tie
    behavior included."""
    from .vectorize import ivf_index, ivf_topk_batch

    # spread the post-fit scoring table, NOT the fit input: the Lloyd
    # loop pays ~20 rounds of per-task floor on spread toy input (A/B
    # +1.0s), while the probe is per-row scoring that must not
    # serialize onto the testdata's 1-2 scan splits (A/B'd both SFs);
    # centroids cannot shift results here — full probe is brute force
    e = _emb_double(spark, sf_dir, spread=False).select(
        F.col("vec_id").alias("id"), "label", "embedding"
    )
    corpus = e.where(F.col("id") >= 3)
    indexed, centroids = ivf_index(corpus, n_lists=8, seed=42)
    indexed = _spread(spark, indexed, "id")
    queries = e.where(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    top = ivf_topk_batch(
        indexed, centroids, queries, k=5, n_probe=8, kernel="arrow"
    )
    return top.select(
        "query_id", F.col("id").alias("vec_id"), F.round("sim", 6).alias("sim")
    )


def vector_ann_recall(spark, sf_dir):
    """The ANN recall screen (vectorize.ann_recall_at_k) driver-gated
    at its fixed point: with n_probe = n_lists the IVF probe IS brute
    force, so recall == 1.0 EXACTLY and the oracle derives the same
    1-row answer from the data (n_queries) plus the fixed point —
    witnessing the whole index→probe→rank→compare-to-exact chain.
    Narrow-probe recall (the dial users actually tune) is screened in
    tests/test_sessionize_ivf.py against a Python-computed recall."""
    from .vectorize import ann_recall_at_k, ivf_index

    # spread the post-fit scoring table, NOT the fit input: the Lloyd
    # loop pays ~20 rounds of per-task floor on spread toy input (A/B
    # +1.0s), while the probe is per-row scoring that must not
    # serialize onto the testdata's 1-2 scan splits (A/B'd both SFs);
    # centroids cannot shift results here — full probe is brute force
    e = _emb_double(spark, sf_dir, spread=False).select(
        F.col("vec_id").alias("id"), "label", "embedding"
    )
    corpus = e.where(F.col("id") >= 3)
    indexed, centroids = ivf_index(corpus, n_lists=8, seed=42)
    indexed = _spread(spark, indexed, "id")
    queries = e.where(F.col("id") < 3).select(
        F.col("id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    # kernel pinned: dim-64 takes hof anyway; skips auto's first() peek
    return ann_recall_at_k(indexed, centroids, queries, k=5, n_probe=8,
                           kernel="hof")


def vector_label_centroid_sim(spark, sf_dir):
    """Aggregate over vectors: per-label mean vector then its cosine to
    the global mean — exercises element-wise array aggregation."""
    e = _emb_double(spark, sf_dir)
    exploded = e.select("vec_id", "label", F.posexplode("embedding").alias("i", "x"))
    per_label = exploded.groupBy("label", "i").agg(F.avg("x").alias("cx"))
    glob = exploded.groupBy("i").agg(F.avg("x").alias("gx"))
    j = per_label.join(glob, "i")
    return (
        j.groupBy("label")
        .agg(
            F.round(
                F.sum(F.col("cx") * F.col("gx"))
                / (
                    F.sqrt(F.sum(F.col("cx") * F.col("cx")))
                    * F.sqrt(F.sum(F.col("gx") * F.col("gx")))
                ),
                6,
            ).alias("centroid_sim")
        )
    )


# --------------------------------------------------------------------------
# Graph suite: KG extraction + traversal on testdata (SURVEY G1-G5)
# --------------------------------------------------------------------------

def kg_triples_documents(spark, sf_dir):
    """The KG extractor run over `documents` as a corpus (doc_id →
    path). Word-soup text yields exactly the structural triples
    (contains / in_lang / has_loc) — SQL-expressible oracle."""
    from .extract import extract_triples

    d = _docs(spark, sf_dir)
    repos = d.select(
        F.lit("docs").alias("repo"),
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.coalesce(F.col("lang"), F.lit("text")).alias("lang"),
        F.col("text").alias("content"),
    )
    return extract_triples(repos).select("subj", "pred", "obj")


def graph_bfs_customers_in_region(spark, sf_dir):
    """G1/G2 batch BFS over an FK-derived graph: region→nation→customer
    containment edges; start = every region node, target = customer.
    Oracle: the flattened 2-hop join."""
    from .traverse import find_nodes_by_node_type

    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    nodes = (
        r.select(
            F.concat(F.lit("region:"), "r_regionkey").alias("node_id"),
            F.lit("repo").alias("node_type"),
            F.col("r_name").alias("name"),
        )
        .unionByName(
            n.select(
                F.concat(F.lit("nation:"), "n_nationkey").alias("node_id"),
                F.lit("dir").alias("node_type"),
                F.col("n_name").alias("name"),
            )
        )
        .unionByName(
            c.select(
                F.concat(F.lit("cust:"), "c_custkey").alias("node_id"),
                F.lit("file").alias("node_type"),
                F.col("c_name").alias("name"),
            )
        )
        .withColumn("attrs", F.create_map(F.lit("k"), F.lit("v")))
    )
    edges = (
        n.select(
            F.concat(F.lit("region:"), "n_regionkey").alias("src"),
            F.lit("contains").alias("relation"),
            F.concat(F.lit("nation:"), "n_nationkey").alias("dst"),
        )
        .unionByName(
            c.select(
                F.concat(F.lit("nation:"), "c_nationkey").alias("src"),
                F.lit("contains").alias("relation"),
                F.concat(F.lit("cust:"), "c_custkey").alias("dst"),
            )
        )
        .withColumn("repo", F.lit(None).cast("string"))
        .withColumn("path", F.lit(None).cast("string"))
    )
    starts = nodes.where(F.col("node_type") == "repo").select(
        F.col("node_id").alias("query_id"), F.col("node_id").alias("node_id")
    )
    hits = find_nodes_by_node_type(nodes, edges, starts, "file", max_hops=3)
    return hits.select(
        F.col("query_id").alias("region_node"), F.col("node_id").alias("customer_node")
    )


def graph_adjacent_names(spark, sf_dir):
    """G4: 1-hop neighbor name sets per nation (collect_set →
    concat_ws for engine-portable compare)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    j = n.join(c, n.n_nationkey == c.c_nationkey, "left")
    return j.groupBy("n_name").agg(
        F.concat_ws("|", F.array_sort(F.collect_set("c_name"))).alias("neighbors"),
        F.count("c_custkey").alias("n_neighbors"),
    )


def _cosupply_pairs(spark, sf_dir, a_col="a", b_col="b", min_qty=45):
    """Supplier pairs sharing a HIGH-QUANTITY order line (quantity >=
    min_qty on both sides). The unrestricted co-order graph turns near-
    complete as SF grows (every supplier eventually co-orders with
    every other: 453k edges / 124M triangles at sf0.1) — triangle
    counts on near-complete graphs are inherently Θ(N³), so the gated
    graph bounds density with a selective predicate; the filter is
    pushed to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") >= min_qty
    ).select("l_orderkey", "l_suppkey")
    l1 = li.alias("l1")
    l2 = li.alias("l2")
    return (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") < F.col("l2.l_suppkey")),
        )
        .select(
            F.col("l1.l_suppkey").alias(a_col), F.col("l2.l_suppkey").alias(b_col)
        )
        .distinct()
    )


def graph_triangles_cosupply(spark, sf_dir):
    """Triangle count over the high-quantity supplier co-order graph —
    degree-ordered wedge join, each triangle counted once at its
    lowest-degree corner."""
    from .operators.graph_stats import triangle_count

    return triangle_count(_cosupply_pairs(spark, sf_dir))


def graph_linkpred_cosupply(spark, sf_dir):
    """Top-20 predicted links over the high-quantity co-supply graph:
    non-adjacent supplier pairs ranked by Adamic-Adar (ties: common
    neighbors, then ids). The KG-completion screen — which entities
    should be linked but aren't. Ordering uses the ROUNDED score so
    float-sum ulp differences between engines can't flip the cut."""
    from .operators.graph_stats import link_prediction

    lp = link_prediction(_cosupply_pairs(spark, sf_dir))
    return (
        lp.select(
            "a",
            "b",
            "common_neighbors",
            F.round("jaccard", 6).alias("jaccard"),
            F.round("adamic_adar", 6).alias("adamic_adar"),
        )
        .orderBy(
            F.desc("adamic_adar"),
            F.desc("common_neighbors"),
            F.asc("a"),
            F.asc("b"),
        )
        .limit(20)
    )


def graph_sssp_cosupply(spark, sf_dir):
    """BFS shortest-path lengths from the lowest-id supplier over the
    undirected co-supply graph, ≤4 hops — the distance analogue of the
    reference's anchored hierarchy walks. Seed selection stays in-plan
    (a 1-row min aggregate, no collect); oracle is a recursive-CTE
    BFS taking min(dist) per node."""
    from .operators.graph_stats import shortest_paths

    # pairs feeds the seed aggregate AND both adjacency branches
    pairs = _cosupply_pairs(spark, sf_dir).localCheckpoint(eager=False)
    seed = pairs.agg(F.min("a").alias("s"))
    d = shortest_paths(pairs, seed, src="a", dst="b", max_hops=4, directed=False)
    return d.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("bigint").alias("dist"),
    )


def graph_walks_cosupply(spark, sf_dir):
    """Deterministic hash-random walks (the DeepWalk sampling
    primitive) from the 5 lowest-id suppliers over the undirected
    co-supply graph, 4 steps — seed selection in-plan, next-hop rule
    md5-replayable, so the recursive-CTE oracle walks the IDENTICAL
    paths."""
    from .operators.graph_stats import random_walks

    pairs = _cosupply_pairs(spark, sf_dir).localCheckpoint(eager=False)
    nodes = (  # pairs feeds both branches + the walk itself (r07)
        pairs.select(F.col("a").alias("n"))
        .unionAll(pairs.select(F.col("b").alias("n")))
        .distinct()
    )
    seeds = nodes.orderBy("n").limit(5)
    wk = random_walks(pairs, seeds, walk_len=4, src="a", dst="b", directed=False)
    return wk.select(
        F.col("walk_id").cast("bigint").alias("walk_id"),
        F.col("step").cast("bigint").alias("step"),
        F.col("node").cast("bigint").alias("node"),
    )


def graph_closeness_cosupply(spark, sf_dir):
    """Top-10 suppliers by closeness centrality over the undirected
    co-supply graph: one multi-source BFS (all nodes ride one frontier,
    so k sources cost the same number of stages as one) + one
    aggregation; oracle is a recursive-CTE all-pairs min-distance table
    folded to (n_reachable−1)/Σdist."""
    from .operators.graph_stats import closeness_centrality

    # consumed by the node set (x2), the reversed edges and the BFS
    pairs = _cosupply_pairs(spark, sf_dir).localCheckpoint(eager=False)
    c = closeness_centrality(pairs, src="a", dst="b", directed=False)
    return (
        c.select(
            F.col("node").cast("bigint").alias("node"),
            F.round("closeness", 6).alias("closeness"),
        )
        .orderBy(F.desc("closeness"), F.asc("node"))
        .limit(10)
    )


def graph_betweenness_cosupply(spark, sf_dir):
    """Top-10 suppliers by exact betweenness centrality (undirected
    co-supply graph, hop bound 5 ≥ the graph's diameter on both
    engines). The oracle builds the σ-table as a recursive-CTE WALK
    count (a geodesic-length walk IS a shortest path, so cnt at
    min(d) = σ exactly) and evaluates the same pair-dependency triple
    join — no Brandes backward sweep on either engine."""
    from .operators.graph_stats import betweenness_centrality

    pairs = _cosupply_pairs(spark, sf_dir).localCheckpoint(eager=False)
    bc = betweenness_centrality(
        pairs, src="a", dst="b", directed=False, max_hops=5
    )
    return (
        bc.select(
            F.col("node").cast("bigint").alias("node"),
            F.round("betweenness", 6).alias("betweenness"),
        )
        .orderBy(F.desc("betweenness"), F.asc("node"))
        .limit(10)
    )


def graph_clustering_cosupply(spark, sf_dir):
    """Top-10 suppliers by local clustering coefficient (with their
    per-node triangle counts) over the undirected co-supply graph —
    degree-ordered per-triangle enumeration exploded to corners."""
    from .operators.graph_stats import local_clustering

    lc = local_clustering(_cosupply_pairs(spark, sf_dir))
    return (
        lc.select(
            F.col("node").cast("bigint").alias("node"),
            "triangles",
            F.round("lcc", 6).alias("lcc"),
        )
        .orderBy(F.desc("lcc"), F.asc("node"))
        .limit(10)
    )


def graph_wsssp_cosupply(spark, sf_dir):
    """Weighted shortest paths (≤4 hops) from the lowest-id supplier
    over the WEIGHTED co-supply graph — edge weight 1/(shared high-qty
    orders), so strongly co-supplying pairs are 'close'. Bellman-Ford
    min-then-extend equals the oracle's enumerate-all-walks-then-min
    (addition is monotone), so the recursive bounded-walk CTE replays
    it exactly."""
    from .operators.graph_stats import weighted_shortest_paths

    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_suppkey")
    )
    l1, l2 = li.alias("l1"), li.alias("l2")
    pw = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") < F.col("l2.l_suppkey")),
        )
        .groupBy(
            F.col("l1.l_suppkey").alias("a"), F.col("l2.l_suppkey").alias("b")
        )
        .agg(F.countDistinct("l1.l_orderkey").alias("c"))
    )
    e = pw.select("a", "b", (F.lit(1.0) / F.col("c")).alias("weight"))
    seed = pw.agg(F.min("a").alias("s"))
    d = weighted_shortest_paths(
        e, seed, src="a", dst="b", max_hops=4, directed=False
    )
    return d.select(
        F.col("node").cast("bigint").alias("node"),
        F.round("dist", 6).alias("dist"),
    )


def graph_hits_cosupply(spark, sf_dir):
    """Top-10 suppliers by HITS authority over the directed co-supply
    graph (10 iterations, L1-normalized). The oracle is a recursive-CTE
    power method in HALF-steps: each recursive round applies ONE push
    (even rounds hubs→authorities along out-edges, odd rounds
    authorities→hubs along in-edges) with the normalizer as a windowed
    scalar — so the CTE references itself once, and 20 half-steps
    replay the operator's 10 full updates exactly."""
    from .operators.graph_stats import hits

    pairs = _cosupply_pairs(spark, sf_dir, "src", "dst")
    r = hits(pairs, src="src", dst="dst", max_iter=10)
    return (
        r.select(
            F.col("node").cast("bigint").alias("node"),
            F.round("hub", 6).alias("hub"),
            F.round("authority", 6).alias("authority"),
        )
        .orderBy(F.desc("authority"), F.asc("node"))
        .limit(10)
    )


def graph_summary_cosupply(spark, sf_dir):
    """One-row graph health screen for the co-supply graph: node/edge
    counts, degree stats, triangles, wedges, global clustering — the
    first query a user runs on a fresh KG build."""
    from .operators.graph_stats import graph_summary

    return graph_summary(_cosupply_pairs(spark, sf_dir))


def graph_hyperball_cosupply(spark, sf_dir):
    """HyperBall neighborhood function over the symmetric co-supply
    graph (m=64 HLL registers, radii 0..4, fixed row count for the
    gate). The DuckDB oracle computes EXACT balls per radius via a
    recursive CTE and replays the md5-register estimator bit-for-bit —
    the approximation itself is what the gate verifies, not a looser
    bound."""
    from .operators.graph_stats import hyperball

    # p feeds both union branches: materialize once or the lineitem
    # self-join runs per branch (r07)
    p = _cosupply_pairs(spark, sf_dir).localCheckpoint(eager=False)
    sym = p.unionByName(
        p.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return hyperball(sym, m=64, max_radius=4, early_stop=False)


def graph_scc_suppliers(spark, sf_dir):
    """Directed strongly-connected components over a deterministic
    functional graph on real supplier keys (s → s²%m and s → s³%m —
    staying inside the real 0..m-1 key space; dozens of SCCs at
    sf0.01 incl. multi-node cores and singleton tails, so trim, coloring, AND the multi-root backward
    reach all execute non-vacuously). Oracle = recursive-CTE mutual
    reachability with min-id canonicalization."""
    from .operators.graph_stats import strongly_connected_components

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey")
    m = sup.count()
    k = F.col("s_suppkey")
    e = sup.select(
        k.alias("src"), ((k * k) % m).alias("dst")
    ).unionByName(
        sup.select(k.alias("src"), ((k * k * k) % m).alias("dst"))
    )
    return strongly_connected_components(e).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


def graph_pagerank_cosupply(spark, sf_dir):
    """Top-10 suppliers by PageRank over the directed co-order graph
    (edge a→b when a and b supply the same order, a < b). Iterative,
    but still oracle-gated: the DuckDB twin is a recursive-CTE power
    method (fixed 10 iterations, dangling mass as a windowed scalar
    per round) matching graph_stats.pagerank semantics exactly; also
    pinned against a pure-Python power-iteration oracle in
    tests/test_operators.py to 1e-9."""
    from .operators.graph_stats import pagerank

    pairs = _cosupply_pairs(spark, sf_dir, "src", "dst")
    pr = pagerank(pairs, max_iter=10)
    return (
        pr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(10)
    )


def graph_ppr_cosupply(spark, sf_dir):
    """Personalized PageRank over the directed co-supply graph,
    anchored at the two lowest-id suppliers (operators/graph_stats.
    personalized_pagerank): teleport and dangling mass restart at the
    seeds, so rank concentrates in their neighborhood — the batch
    analogue of the reference's start-node-anchored hierarchy walks
    (react_tools.py:92-181). Seeds are passed as a DataFrame (the
    scale path — no driver collect anywhere). Oracle: the proven
    recursive-CTE power method with the restart vector folded in."""
    from .operators.graph_stats import personalized_pagerank

    pairs = _cosupply_pairs(
        spark, sf_dir, "src", "dst"
    ).localCheckpoint(eager=False)
    nodes = (  # pairs feeds both branches + the operator itself (r07)
        pairs.select(F.col("src").alias("node"))
        .unionAll(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(2)
    pr = personalized_pagerank(pairs, seeds, max_iter=10)
    return (
        pr.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(10)
    )


def graph_lpa_cosupply(spark, sf_dir):
    """Label-propagation communities (operators/graph_stats.
    label_propagation — synchronous, min-label tie-break, FIXED 4
    rounds so both engines are deterministic) over the sparse
    co-supply graph. Complements connected components: LPA splits a
    component into densely-linked communities. Oracle: recursive CTE
    replaying the identical vote (GROUP BY + window in the recursive
    term — the working-table semantics proven on the PageRank
    oracle)."""
    from .operators.graph_stats import label_propagation

    pairs = _cosupply_pairs(spark, sf_dir, min_qty=50)
    return label_propagation(pairs, max_iter=4)


def graph_components_cosupply(spark, sf_dir):
    """Distributed connected components — the engine's G5
    canonicalization primitive (canonicalize.py:27, the alternating
    large-star/small-star loop of Kiveris et al.) driver-gated for the
    first time: per-node (node_id, canonical_id = component min) over
    the SPARSE co-supply graph. min_qty=50 keeps only max-quantity
    lines, which at sf0.01 yields ~51 suppliers in ~11 nontrivial
    components (the >=45 graph is one giant component — a vacuous
    witness). driver_threshold=0 forces the DISTRIBUTED loop, so the
    driver row witnesses the MapReduce-CC algorithm itself; the
    driver union-find fast path is equivalence-pinned separately in
    tests/test_canonicalize.py. Oracle: DuckDB recursive-CTE
    reachability closure + min per node."""
    from .canonicalize import connected_components

    pairs = _cosupply_pairs(spark, sf_dir, min_qty=50)
    return connected_components(pairs, "a", "b", driver_threshold=0)


def graph_kcore_cosupply(spark, sf_dir):
    """2-core of the sparse co-supply graph (operators/graph_stats.
    k_core — iterative parallel peeling, the curation primitive that
    prunes weakly attached fringe): 9 of 51 nodes survive at sf0.01,
    so the peeling does real work. Oracle: fixed-30-round parallel
    peeling as a recursive CTE (k-core is a unique fixpoint, reached
    well before round 30 on this graph)."""
    from .operators.graph_stats import k_core

    pairs = _cosupply_pairs(spark, sf_dir, min_qty=50)
    return k_core(pairs, k=2)


def graph_degree_histogram_cosupply(spark, sf_dir):
    """Degree distribution of the sparse co-supply graph — (degree,
    n_nodes), the first screen of any graph-shape audit."""
    pairs = _cosupply_pairs(
        spark, sf_dir, min_qty=50
    ).localCheckpoint(eager=False)  # both degree-union branches
    und = pairs.where(F.col("a") != F.col("b"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


def graph_motif_open_wedges(spark, sf_dir):
    """Declarative motif finding (operators/motif.py, GraphFrames-style
    `find` subset): open wedges a→b→c with NO closing a→c edge over the
    bounded co-supply graph — the negated-edge pattern a fixed traversal
    API cannot express. Top-10 'broker' middle vertices by open-wedge
    count; the motif itself is two pruned equi-joins + one anti-join,
    never a cartesian."""
    from .operators.motif import find_motif

    edges = _cosupply_pairs(spark, sf_dir, "src", "dst").withColumn(
        "relation", F.lit("cosupply")
    ).localCheckpoint(eager=False)  # three motif join legs consume it
    m = find_motif(edges, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)").where(
        F.col("a") != F.col("c")
    )
    return (
        m.groupBy("b")
        .agg(F.count("*").alias("n_open"))
        .orderBy(F.desc("n_open"), F.asc("b"))
        .limit(10)
    )


def graph_motif_varlen_reach(spark, sf_dir):
    """Variable-length motif paths driver-gated (r04 VERDICT item 4):
    "(a)-[*2..3]->(b); !(a)-[]->(b)" over the sparse directed co-supply
    DAG — supplier pairs connected by a walk of 2 or 3 hops but NOT
    directly. The `[*lo..hi]` term compiles to a per-level dedup'd
    bounded-reachability join (operators/motif._bounded_reach), the
    general form of the reference's level-by-level hierarchy walks
    (react_tools.py:92-181). Oracle: DuckDB recursive CTE walking
    (a, b, depth) to depth 3, NOT EXISTS for the direct edge."""
    from .operators.motif import find_motif

    pairs = _cosupply_pairs(spark, sf_dir, min_qty=50)
    edges = pairs.select(
        F.col("a").alias("src"),
        F.lit("cosupply").alias("relation"),
        F.col("b").alias("dst"),
    ).localCheckpoint(eager=False)  # per-level reach joins consume it
    return find_motif(edges, "(a)-[*2..3]->(b); !(a)-[]->(b)")


def graph_motif_typed_paths(spark, sf_dir):
    """Relation-PREDICATE motif grammar gated end-to-end (the r04
    `[e:rel]` extension, until now pytest-only): a two-relation edge
    table (relation = 'top' for max-quantity co-supply pairs, 'high'
    for the 45–49 band) matched with "(a)-[:top]->(b); (b)-[:high]->(c)"
    — each term's relation filter prunes at its scan. Top-10 middle
    vertices by typed-2-path count."""
    from .operators.motif import find_motif

    top = _cosupply_pairs(spark, sf_dir, "src", "dst", min_qty=50).withColumn(
        "relation", F.lit("top")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") >= 45) & (F.col("l_quantity") < 50)
    ).select("l_orderkey", "l_suppkey")
    l1, l2 = li.alias("l1"), li.alias("l2")
    high = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") < F.col("l2.l_suppkey")),
        )
        .select(
            F.col("l1.l_suppkey").alias("src"), F.col("l2.l_suppkey").alias("dst")
        )
        .distinct()
        .withColumn("relation", F.lit("high"))
    )
    edges = top.unionByName(high)
    m = find_motif(edges, "(a)-[:top]->(b); (b)-[:high]->(c)")
    return (
        m.groupBy("b")
        .agg(F.count("*").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("b"))
        .limit(10)
    )


def graph_adjacent_names_salted(spark, sf_dir):
    """A6 twin under hot-key protection: per-nation neighbor name sets
    via two-stage salted collect_set (operators/skew.py) — result equal
    to the direct aggregation by construction, but a hot nation's rows
    spread over n_salts reducers."""
    from .operators.skew import salted_collect_set

    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    j = n.join(c, n.n_nationkey == c.c_nationkey)
    s = salted_collect_set(j, ["n_name"], "c_name", n_salts=8, out_col="names")
    return s.select(
        "n_name",
        F.concat_ws("|", "names").alias("neighbors"),
        F.size("names").cast("bigint").alias("n_distinct"),
    )


# --- multimodal codec gates ------------------------------------------------
# The media codecs (operators/media_codecs.py — real WAV/PPM/BMP/Y4M
# parsers) can't be re-run inside DuckDB, but their OUTPUT on payloads
# synthesized from closed-form parameters is itself closed-form: a solid
# r-colored w×h PPM must decode to mean_r = r, a constant-value PCM
# stream to rms = v/32768, a luma-ramp Y4M to motion = step. Each gate
# below synthesizes payloads deterministically from `documents` rows,
# runs the real encode→decode→feature kernels distributed (Arrow-batched
# mapInPandas), and the oracle states the arithmetic the decoded stats
# MUST equal — any byte-level corruption in a codec breaks the hash.


def _media_from_docs(spark, sf_dir, keep_mod: int, builder):
    """documents → MEDIA frame via an Arrow-batched kernel. builder
    (doc_id, n_chars) -> (kind, payload bytes, mime, w, h, duration)."""
    import pandas as pd

    from .operators.multimodal import MEDIA

    docs = _docs(spark, sf_dir).where(F.col("doc_id") % keep_mod == 0).select(
        "doc_id", "n_chars"
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
                kind, payload, mime, w, h, dur = builder(int(did), int(nch))
                rows.append((str(did), kind, payload, mime, w, h, dur))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA.fields]
            )

    return docs.mapInPandas(gen, schema=MEDIA)


def multimodal_image_stats(spark, sf_dir):
    """Solid-color PPM per document (w = 4 + doc_id%13, h = 3 + doc_id%7,
    rgb from doc_id/n_chars arithmetic) → real encode_ppm → distributed
    decode_ppm + image_features. Solid color ⇒ luma_std = edge = entropy
    = 0 and channel means equal the planted color — closed-form oracle."""
    import numpy as np

    from .operators import media_codecs as mc
    from .operators.multimodal import decode_media_features

    def build(did, nch):
        w, h = 4 + did % 13, 3 + did % 7
        rgb = (did % 256, nch % 256, (did * 7 + 3) % 256)
        img = np.empty((h, w, 3), dtype=np.uint8)
        img[:, :] = rgb
        return "image", mc.encode_ppm(img), "image/x-portable-pixmap", w, h, None

    media = _media_from_docs(spark, sf_dir, 5, build)
    feats = decode_media_features(media)
    f = F.col("features")
    return feats.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        F.round(f[0], 6).alias("width"),
        F.round(f[1], 6).alias("height"),
        F.round(f[2], 6).alias("mean_r"),
        F.round(f[3], 6).alias("mean_g"),
        F.round(f[4], 6).alias("mean_b"),
        F.round(f[5], 6).alias("luma_std"),
        F.round(f[6], 6).alias("edge_energy"),
        F.round(f[7], 6).alias("luma_entropy"),
    )


def multimodal_audio_stats(spark, sf_dir):
    """Constant-value PCM16 WAV per document (value v = doc_id%1000,
    n = 100 + doc_id%50 samples at 8 kHz) → real encode_wav_pcm16 →
    distributed decode_wav + audio_features. DC signal ⇒ rms = peak =
    v/32768 (bit-exact: v·2⁻¹⁵ and its square are representable, so the
    mean/sqrt chain is exact), zcr = 0, centroid rounds to 0 — oracle is
    the arithmetic."""
    import numpy as np

    from .operators import media_codecs as mc
    from .operators.multimodal import decode_media_features

    def build(did, nch):
        v, n = did % 1000, 100 + did % 50
        x = np.full(n, v / 32767.0)
        return "audio", mc.encode_wav_pcm16(x, 8000), "audio/wav", None, None, None

    media = _media_from_docs(spark, sf_dir, 7, build)
    feats = decode_media_features(media)
    f = F.col("features")
    return feats.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        F.round(f[0], 6).alias("duration_s"),
        F.round(f[1], 6).alias("rms"),
        F.round(f[2], 6).alias("zcr"),
        F.round(f[3], 6).alias("centroid_hz"),
        F.round(f[4], 6).alias("peak"),
    )


def multimodal_video_stats(spark, sf_dir):
    """Luma-ramp Y4M per document (n = 2 + doc_id%4 frames at 2 fps,
    frame i luma = doc_id%256 + i, capped so the ramp never wraps) →
    real encode_y4m → distributed y4m_info + O(1)-seek frame decode.
    All frames fall in the ≤8-sample window ⇒ mean_luma = base +
    (n-1)/2 and motion = 1 exactly — closed-form oracle."""
    import numpy as np

    from .operators import media_codecs as mc
    from .operators.multimodal import decode_media_features

    def build(did, nch):
        base, n = did % 256, 2 + did % 4
        frames = np.stack(
            [np.full((2, 2), base + i, dtype=np.uint8) for i in range(n)]
        )
        dur = int(n * 1000 / 2)
        return "video", mc.encode_y4m(frames, fps=2), "video/x-yuv4mpeg", 2, 2, dur

    media = _media_from_docs(spark, sf_dir, 11, build).where(
        F.col("media_id").cast("bigint") % 256 < 248
    )
    feats = decode_media_features(media)
    f = F.col("features")
    return feats.select(
        F.col("media_id").cast("bigint").alias("doc_id"),
        F.round(f[0], 6).alias("duration_s"),
        F.round(f[1], 6).alias("fps"),
        F.round(f[2], 6).alias("n_frames"),
        F.round(f[3], 6).alias("mean_luma"),
        F.round(f[4], 6).alias("motion"),
    )


# --------------------------------------------------------------------------
# Registry + oracles
# --------------------------------------------------------------------------

# Registry order is the driver-gate rotation: the driver records CORRECTNESS
# rows for the FIRST 50 entries only, so each round the entries without a
# recent driver-witnessed row (plus any new queries) are moved to the front.
# r06 front-block = the 11 entries with NO driver row in any round (new in
# r05, past that round's window — VERDICT r05 #3), then the r04-witnessed
# block (oldest witness); the r05-witnessed 50 rotate to the back.
QUERIES = {
    # --- new in r06 (never driver-witnessed) -------------------------------
    "curation_dsir_select": curation_dsir_select,
    "text_classifier_train": text_classifier_train,
    "dedup_duplicate_spans_docs": dedup_duplicate_spans_docs,
    "dedup_strip_spans_docs": dedup_strip_spans_docs,
    "dedup_keep_first_spans_docs": dedup_keep_first_spans_docs,
    "graph_hyperball_cosupply": graph_hyperball_cosupply,
    "dedup_lsh_index_docs": dedup_lsh_index_docs,
    "dedup_lsh_index_probe_docs": dedup_lsh_index_probe_docs,
    "graph_scc_suppliers": graph_scc_suppliers,
    "multimodal_image_stats": multimodal_image_stats,
    "multimodal_audio_stats": multimodal_audio_stats,
    "multimodal_video_stats": multimodal_video_stats,
    "vector_knn_batch_arrow": vector_knn_batch_arrow,
    "vector_ann_ivf_arrow": vector_ann_ivf_arrow,
    # --- never driver-witnessed (new in r05, outside its window) ----------
    "graph_closeness_cosupply": graph_closeness_cosupply,
    "graph_sssp_cosupply": graph_sssp_cosupply,
    "graph_walks_cosupply": graph_walks_cosupply,
    "text_cooccurrence_pmi": text_cooccurrence_pmi,
    "vector_quantized_topk": vector_quantized_topk,
    "curation_stratified_sample": curation_stratified_sample,
    "graph_wsssp_cosupply": graph_wsssp_cosupply,
    "dedup_passages_docs": dedup_passages_docs,
    "events_retention_cohorts": events_retention_cohorts,
    "events_moving_avg": events_moving_avg,
    "graph_summary_cosupply": graph_summary_cosupply,
    # --- last driver row r04 (oldest witness; first 39 land in the r06
    # window, remainder rotates forward in r07) ----------------------------
    "segment_price_quartiles": segment_price_quartiles,
    "user_event_sequences": user_event_sequences,
    "dedup_keep_docs": dedup_keep_docs,
    "string_projection": string_projection,
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_ngram_jaccard_docs": dedup_ngram_jaccard_docs,
    "dedup_simhash_docs": dedup_simhash_docs,
    "dedup_minhash_pairs_docs": dedup_minhash_pairs_docs,
    "dedup_lsh_jaccard_docs": dedup_lsh_jaccard_docs,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "text_language_id": text_language_id,
    "text_quality": text_quality,
    "text_token_count": text_token_count,
    "text_fingerprint": text_fingerprint,
    "text_chunks": text_chunks,
    "curation_boilerplate_strip": curation_boilerplate_strip,
    "curation_decontaminate": curation_decontaminate,
    "text_gopher_quality": text_gopher_quality,
    "sample_docs_hash": sample_docs_hash,
    "sample_per_source_topn": sample_per_source_topn,
    "corpus_token_stats": corpus_token_stats,
    "profile_part_columns": profile_part_columns,
    "diff_orders_snapshots": diff_orders_snapshots,
    "graph_pagerank_cosupply": graph_pagerank_cosupply,
    "events_daily_distinct_users": events_daily_distinct_users,
    "graph_components_cosupply": graph_components_cosupply,
    "text_bm25_topk": text_bm25_topk,
    "dedup_semantic_keep": dedup_semantic_keep,
    "events_funnel": events_funnel,
    "text_bm25_index_topk": text_bm25_index_topk,
    "graph_kcore_cosupply": graph_kcore_cosupply,
    "graph_degree_histogram_cosupply": graph_degree_histogram_cosupply,
    "curation_temperature_mix": curation_temperature_mix,
    "curation_pipeline_docs": curation_pipeline_docs,
    "text_lm_perplexity": text_lm_perplexity,
    "events_funnel_users": events_funnel_users,
    "dedup_cross_corpus_docs": dedup_cross_corpus_docs,
    "graph_motif_typed_paths": graph_motif_typed_paths,
    "skew_report_events": skew_report_events,
    "pii_redact_docs": pii_redact_docs,
    "merge_preview_orders": merge_preview_orders,
    "split_docs_assign": split_docs_assign,
    "latest_events_per_user": latest_events_per_user,
    "expectations_orders": expectations_orders,
    "events_hourly_distinct_users": events_hourly_distinct_users,
    "corpus_balance_report": corpus_balance_report,
    "pack_docs_sequences": pack_docs_sequences,
    "rebalance_docs_sources": rebalance_docs_sources,
    "dedup_containment_docs": dedup_containment_docs,
    "vector_topk": vector_topk,
    # --- driver-witnessed in r05 (freshest rows; back of the rotation) ----
    "vector_knn_batch": vector_knn_batch,
    "vector_label_centroid_sim": vector_label_centroid_sim,
    "kg_triples_documents": kg_triples_documents,
    "graph_bfs_customers_in_region": graph_bfs_customers_in_region,
    "graph_adjacent_names": graph_adjacent_names,
    "graph_adjacent_names_salted": graph_adjacent_names_salted,
    "graph_triangles_cosupply": graph_triangles_cosupply,
    "dedup_simhash_pairs_docs": dedup_simhash_pairs_docs,
    "vector_ann_ivf_batch": vector_ann_ivf_batch,
    "graph_motif_open_wedges": graph_motif_open_wedges,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_orders": q3_top_orders,
    "q5_regional_revenue": q5_regional_revenue,
    "distinct_segments": distinct_segments,
    "filter_valid_events": filter_valid_events,
    "like_brand_parts": like_brand_parts,
    "union_high_value": union_high_value,
    "anti_join_idle_customers": anti_join_idle_customers,
    "semi_join_ordered_parts": semi_join_ordered_parts,
    "window_top3_orders_per_segment": window_top3_orders_per_segment,
    "page2_orders": page2_orders,
    "histogram_event_types": histogram_event_types,
    "rollup_order_stats": rollup_order_stats,
    "distinct_parts_per_flag": distinct_parts_per_flag,
    "events_hourly": events_hourly,
    "events_lag_delta": events_lag_delta,
    "events_json_extract": events_json_extract,
    "except_lapsed_customers": except_lapsed_customers,
    "intersect_both_segments": intersect_both_segments,
    "asof_click_last_purchase": asof_click_last_purchase,
    "range_join_value_bands": range_join_value_bands,
    "sessionize_batch": sessionize_batch,
    "min_price_supplier_per_part": min_price_supplier_per_part,
    "customers_with_big_order": customers_with_big_order,
    "parts_above_brand_avg": parts_above_brand_avg,
    "pivot_order_status": pivot_order_status,
    "monthly_revenue": monthly_revenue,
    "graph_ppr_cosupply": graph_ppr_cosupply,
    "vector_ann_recall": vector_ann_recall,
    "graph_motif_varlen_reach": graph_motif_varlen_reach,
    "graph_lpa_cosupply": graph_lpa_cosupply,
    "dedup_keep_best_docs": dedup_keep_best_docs,
    "curation_temperature_mix_chars": curation_temperature_mix_chars,
    "text_repetition_report": text_repetition_report,
    "graph_linkpred_cosupply": graph_linkpred_cosupply,
    "text_quality_classifier": text_quality_classifier,
    "tokenizer_top_pairs": tokenizer_top_pairs,
    "graph_hits_cosupply": graph_hits_cosupply,
    "graph_betweenness_cosupply": graph_betweenness_cosupply,
    "graph_clustering_cosupply": graph_clustering_cosupply,
}

# DuckDB-dialect oracles. Keys missing here → driver rows-only check.
ORACLES: dict[str, str] = {}


def _o(name):
    def reg(sql):
        ORACLES[name] = sql
        return sql

    return reg


_o("q1_pricing_summary")(
    """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""
)

_o("q3_top_orders")(
    """
SELECT o_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""
)

_o("q5_regional_revenue")(
    """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE s_nationkey = c_nationkey
GROUP BY n_name
"""
)

_o("distinct_segments")("SELECT DISTINCT c_mktsegment FROM customer")

_o("filter_valid_events")(
    """
SELECT event_id, event_type, round(value, 2) AS value
FROM events
WHERE event_type NOT IN ('error', 'timeout') AND value IS NOT NULL AND value > 0
"""
)

_o("like_brand_parts")(
    "SELECT p_partkey, p_name, p_type FROM part WHERE p_type LIKE '%AND%'"
)

_o("union_high_value")(
    """
SELECT DISTINCT name FROM (
  SELECT c_name AS name FROM customer WHERE c_acctbal > 9000
  UNION ALL
  SELECT s_name AS name FROM supplier WHERE s_acctbal > 9000
)
"""
)

_o("anti_join_idle_customers")(
    """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01')
"""
)

_o("semi_join_ordered_parts")(
    """
SELECT p_partkey, p_brand FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""
)

_o("window_top3_orders_per_segment")(
    """
SELECT c_mktsegment, rn, o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rn <= 3
"""
)

_o("page2_orders")(
    """
SELECT o_orderkey, o_orderdate, round(o_totalprice, 2) AS o_totalprice
FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 20 OFFSET 20
"""
)

_o("histogram_event_types")(
    """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY event_type
"""
)

_o("rollup_order_stats")(
    """
SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""
)

_o("distinct_parts_per_flag")(
    """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps
FROM lineitem GROUP BY l_returnflag
"""
)

_o("events_hourly")(
    """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       round(avg(value), 4) AS avg_value
FROM events GROUP BY 1, 2
"""
)

_o("events_lag_delta")(
    """
SELECT event_id, user_id, round(value - prev_value, 2) AS delta
FROM (
  SELECT event_id, user_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
           AS prev_value
  FROM events
) WHERE prev_value IS NOT NULL
"""
)

_o("events_json_extract")(
    """
SELECT event_id, event_type, json_extract_string(props, '$.k')::INTEGER AS k
FROM events WHERE json_extract_string(props, '$.k')::INTEGER > 50
"""
)

_o("except_lapsed_customers")(
    """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
EXCEPT ALL
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '1998-01-01')
"""
)

_o("intersect_both_segments")(
    """
SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment = 'MACHINERY'
"""
)

_o("dedup_exact_docs")(
    """
SELECT md5(text) AS content_hash, count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY md5(text)
"""
)

_o("sessionize_batch")(
    """
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE user_id < 100
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, round(sum(value), 2) AS total_value
FROM sess GROUP BY user_id, sess_id
"""
)

_o("range_join_value_bands")(
    """
WITH bands AS (
  SELECT i::INT AS band_id, (i * 100)::DOUBLE AS lo, ((i + 1) * 100)::DOUBLE AS hi
  FROM (SELECT unnest(range(10)) AS i)
)
SELECT band_id, lo, hi, count(*) AS n, round(avg(value), 4) AS avg_value
FROM events JOIN bands ON value >= lo AND value < hi
WHERE value IS NOT NULL
GROUP BY band_id, lo, hi
"""
)

_o("asof_click_last_purchase")(
    """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  SELECT user_id, ts, max(value) AS pvalue
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, round(p.pvalue, 2) AS last_purchase
FROM clicks c
ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
"""
)

_o("min_price_supplier_per_part")(
    """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), j AS (
  SELECT l_partkey, s_suppkey, s_acctbal
  FROM ps JOIN supplier ON l_suppkey = s_suppkey
)
SELECT l_partkey, s_suppkey, round(s_acctbal, 2) AS s_acctbal
FROM j
WHERE s_acctbal = (SELECT min(j2.s_acctbal) FROM j j2
                   WHERE j2.l_partkey = j.l_partkey)
"""
)

_o("customers_with_big_order")(
    """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""
)

_o("parts_above_brand_avg")(
    """
SELECT p_partkey, p_brand, round(p_retailprice, 2) AS p_retailprice
FROM (
  SELECT p_partkey, p_brand, p_retailprice,
         avg(p_retailprice) OVER (PARTITION BY p_brand) AS brand_avg
  FROM part
) WHERE p_retailprice > brand_avg
"""
)

_o("pivot_order_status")(
    """
SELECT o_orderpriority,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_f,
       sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_o,
       sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_p
FROM orders GROUP BY o_orderpriority
"""
)

_o("monthly_revenue")(
    """
SELECT year(l_shipdate) AS y, month(l_shipdate) AS m,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem GROUP BY 1, 2
"""
)

_o("segment_price_quartiles")(
    """
SELECT c_mktsegment,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""
)

_o("user_event_sequences")(
    """
SELECT user_id,
       array_to_string(
         list(event_type ORDER BY ts ASC, event_id ASC), '|') AS sequence,
       count(*) AS n_events
FROM events WHERE user_id < 50 GROUP BY user_id
"""
)

_o("dedup_keep_docs")(
    """
SELECT doc_id, n_chars FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
"""
)

_o("string_projection")(
    """
SELECT n_nationkey, upper(n_name) AS upper_name,
       substring(n_name, 1, 3) AS prefix3,
       length(n_name) AS name_len,
       regexp_replace(n_name, '[AEIOU]', '_', 'g') AS devoweled
FROM nation
"""
)

# shared DuckDB fragment: distinct word-3-gram shingles per doc
_SHINGLES_CTE = """
WITH toks AS (
  SELECT doc_id, source, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' '))) AS grams
  FROM toks
)
"""

_o("dedup_ngram_jaccard_docs")(
    _SHINGLES_CTE
    + """
SELECT a.doc_id AS a, b.doc_id AS b,
       round(len(list_intersect(a.grams, b.grams))::DOUBLE /
             len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.source = b.source
WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
      len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
"""
)

_o("dedup_simhash_docs")(
    """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS h
  FROM toks WHERE tok <> ''
), bits AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS i) r
  GROUP BY doc_id, i
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::UBIGINT << i) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""
)

_o("dedup_simhash_pairs_docs")(
    """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS tok
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::UBIGINT AS h
  FROM toks WHERE tok <> ''
), bits AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS i) r
  GROUP BY doc_id, i
), fp AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::UBIGINT << i) ELSE 0 END)::BIGINT AS simhash
  FROM bits GROUP BY doc_id
), allfp AS (
  SELECT doc_id, simhash FROM fp
  UNION ALL
  SELECT doc_id + 1000000, xor(simhash, 1::BIGINT << (doc_id % 60)::INTEGER) FROM fp
)
SELECT l.doc_id AS a, r.doc_id AS b,
       bit_count(xor(l.simhash, r.simhash))::INTEGER AS hamming
FROM allfp l JOIN allfp r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
"""
)

# shared DuckDB fragment: md5 minhash signatures + banded hashes
_MINHASH_BANDS_CTE = """
, sig AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           k -> list_min(list_transform(grams, g -> md5(k || ':' || g)))) AS s
  FROM sh WHERE len(grams) > 0
), bands AS (
  SELECT doc_id, b AS band_idx,
         md5(s[b*4+1] || '|' || s[b*4+2] || '|' || s[b*4+3] || '|' || s[b*4+4])
           AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) t
)
"""

_o("dedup_minhash_pairs_docs")(
    _SHINGLES_CTE
    + _MINHASH_BANDS_CTE
    + """
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r
  ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
"""
)

_o("dedup_lsh_jaccard_docs")(
    _SHINGLES_CTE
    + _MINHASH_BANDS_CTE
    + """
, cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
)
SELECT c.a, c.b,
       round(len(list_intersect(sa.grams, sb.grams))::DOUBLE /
             len(list_distinct(list_concat(sa.grams, sb.grams))), 6) AS jaccard
FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
WHERE len(list_intersect(sa.grams, sb.grams))::DOUBLE /
      len(list_distinct(list_concat(sa.grams, sb.grams))) >= 0.5
"""
)

_o("dedup_keep_best_docs")(
    # banding + 0.5 Jaccard gate + reachability closure, then keep the
    # argmax-n_chars member per component (ties -> min id); docs with
    # no gated pair survive trivially (they never enter the closure)
    _SHINGLES_CTE.replace("WITH toks", "WITH RECURSIVE toks", 1)
    + _MINHASH_BANDS_CTE
    + """
, cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
jp AS (
  SELECT c.a, c.b
  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
  WHERE len(list_intersect(sa.grams, sb.grams))::DOUBLE /
        len(list_distinct(list_concat(sa.grams, sb.grams))) >= 0.5
),
ud AS (
  SELECT DISTINCT u, v FROM (
    SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp
  )
),
reach(u, r) AS (
  SELECT DISTINCT u, u FROM ud
  UNION
  SELECT ud.u, reach.r FROM ud JOIN reach ON ud.v = reach.u
),
canon AS (SELECT u AS node, min(r) AS cid FROM reach GROUP BY u),
keep AS (
  SELECT node FROM (
    SELECT c.node,
           row_number() OVER (PARTITION BY c.cid
                              ORDER BY d.n_chars DESC, c.node ASC) AS rn
    FROM canon c JOIN documents d ON d.doc_id = c.node
  ) WHERE rn = 1
),
losers AS (SELECT node FROM canon WHERE node NOT IN (SELECT node FROM keep))
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT node FROM losers)
"""
)

_o("curation_boilerplate_strip")(
    """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), segi AS (
  SELECT doc_id, t,
         unnest(range(0, CAST(ceil(len(t) / 8.0) AS BIGINT))) AS i
  FROM toks
), seg AS (
  SELECT doc_id, i AS seg_idx,
         array_to_string(t[(i*8+1):(i*8+8)], ' ') AS seg
  FROM segi
), boiler AS (
  SELECT md5(seg) AS h FROM seg GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
), flagged AS (
  SELECT s.doc_id, s.seg_idx, s.seg, (b.h IS NOT NULL) AS is_b
  FROM seg s LEFT JOIN boiler b ON md5(s.seg) = b.h
)
SELECT doc_id,
       coalesce(array_to_string(list(seg ORDER BY seg_idx)
                                FILTER (WHERE NOT is_b), ' '), '') AS clean_text,
       sum(CASE WHEN is_b THEN 0 ELSE 1 END)::BIGINT AS n_kept,
       sum(CASE WHEN is_b THEN 1 ELSE 0 END)::BIGINT AS n_dropped
FROM flagged GROUP BY doc_id
"""
)

_o("curation_decontaminate")(
    _SHINGLES_CTE
    + """
, bench AS (
  SELECT list_distinct(flatten(list(grams))) AS bg FROM sh WHERE doc_id % 97 = 0
)
SELECT s.doc_id,
       len(list_intersect(s.grams, b.bg))::BIGINT AS n_hits,
       len(list_intersect(s.grams, b.bg)) >= 1 AS contaminated
FROM sh s CROSS JOIN bench b
WHERE s.doc_id % 97 <> 0
"""
)

_o("text_gopher_quality")(
    """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS sym
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM toks
), bgc AS (
  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
), top AS (
  SELECT doc_id, max(c) AS topc, sum(c) AS nbg FROM bgc GROUP BY 1
)
SELECT k.doc_id,
       len(k.t)::BIGINT AS n_tokens,
       round(list_aggregate(list_transform(k.t, x -> len(x)), 'sum')
             / greatest(len(k.t), 1), 6) AS mean_word_len,
       round(k.sym / greatest(k.n_chars, 1), 6) AS symbol_ratio,
       round(len(list_distinct(k.t)) / greatest(len(k.t), 1), 6) AS unique_frac,
       round(coalesce(top.topc / top.nbg, 0.0), 6) AS top_bigram_frac,
       (list_aggregate(list_transform(k.t, x -> len(x)), 'sum')
          / greatest(len(k.t), 1) BETWEEN 3.0 AND 10.0
        AND k.sym / greatest(k.n_chars, 1) < 0.1
        AND len(list_distinct(k.t)) / greatest(len(k.t), 1) >= 0.2
        AND coalesce(top.topc / top.nbg, 0.0) < 0.2) AS passes_gopher
FROM toks k LEFT JOIN top ON k.doc_id = top.doc_id
"""
)

_o("text_repetition_report")(
    """
WITH lin AS (
  SELECT doc_id, replace(text, ' value ', chr(10)) AS l FROM documents
), d2 AS (
  SELECT doc_id, l || chr(10) || string_split(l, chr(10))[1] AS text FROM lin
), lraw AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS u FROM d2
), lc AS (
  SELECT doc_id, u, count(*) AS c FROM lraw WHERE u <> '' GROUP BY 1, 2
), ld AS (
  SELECT doc_id, sum(c) AS n_lines,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c) AS ldf,
         sum(CASE WHEN c > 1 THEN c * len(u) ELSE 0 END)
           / greatest(sum(c * len(u)), 1) AS lcf
  FROM lc GROUP BY 1
), praw AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\n{2,}')) AS u FROM d2
), pc AS (
  SELECT doc_id, u, count(*) AS c FROM praw WHERE u <> '' GROUP BY 1, 2
), pd AS (
  SELECT doc_id, sum(c) AS n_paras,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c) AS pdf,
         sum(CASE WHEN c > 1 THEN c * len(u) ELSE 0 END)
           / greatest(sum(c * len(u)), 1) AS pcf
  FROM pc GROUP BY 1
), toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t,
         length(text) AS nc
  FROM d2
), g2t AS (
  SELECT doc_id, c * len(g) AS cov FROM (
    SELECT doc_id, g, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, len(g) DESC, g ASC) AS rn
    FROM (SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t)),
                     i -> array_to_string(t[i:i+1], ' '))) AS g FROM toks)
          GROUP BY 1, 2)) WHERE rn = 1
), g3t AS (
  SELECT doc_id, c * len(g) AS cov FROM (
    SELECT doc_id, g, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, len(g) DESC, g ASC) AS rn
    FROM (SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
                     i -> array_to_string(t[i:i+2], ' '))) AS g FROM toks)
          GROUP BY 1, 2)) WHERE rn = 1
), g4t AS (
  SELECT doc_id, c * len(g) AS cov FROM (
    SELECT doc_id, g, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, len(g) DESC, g ASC) AS rn
    FROM (SELECT doc_id, g, count(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
                     i -> array_to_string(t[i:i+3], ' '))) AS g FROM toks)
          GROUP BY 1, 2)) WHERE rn = 1
)
SELECT k.doc_id,
       coalesce(ld.n_lines, 0)::BIGINT AS n_lines,
       round(coalesce(ld.ldf, 0), 6) AS dup_line_frac,
       round(coalesce(ld.lcf, 0), 6) AS dup_line_char_frac,
       coalesce(pd.n_paras, 0)::BIGINT AS n_paragraphs,
       round(coalesce(pd.pdf, 0), 6) AS dup_para_frac,
       round(coalesce(pd.pcf, 0), 6) AS dup_para_char_frac,
       round(coalesce(g2t.cov / greatest(k.nc, 1), 0), 6) AS top_2gram_char_frac,
       round(coalesce(g3t.cov / greatest(k.nc, 1), 0), 6) AS top_3gram_char_frac,
       round(coalesce(g4t.cov / greatest(k.nc, 1), 0), 6) AS top_4gram_char_frac,
       (coalesce(ld.ldf, 0) < 0.30 AND coalesce(pd.pdf, 0) < 0.30
        AND coalesce(ld.lcf, 0) < 0.20 AND coalesce(pd.pcf, 0) < 0.20
        AND coalesce(g2t.cov / greatest(k.nc, 1), 0) < 0.20
        AND coalesce(g3t.cov / greatest(k.nc, 1), 0) < 0.18
        AND coalesce(g4t.cov / greatest(k.nc, 1), 0) < 0.16) AS passes_repetition
FROM toks k
LEFT JOIN ld ON k.doc_id = ld.doc_id
LEFT JOIN pd ON k.doc_id = pd.doc_id
LEFT JOIN g2t ON k.doc_id = g2t.doc_id
LEFT JOIN g3t ON k.doc_id = g3t.doc_id
LEFT JOIN g4t ON k.doc_id = g4t.doc_id
"""
)

_o("text_cooccurrence_pmi")(
    """
WITH toks AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), uni AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY 1
), tot AS (
  SELECT sum(c)::BIGINT AS n_tok FROM uni
), bgr AS (
  SELECT unnest(list_transform(range(1, len(t)),
                               i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM (SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM documents)
), bgc AS (
  SELECT string_split(g, ' ')[1] AS x, string_split(g, ' ')[2] AS y,
         count(*) AS c_xy
  FROM bgr GROUP BY 1, 2 HAVING count(*) >= 25
)
SELECT x, y, c_xy::BIGINT AS c_xy,
       round(ln(c_xy::DOUBLE * n_tok / (ux.c * uy.c)), 6) AS pmi
FROM bgc JOIN uni ux ON bgc.x = ux.tok JOIN uni uy ON bgc.y = uy.tok, tot
ORDER BY pmi DESC, x, y LIMIT 20
"""
)

_o("graph_scc_suppliers")(
    """
WITH RECURSIVE m AS (SELECT count(*)::BIGINT AS m FROM supplier),
e AS (
  SELECT DISTINCT s, t FROM (
    SELECT s_suppkey AS s, (s_suppkey * s_suppkey) % m AS t
    FROM supplier, m
    UNION ALL
    SELECT s_suppkey,
           (s_suppkey * s_suppkey * s_suppkey) % m
    FROM supplier, m
  ) WHERE s <> t
),
reach AS (
  SELECT s AS a, t AS b FROM e
  UNION
  SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s
),
mutual AS (
  SELECT r1.a AS node, r1.b AS other
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
),
nodes AS (SELECT s_suppkey AS node FROM supplier)
SELECT n.node::BIGINT AS node,
       least(n.node, coalesce(min(mu.other), n.node))::BIGINT AS component
FROM nodes n LEFT JOIN mutual mu ON mu.node = n.node
GROUP BY n.node
"""
)

_o("graph_hyperball_cosupply")(
    """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), e AS (
  SELECT DISTINCT u, v FROM
    (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs)
), r AS (
  SELECT u AS source, u AS node, 0 AS d FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT r.source, e.v, r.d + 1 FROM r JOIN e ON r.node = e.u WHERE r.d < 4
), md AS (
  SELECT source, node, min(d) AS dist FROM r GROUP BY 1, 2
), hashed AS (
  SELECT source, dist,
         (('0x' || substr(md5(node::VARCHAR), 1, 8))::UBIGINT % 64)::BIGINT AS ri,
         ('0x' || substr(md5(node::VARCHAR), 9, 8))::UBIGINT AS v2
  FROM md
), radii AS (SELECT unnest(range(0, 5))::BIGINT AS radius),
regs AS (
  SELECT h.source, rad.radius, h.ri,
         max(CASE WHEN v2 = 0 THEN 33 ELSE 33 - length(bin(v2)) END) AS rv
  FROM hashed h JOIN radii rad ON h.dist <= rad.radius
  GROUP BY 1, 2, 3
), agg AS (
  SELECT source, radius, count(*) AS cnt,
         sum(pow(2.0, -rv)) AS ssum
  FROM regs GROUP BY 1, 2
)
SELECT radius,
       round(sum(CASE WHEN 0.709 * 4096 / (ssum + (64 - cnt)) <= 160.0
                       AND cnt < 64
                      THEN 64.0 * ln(64.0 / (64 - cnt))
                      ELSE 0.709 * 4096 / (ssum + (64 - cnt)) END), 3) AS nf_est
FROM agg GROUP BY radius
"""
)

_o("dedup_duplicate_spans_docs")(
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), wins AS (
  SELECT doc_id,
         unnest(range(0, len(t) - 3))::BIGINT AS pos,
         unnest(list_transform(range(0, len(t) - 3),
                               i -> md5(array_to_string(t[i+1:i+4], ' ')))) AS h
  FROM toks WHERE len(t) >= 4
), dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
dp AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dp
)
SELECT doc_id, min(pos) AS span_start, max(pos) + 3 AS span_end,
       count(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, grp
"""
)

_o("dedup_lsh_index_docs")(
    # whole-corpus banding over the LIVE set (tombstoned ids out): the
    # incremental index's version-log reads must equal this rebuild
    _SHINGLES_CTE.replace(
        "FROM documents", "FROM documents WHERE doc_id % 50 <> 0", 1
    )
    + _MINHASH_BANDS_CTE
    + """
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r
  ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
"""
)

_o("dedup_lsh_index_probe_docs")(
    _SHINGLES_CTE
    + _MINHASH_BANDS_CTE
    + """
SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS index_id
FROM bands l JOIN bands r
  ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
WHERE l.doc_id % 7 = 0 AND r.doc_id % 7 <> 0
"""
)

_o("dedup_keep_first_spans_docs")(
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), wins AS (
  SELECT doc_id,
         unnest(range(0, len(t) - 3))::BIGINT AS pos,
         unnest(list_transform(range(0, len(t) - 3),
                               i -> md5(array_to_string(t[i+1:i+4], ' ')))) AS h
  FROM toks WHERE len(t) >= 4
), dup AS (
  SELECT h, min(doc_id * 2147483648 + pos) AS first_at
  FROM wins GROUP BY h HAVING count(*) > 1
),
dp AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (h)
  WHERE w.doc_id * 2147483648 + w.pos <> dup.first_at
),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dp
)
SELECT doc_id, min(pos) AS span_start, max(pos) + 3 AS span_end,
       count(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, grp
"""
)

_o("dedup_strip_spans_docs")(
    """
WITH arr AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), toks AS (
  SELECT doc_id, unnest(range(0, len(t)))::BIGINT AS pos, unnest(t) AS tok
  FROM arr
), wins AS (
  SELECT doc_id,
         unnest(range(0, len(t) - 3))::BIGINT AS pos,
         unnest(list_transform(range(0, len(t) - 3),
                               i -> md5(array_to_string(t[i+1:i+4], ' ')))) AS h
  FROM arr WHERE len(t) >= 4
), dup AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
dp AS (SELECT doc_id, pos FROM wins JOIN dup USING (h)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM dp
), spans AS (
  SELECT doc_id, min(pos) AS s, max(pos) + 3 AS e FROM isl
  GROUP BY doc_id, grp
), hit AS (
  SELECT DISTINCT t.doc_id, t.pos
  FROM toks t JOIN spans s
    ON t.doc_id = s.doc_id AND t.pos BETWEEN s.s AND s.e
), kept AS (
  SELECT t.doc_id, t.pos, t.tok FROM toks t
  ANTI JOIN hit h ON t.doc_id = h.doc_id AND t.pos = h.pos
), nt AS (SELECT doc_id, count(*)::BIGINT AS n_tokens FROM toks GROUP BY doc_id),
rebuilt AS (
  SELECT doc_id, count(*)::BIGINT AS n_kept,
         string_agg(tok, ' ' ORDER BY pos) AS text
  FROM kept GROUP BY doc_id
)
SELECT nt.doc_id, nt.n_tokens,
       nt.n_tokens - coalesce(n_kept, 0) AS n_removed,
       md5(coalesce(text, '')) AS clean_md5
FROM nt LEFT JOIN rebuilt USING (doc_id)
"""
)

# The classifier-training oracle unrolls the fixed-iteration GD loop as
# chained CTEs — one (margins, residuals, gradients, update) round per
# iteration, generated to stay byte-identical with the query's
# hyperparameters (iters=3, lr=1.0, l2=0.1, 256 buckets).
_LR_TRAIN_ROUND = """
, m{k} AS (
  SELECT f.doc_id, any_value(f.y) AS y, sum(f.x * coalesce(w.w, 0.0)) AS m
  FROM feats f LEFT JOIN w{j} w USING (b) GROUP BY f.doc_id
), r{k} AS (
  SELECT doc_id, 1.0 / (1.0 + exp(-m)) - y AS r FROM m{k}
), g{k} AS (
  SELECT f.b, sum(r.r * f.x) / (SELECT n FROM nd) AS g
  FROM feats f JOIN r{k} r USING (doc_id) GROUP BY f.b
), w{k} AS (
  SELECT w.b, w.w - 1.0 * (coalesce(g.g, 0.0) + 0.1 * w.w) AS w
  FROM w{j} w LEFT JOIN g{k} g USING (b)
)"""

_o("text_classifier_train")(
    """
WITH base AS (
  SELECT doc_id, coalesce(lang = 'en', FALSE)::INT::DOUBLE AS y,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), tf AS (
  SELECT doc_id, y,
         (('0x' || substr(md5(tok), 1, 8))::UBIGINT % 256)::BIGINT AS b,
         count(*)::DOUBLE / n_tokens AS x
  FROM (SELECT doc_id, y, len(toks) AS n_tokens, unnest(toks) AS tok
        FROM base)
  GROUP BY doc_id, y, n_tokens, b
), feats AS (
  SELECT doc_id, y, b, x FROM tf
  UNION ALL
  SELECT doc_id, y, (-1)::BIGINT AS b, 1.0 AS x FROM base
), nd AS (SELECT count(*)::DOUBLE AS n FROM base),
w0 AS (SELECT DISTINCT b, 0.0 AS w FROM feats)
"""
    + "".join(_LR_TRAIN_ROUND.format(k=k, j=k - 1) for k in (1, 2, 3))
    + """
SELECT b AS bucket, round(w, 6) AS weight FROM w3
"""
)

_o("curation_dsir_select")(
    """
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, is_t, g FROM (
    SELECT doc_id, is_t, unnest(t) AS g FROM toks
    UNION ALL
    SELECT doc_id, is_t,
           unnest(list_transform(range(1, len(t)),
                                 i -> array_to_string(t[i:i+1], ' '))) AS g
    FROM toks
  ) WHERE g <> ''
), db AS (
  SELECT doc_id, is_t,
         (('0x' || substr(md5(g), 1, 8))::UBIGINT % 1024)::BIGINT AS b,
         count(*)::DOUBLE AS cnt
  FROM grams GROUP BY 1, 2, 3
), qd AS (SELECT b, sum(cnt) AS qc FROM db GROUP BY b),
pd AS (SELECT b, sum(cnt) AS pc FROM db WHERE is_t GROUP BY b),
tot AS (SELECT (SELECT sum(qc) FROM qd) AS qn, (SELECT sum(pc) FROM pd) AS pn),
lr AS (
  SELECT qd.b,
         ln(coalesce(pc, 0) + 1.0) - ln(pn + 1024.0)
         - ln(qc + 1.0) + ln(qn + 1024.0) AS lw
  FROM qd LEFT JOIN pd USING (b) CROSS JOIN tot
), dw AS (
  SELECT doc_id, sum(cnt * lw) AS logw
  FROM db JOIN lr USING (b) GROUP BY doc_id
)
SELECT d.doc_id,
       round(coalesce(logw, 0.0), 6) AS log_weight,
       round(coalesce(logw, 0.0)
             - ln(-ln(((('0x' || substr(md5('dsir:' || d.doc_id), 1, 8))::UBIGINT
                        + 0.5) / 4294967296.0))), 6) AS sel_key
FROM documents d LEFT JOIN dw USING (doc_id)
ORDER BY sel_key DESC, d.doc_id ASC LIMIT 50
"""
)

_o("curation_stratified_sample")(
    """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), s AS (
  SELECT doc_id, count(*) AS nt,
         sum(((('0x' || substr(md5(tok), 1, 8))::UBIGINT % 64)::BIGINT % 7 - 3)
             / 10.0::DOUBLE) AS ws
  FROM toks GROUP BY 1
), q AS (
  SELECT d.doc_id,
         round(coalesce(1.0 / (1.0 + exp(-(s.ws / s.nt))), 0.5), 6) AS q6
  FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
), t AS (
  SELECT doc_id, q6,
         ntile(4) OVER (ORDER BY q6 DESC, doc_id) AS quartile
  FROM q
)
SELECT doc_id, q6, quartile::BIGINT AS quartile FROM t
WHERE ('0x' || substr(md5('c5' || doc_id::VARCHAR), 1, 8))::UBIGINT <
      CASE quartile WHEN 1 THEN 4294967296
                    WHEN 2 THEN 2147483648
                    WHEN 3 THEN 1073741824
                    ELSE 429496729 END
"""
)

_o("tokenizer_top_pairs")(
    """
WITH wc AS (
  SELECT w AS word, count(*) AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                              x -> x <> '')) AS w
    FROM documents) GROUP BY 1
), syms AS (
  SELECT list_append(string_split(word, ''), '</w>') AS s, freq FROM wc
), pairs AS (
  SELECT freq,
         unnest(list_transform(range(1, len(s)),
                               i -> s[i] || chr(1) || s[i+1])) AS g
  FROM syms
)
SELECT string_split(g, chr(1))[1] AS a,
       string_split(g, chr(1))[2] AS b,
       sum(freq)::BIGINT AS pair_freq
FROM pairs GROUP BY 1, 2
ORDER BY pair_freq DESC, a, b LIMIT 10
"""
)

_o("text_quality_classifier")(
    """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), s AS (
  SELECT doc_id, count(*) AS nt,
         sum(((('0x' || substr(md5(tok), 1, 8))::UBIGINT % 64)::BIGINT % 7 - 3)
             / 10.0::DOUBLE) AS ws
  FROM toks GROUP BY 1
)
SELECT d.doc_id,
       coalesce(s.nt, 0)::BIGINT AS n_tokens,
       round(coalesce(1.0 / (1.0 + exp(-(-0.05 + s.ws / s.nt))),
                      1.0 / (1.0 + exp(0.05))), 6) AS quality_prob,
       (round(coalesce(1.0 / (1.0 + exp(-(-0.05 + s.ws / s.nt))),
                       1.0 / (1.0 + exp(0.05))), 6) >= 0.53) AS keep
FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
"""
)

_o("sample_docs_hash")(
    """
SELECT doc_id, source, lang FROM documents
WHERE ('0x' || substr(md5('s1' || doc_id::VARCHAR), 1, 8))::UBIGINT < 1073741824
"""
)

_o("sample_per_source_topn")(
    """
SELECT source, sample_rank, doc_id FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5('s2' || doc_id::VARCHAR), doc_id)
           AS sample_rank
  FROM documents)
WHERE sample_rank <= 3
"""
)

_o("corpus_token_stats")(
    """
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
  FROM documents
)
SELECT tok, count(*)::BIGINT AS tf, count(DISTINCT doc_id)::BIGINT AS df,
       round(ln(((SELECT count(*) FROM documents) + 1.0)
                / (count(DISTINCT doc_id) + 1)) + 1, 6) AS idf
FROM toks WHERE tok <> ''
GROUP BY tok HAVING count(DISTINCT doc_id) >= 3
"""
)

_o("profile_part_columns")(
    "\nUNION ALL\n".join(
        f"""
SELECT '{c}' AS column_name,
       count(*) FILTER (WHERE {c} IS NULL)::BIGINT AS n_nulls,
       count(DISTINCT {c})::BIGINT AS n_distinct,
       min({c})::VARCHAR AS min_value,
       max({c})::VARCHAR AS max_value
FROM part"""
        for c in ["p_partkey", "p_name", "p_brand", "p_type", "p_size"]
    )
)

_o("diff_orders_snapshots")(
    """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
),
old AS (SELECT * FROM base WHERE o_orderkey % 97 <> 0),
new AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % 83 = 0 THEN o_totalprice + 1
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM base WHERE o_orderkey % 89 <> 0
)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS status
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.o_custkey IS DISTINCT FROM n.o_custkey
   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
"""
)

_o("skew_report_events")(
    """
WITH keyed AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'hot'
              ELSE 'k' || (event_id % 500)::VARCHAR END AS skey
  FROM events
),
counts AS (SELECT skey, count(*)::BIGINT AS n_rows FROM keyed GROUP BY skey),
med AS (SELECT quantile_disc(n_rows, 0.5)::BIGINT AS median_count FROM counts)
SELECT skey, n_rows, median_count,
       round(n_rows / median_count::DOUBLE, 4) AS skew_ratio
FROM counts, med
WHERE n_rows / median_count::DOUBLE > 10.0
"""
)

_o("pii_redact_docs")(
    r"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact u' || doc_id::VARCHAR || '@mail.example.org'
              || ' from 10.1.' || (doc_id % 256)::VARCHAR || '.7'
              || CASE WHEN doc_id % 3 = 0
                      THEN ' tel 555-010-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                      ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
       length(regexp_extract_all(text, '\b\d{1,3}(?:\.\d{1,3}){3}\b'))::BIGINT AS n_ip,
       length(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phone,
       (length(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + length(regexp_extract_all(text, '\b\d{1,3}(?:\.\d{1,3}){3}\b'))
        + length(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')))::BIGINT AS pii_total,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b\d{1,3}(?:\.\d{1,3}){3}\b', '<IP>', 'g'),
             '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
FROM inj
"""
)

_o("merge_preview_orders")(
    """
WITH base AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
),
upd AS (
  SELECT o_orderkey, o_custkey, o_totalprice + 100 AS o_totalprice,
         'U' AS o_orderstatus
  FROM base WHERE o_orderkey % 101 = 0
),
ins AS (
  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_totalprice,
         'N' AS o_orderstatus
  FROM base WHERE o_orderkey % 103 = 0
),
delta AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
       o_orderstatus
FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
UNION ALL
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
       o_orderstatus
FROM delta
"""
)

_o("split_docs_assign")(
    """
SELECT doc_id, source,
       CASE WHEN h < 3865470566 THEN 'train'
            WHEN h < 4080218931 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
         ('0x' || substr(md5('sp' || doc_id::VARCHAR), 1, 8))::UBIGINT AS h
  FROM documents
)
"""
)

_o("latest_events_per_user")(
    """
SELECT user_id, event_id, event_type, round(value, 6) AS value
FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""
)

_o("expectations_orders")(
    "\nUNION ALL\n".join(
        f"""
SELECT '{name}' AS rule,
       count(*) FILTER (WHERE NOT coalesce({pred}, false))::BIGINT AS n_violations,
       count(*)::BIGINT AS n_rows,
       count(*) FILTER (WHERE NOT coalesce({pred}, false)) = 0 AS passed
FROM orders"""
        for name, pred in [
            ("orderkey_not_null", "o_orderkey IS NOT NULL"),
            ("price_positive", "o_totalprice > 0"),
            ("status_in_domain", "o_orderstatus IN ('O','F','P')"),
            ("price_below_400k", "o_totalprice < 400000"),
        ]
    )
)

_o("events_hourly_distinct_users")(
    """
SELECT strftime(ts, '%Y-%m-%d-%H') AS hour, event_type,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY hour, event_type
"""
)

_o("text_bm25_topk")(
    # Same tokenizer as the Spark side (lower/trim/\s+ split, empties
    # dropped), same BM25 constants (k1=1.2, b=0.75), same smoothed
    # idf; ordering on the ROUNDED score with doc_id tiebreak in both
    # engines so the top-k boundary is ulp-stable.
    """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), t AS (
  SELECT doc_id, len(toks)::DOUBLE AS dl,
         len(list_filter(toks, x -> x = 'spark'))::DOUBLE AS tf0,
         len(list_filter(toks, x -> x = 'join'))::DOUBLE AS tf1,
         len(list_filter(toks, x -> x = 'stream'))::DOUBLE AS tf2
  FROM d
), s AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
  FROM t
)
SELECT doc_id, round(score, 6) AS bm25 FROM (
  SELECT t.doc_id,
         ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
           * t.tf0 * 2.2 / (t.tf0 + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))
       + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
           * t.tf1 * 2.2 / (t.tf1 + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))
       + ln(1 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
           * t.tf2 * 2.2 / (t.tf2 + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))
         AS score
  FROM t CROSS JOIN s
) WHERE score > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""
)

_o("text_bm25_index_topk")(
    # identical BM25 formula-twin as text_bm25_topk, for the
    # index-path query's terms ('table', 'scan')
    """
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), t AS (
  SELECT doc_id, len(toks)::DOUBLE AS dl,
         len(list_filter(toks, x -> x = 'table'))::DOUBLE AS tf0,
         len(list_filter(toks, x -> x = 'scan'))::DOUBLE AS tf1
  FROM d
), s AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
         sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1
  FROM t
)
SELECT doc_id, round(score, 6) AS bm25 FROM (
  SELECT t.doc_id,
         ln(1 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
           * t.tf0 * 2.2 / (t.tf0 + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))
       + ln(1 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
           * t.tf1 * 2.2 / (t.tf1 + 1.2 * (0.25 + 0.75 * t.dl / s.avgdl))
         AS score
  FROM t CROSS JOIN s
) WHERE score > 0
ORDER BY bm25 DESC, doc_id ASC
LIMIT 10
"""
)

_o("events_funnel")(
    # greedy frontier chain, identical semantics to funnel_counts: the
    # earliest valid time per step never eliminates a later match, so
    # greedy == exists-ordered-subsequence
    """
WITH u1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), u2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN u1 ON e.user_id = u1.user_id
  WHERE e.event_type = 'click' AND e.ts > u1.t GROUP BY e.user_id
), u3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN u2 ON e.user_id = u2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > u2.t GROUP BY e.user_id
)
SELECT 0::INTEGER AS step_idx, 'view' AS step,
       (SELECT count(*) FROM u1)::BIGINT AS n_users
UNION ALL
SELECT 1::INTEGER, 'click', (SELECT count(*) FROM u2)::BIGINT
UNION ALL
SELECT 2::INTEGER, 'purchase', (SELECT count(*) FROM u3)::BIGINT
"""
)

_o("events_funnel_users")(
    """
WITH u1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
), u2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN u1 ON e.user_id = u1.user_id
  WHERE e.event_type = 'click' AND e.ts > u1.t GROUP BY e.user_id
), u3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e
  JOIN u2 ON e.user_id = u2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > u2.t GROUP BY e.user_id
)
SELECT u1.user_id,
       (CASE WHEN u3.t IS NOT NULL THEN 3
             WHEN u2.t IS NOT NULL THEN 2
             ELSE 1 END)::INTEGER AS depth,
       coalesce(u3.t, u2.t, u1.t) AS reached_ts
FROM u1
LEFT JOIN u2 ON u1.user_id = u2.user_id
LEFT JOIN u3 ON u1.user_id = u3.user_id
"""
)

_o("events_daily_distinct_users")(
    """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY day
"""
)

_o("corpus_balance_report")(
    """
WITH t AS (
  SELECT source, lang,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS nt
  FROM documents
), per AS (
  SELECT source, lang, count(*) AS n_docs,
         round(quantile_cont(nt, 0.5), 2) AS p50_tokens,
         round(quantile_cont(nt, 0.9), 2) AS p90_tokens
  FROM t GROUP BY source, lang
)
SELECT source, lang, n_docs,
       round(n_docs / (SELECT count(*) FROM documents), 6) AS share,
       p50_tokens, p90_tokens
FROM per
"""
)

_o("pack_docs_sequences")(
    """
WITH t AS (
  SELECT source AS part, doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
), b AS (
  SELECT part, doc_id, n_tokens,
         floor(coalesce(sum(n_tokens) OVER (PARTITION BY part ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 256)::BIGINT AS bin_id
  FROM t
)
SELECT part, bin_id, count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM b GROUP BY part, bin_id
"""
)

_o("rebalance_docs_sources")(
    """
WITH counts AS (
  SELECT source, count(*) AS cnt FROM documents GROUP BY source
), tgt(source, target) AS (
  VALUES ('src0', 0.01), ('src1', 0.10), ('src2', 0.03)
), total AS (SELECT count(*) AS n FROM documents),
rates AS (
  SELECT c.source,
         floor(least(1.0, t.target * total.n / c.cnt) * 4294967296.0)::BIGINT
           AS thr
  FROM counts c JOIN tgt t ON c.source = t.source CROSS JOIN total
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON d.source = r.source
WHERE ('0x' || substr(md5('mix' || d.doc_id::VARCHAR), 1, 8))::UBIGINT < r.thr
"""
)

_o("dedup_cross_corpus_docs")(
    # full banding replica, two-sided: md5 minhash signatures and band
    # hashes for each side, candidates only across sides, exact
    # Jaccard re-score — the deterministic twin of the production LSH
    # shape (same idiom as dedup_lsh_jaccard_docs, split in two)
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' '))) AS grams
  FROM toks
), sig AS (
  SELECT doc_id,
         list_transform(range(0, 16),
           k -> list_min(list_transform(grams, g -> md5(k || ':' || g)))) AS s
  FROM sh WHERE len(grams) > 0
), bands AS (
  SELECT doc_id, b AS band_idx,
         md5(s[b*4+1] || '|' || s[b*4+2] || '|' || s[b*4+3] || '|' || s[b*4+4])
           AS band_hash
  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS b) t
), cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
  WHERE l.doc_id % 2 = 0 AND r.doc_id % 2 = 1
)
SELECT c.a, c.b,
       round(len(list_intersect(sa.grams, sb.grams))::DOUBLE /
             len(list_distinct(list_concat(sa.grams, sb.grams))), 6) AS jaccard
FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
WHERE len(list_intersect(sa.grams, sb.grams))::DOUBLE /
      len(list_distinct(list_concat(sa.grams, sb.grams))) >= 0.5
"""
)

_o("text_lm_perplexity")(
    # same tokenizer as the Spark shingle path (no empty filtering —
    # bigram rows mirror shingle_rows), Laplace bigram LM self-trained
    # on the corpus; DuckDB '/' is float division, matching Spark
    """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), bgw AS (
  SELECT doc_id, g, string_split(g, ' ')[1] AS w1 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> array_to_string(t[i:i+1], ' '))) AS g
    FROM toks
  )
), bgc AS (
  SELECT g, count(*) AS c_bg FROM bgw GROUP BY g
), ctx AS (
  SELECT w1, count(*) AS c_ctx FROM bgw GROUP BY w1
), v AS (
  SELECT count(DISTINCT tt) AS v
  FROM (SELECT unnest(t) AS tt FROM toks) WHERE tt <> ''
)
SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(ln((c.c_bg + 1) / (x.c_ctx + v.v))), 6) AS avg_logprob
FROM bgw b JOIN bgc c ON b.g = c.g JOIN ctx x ON b.w1 = x.w1 CROSS JOIN v
GROUP BY b.doc_id
"""
)

_o("curation_pipeline_docs")(
    # stage-by-stage SQL twin of the composed chain; each block
    # mirrors its operator's individually-gated oracle (dedup keep /
    # gopher / decontaminate / split)
    """
WITH surv AS (
  SELECT * FROM documents
  WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
),
toks AS (
  SELECT doc_id, source,
         list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS t,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS sym
  FROM surv WHERE doc_id % 97 <> 0
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM toks
), bgc AS (
  SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
), top AS (
  SELECT doc_id, max(c) AS topc, sum(c) AS nbg FROM bgc GROUP BY 1
), gq AS (
  SELECT k.doc_id, k.source FROM toks k LEFT JOIN top ON k.doc_id = top.doc_id
  WHERE list_aggregate(list_transform(k.t, x -> len(x)), 'sum')
          / greatest(len(k.t), 1) BETWEEN 3.0 AND 10.0
    AND k.sym / greatest(k.n_chars, 1) < 0.1
    AND len(list_distinct(k.t)) / greatest(len(k.t), 1) >= 0.2
    AND coalesce(top.topc / top.nbg, 0.0) < 0.2
),
dtoks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM surv
), dsh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' '))) AS grams
  FROM dtoks
), bench AS (
  SELECT list_distinct(flatten(list(grams))) AS bgr
  FROM dsh WHERE doc_id % 97 = 0
),
clean AS (
  SELECT g.doc_id, g.source
  FROM gq g JOIN dsh s ON g.doc_id = s.doc_id CROSS JOIN bench b
  WHERE len(list_intersect(s.grams, b.bgr)) < 1
)
SELECT doc_id, source,
       CASE WHEN h < 3865470566 THEN 'train'
            WHEN h < 4080218931 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, source,
         ('0x' || substr(md5('sp' || doc_id::VARCHAR), 1, 8))::UBIGINT AS h
  FROM clean
)
"""
)

_o("curation_temperature_mix_chars")(
    # the doc-count oracle with counts swapped for sum(n_chars) mass
    # (coalesced NULL-source key, same md5 threshold rule, salt "tw")
    """
WITH counts AS (
  SELECT coalesce(source, ' <null>') AS skey,
         sum(n_chars)::DOUBLE AS cnt
  FROM documents GROUP BY 1
), tot AS (
  SELECT sum(cnt)::DOUBLE AS n, sum(pow(cnt, 0.5)) AS s FROM counts
),
rates AS (
  SELECT c.skey,
         floor(least(1.0, pow(c.cnt, 0.5) / tot.s * tot.n / c.cnt)
               * 4294967296.0)::BIGINT AS thr
  FROM counts c CROSS JOIN tot
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON coalesce(d.source, ' <null>') = r.skey
WHERE ('0x' || substr(md5('tw' || d.doc_id::VARCHAR), 1, 8))::UBIGINT < r.thr
"""
)

_o("curation_temperature_mix")(
    """
WITH counts AS (
  -- same NULL-as-its-own-group key as the operator (curation.py skey),
  -- so NULL sources are gated, not silently dropped by the join
  SELECT coalesce(source, ' <null>') AS skey, count(*) AS cnt
  FROM documents GROUP BY 1
), tot AS (
  SELECT sum(cnt)::DOUBLE AS n, sum(pow(cnt, 0.5)) AS s FROM counts
),
rates AS (
  SELECT c.skey,
         floor(least(1.0, pow(c.cnt, 0.5) / tot.s * tot.n / c.cnt)
               * 4294967296.0)::BIGINT AS thr
  FROM counts c CROSS JOIN tot
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON coalesce(d.source, ' <null>') = r.skey
WHERE ('0x' || substr(md5('temp' || d.doc_id::VARCHAR), 1, 8))::UBIGINT < r.thr
"""
)

_o("dedup_containment_docs")(
    # the Spark blocking is COMPLETE for token-boundary containment,
    # so the oracle is the brute-force containment relation over
    # boundary-padded normalized token strings (docs with >= 5 tokens)
    """
WITH d AS (
  SELECT doc_id,
         ' ' || array_to_string(
           list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> x <> ''), ' ') || ' ' AS lt,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '')) AS nt
  FROM documents
)
SELECT a.doc_id AS inner_id, b.doc_id AS outer_id
FROM d a JOIN d b ON a.doc_id <> b.doc_id
WHERE a.nt >= 5 AND b.nt >= 5
  AND position(a.lt IN b.lt) > 0
  AND (a.lt <> b.lt OR a.doc_id < b.doc_id)
"""
)

_o("dedup_embedding_cosine")(
    """
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 200 AND b.vec_id < 200
  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
"""
)

_o("dedup_semantic_keep")(
    # all-pairs cosine graph (the exact twin of the Spark side) →
    # recursive-CTE reachability closure → component min → keep roots
    # and untouched vectors (the closure only covers vectors with at
    # least one ≥-threshold pair; everything else survives trivially)
    """
WITH RECURSIVE
e AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE a.vec_id < 200 AND b.vec_id < 200
    AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
),
ud AS (
  SELECT DISTINCT u, v FROM (
    SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
  )
),
reach(u, r) AS (
  SELECT DISTINCT u, u FROM ud
  UNION
  SELECT ud.u, reach.r FROM ud JOIN reach ON ud.v = reach.u
),
losers AS (
  SELECT u FROM (SELECT u, min(r) AS root FROM reach GROUP BY u)
  WHERE u <> root
)
SELECT vec_id, label FROM embeddings
WHERE vec_id < 200 AND vec_id NOT IN (SELECT u FROM losers)
"""
)

_LANGS = ["de", "en", "es", "fr"]
_MARKER_SQL = {
    "en": "['the','and','of','to','in']",
    "es": "['el','la','de','que','los']",
    "de": "['der','die','und','das','ist']",
    "fr": "['le','la','les','et','des']",
}

_o("text_language_id")(
    """
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS t
  FROM documents
), scored AS (
  SELECT doc_id,
"""
    + ",\n".join(
        f"         len(list_intersect(t, {_MARKER_SQL[l]})) AS score_{l}"
        for l in _LANGS
    )
    + """
  FROM toks
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
       CASE
         WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
         WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
         WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
         ELSE 'fr'
       END AS pred_lang
FROM scored
"""
)

_ALL_MARKERS = (
    "['the','and','of','to','in','el','la','de','que','los',"
    "'der','die','und','das','ist','le','les','et','des']"
)

_o("text_quality")(
    f"""
WITH base AS (
  SELECT doc_id, length(text) AS n_chars,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t,
         length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS punct
  FROM documents
), feat AS (
  SELECT doc_id, n_chars, len(t) AS n_tokens,
         punct::DOUBLE / greatest(n_chars, 1) AS punct_ratio,
         len(list_filter(t, x -> list_contains({_ALL_MARKERS}, x)))::DOUBLE
           / greatest(len(t), 1) AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(0.4 * least(n_tokens / 64.0, 1.0)
           + 0.3 * (1.0 - punct_ratio)
           + 0.3 * least(stopword_ratio * 5, 1.0), 6) AS quality
FROM feat
"""
)

_o("text_token_count")(
    """
SELECT doc_id,
       len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS ws_tokens,
       len(list_filter(
             regexp_split_to_array(
               regexp_replace(text,
                 '([a-z])([A-Z])|([A-Za-z])([0-9])', '\\1\\3 \\2\\4', 'g'),
               '[^A-Za-z0-9]+'),
             x -> x <> '')) AS sub_tokens,
       ceil(length(text) / 4.0)::BIGINT AS approx_llm_tokens
FROM documents
"""
)

_o("text_fingerprint")(
    """
WITH t AS (
  SELECT doc_id,
         list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))) AS toks
  FROM documents
)
SELECT doc_id, md5(array_to_string(toks, ' ')) AS fingerprint,
       len(toks) AS vocab_size
FROM t
"""
)

_o("events_retention_cohorts")(
    """
WITH ev AS (
  SELECT user_id, ts::DATE AS day FROM events
), f AS (
  SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1
)
SELECT cohort_day::VARCHAR AS cohort_day,
       (day - cohort_day)::BIGINT AS day_offset,
       count(DISTINCT ev.user_id)::BIGINT AS n_users
FROM ev JOIN f ON ev.user_id = f.user_id
GROUP BY cohort_day, day - cohort_day
"""
)

_o("events_moving_avg")(
    """
WITH daily AS (
  SELECT ts::DATE AS day, count(*) AS n_events,
         (ts::DATE - DATE '1970-01-01') AS dayn
  FROM events GROUP BY 1, 3
)
SELECT day::VARCHAR AS day, n_events::BIGINT AS n_events,
       round(avg(n_events) OVER (ORDER BY dayn
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM daily
"""
)

_o("dedup_passages_docs")(
    """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM (
    SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 20)
), toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM corpus
), ch AS (
  SELECT doc_id,
         array_to_string(t[chunk_idx*16 + 1 : chunk_idx*16 + 16], ' ') AS chunk
  FROM (SELECT doc_id, t, unnest(range(((len(t) - 1) // 16) + 1)) AS chunk_idx
        FROM toks WHERE len(t) > 0)
)
SELECT md5(chunk) AS passage_hash,
       count(DISTINCT doc_id)::BIGINT AS n_docs,
       count(*)::BIGINT AS n_occurrences
FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
"""
)

_o("text_chunks")(
    """
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS t
  FROM documents
), idx AS (
  SELECT doc_id, t, unnest(range(((len(t) - 1) // 48) + 1)) AS chunk_idx
  FROM toks WHERE len(t) > 0
)
SELECT doc_id, chunk_idx::INT AS chunk_idx,
       array_to_string(t[chunk_idx*48 + 1 : chunk_idx*48 + 64], ' ') AS chunk,
       least(len(t) - chunk_idx*48, 64)::INT AS n_tokens
FROM idx
"""
)

_o("vector_quantized_topk")(
    """
WITH qe AS (
  SELECT vec_id, label,
         CASE WHEN m > 0
              THEN list_transform(embedding, x -> round(x::DOUBLE / m * 127))
              ELSE list_transform(embedding, x -> 0.0::DOUBLE) END AS qv
  FROM (SELECT vec_id, label, embedding,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS m
        FROM embeddings)
)
SELECT e.vec_id, e.label,
       round(list_cosine_similarity(e.qv, q.qv), 6) AS sim
FROM qe e, (SELECT qv FROM qe WHERE vec_id = 0) q
WHERE e.vec_id <> 0
ORDER BY sim DESC, e.vec_id LIMIT 20
"""
)

_o("vector_topk")(
    """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round(list_cosine_similarity(embedding::DOUBLE[], qv), 6) AS sim
FROM embeddings, q WHERE vec_id <> 0
ORDER BY sim DESC, vec_id ASC LIMIT 20
"""
)

_o("vector_knn_batch")(
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS sim,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                                     e.vec_id ASC) AS rn
  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5
)
SELECT query_id, rn, vec_id, sim FROM scored WHERE rn <= 5
"""
)

_o("vector_knn_batch_arrow")(
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS sim,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                                     e.vec_id ASC) AS rn
  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 5
)
SELECT query_id, rn, vec_id, sim FROM scored WHERE rn <= 5
"""
)

_o("vector_ann_ivf_batch")(
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS s,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                                     e.vec_id ASC) AS rn
  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3
)
SELECT query_id, vec_id, round(s, 6) AS sim FROM scored WHERE rn <= 5
"""
)

# same semantics, BLAS kernel — one oracle text, two physical paths
_o("vector_ann_ivf_arrow")(
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS s,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.qv) DESC,
                                     e.vec_id ASC) AS rn
  FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 3
)
SELECT query_id, vec_id, round(s, 6) AS sim FROM scored WHERE rn <= 5
"""
)

_o("vector_label_centroid_sim")(
    """
WITH ex AS (
  SELECT vec_id, label, unnest(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) - 1 AS i
  FROM embeddings
), per_label AS (
  SELECT label, i, avg(x) AS cx FROM ex GROUP BY label, i
), global_mean AS (
  SELECT i, avg(x) AS gx FROM ex GROUP BY i
)
SELECT label,
       round(sum(cx * gx) / (sqrt(sum(cx * cx)) * sqrt(sum(gx * gx))), 6)
         AS centroid_sim
FROM per_label JOIN global_mean USING (i)
GROUP BY label
"""
)

_o("kg_triples_documents")(
    """
WITH f AS (
  SELECT 'file:docs/d' || doc_id AS fid, coalesce(lang, 'text') AS lang, text
  FROM documents
)
SELECT 'repo:docs' AS subj, 'contains' AS pred, fid AS obj FROM f
UNION ALL
SELECT fid, 'in_lang', 'lang:' || lang FROM f
UNION ALL
SELECT fid, 'has_loc',
       'loc:' || (length(text) - length(replace(text, chr(10), '')) + 1) FROM f
"""
)

_o("graph_bfs_customers_in_region")(
    """
SELECT 'region:' || n_regionkey AS region_node,
       'cust:' || c_custkey AS customer_node
FROM nation JOIN customer ON c_nationkey = n_nationkey
"""
)

_o("graph_adjacent_names")(
    """
SELECT n_name,
       coalesce(array_to_string(list_sort(list(DISTINCT c_name)), '|'), '') AS neighbors,
       count(c_custkey) AS n_neighbors
FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_name
"""
)


_o("graph_summary_cosupply")(
    """
WITH pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM pairs UNION ALL SELECT b AS n FROM pairs)
  GROUP BY 1
), tri AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
), s AS (
  SELECT count(*)::BIGINT AS n_nodes,
         (sum(d) / 2)::BIGINT AS n_edges,
         round(avg(d), 6) AS avg_degree,
         max(d)::BIGINT AS max_degree,
         sum(d * (d - 1) / 2)::BIGINT AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, avg_degree, max_degree, n_triangles, n_wedges,
       round(CASE WHEN n_wedges > 0
                  THEN 3.0::DOUBLE * n_triangles / n_wedges
                  ELSE 0.0 END, 6) AS global_clustering
FROM s, tri
"""
)

_o("graph_wsssp_cosupply")(
    """
WITH RECURSIVE pw AS (
  SELECT l1.l_suppkey AS a, l2.l_suppkey AS b,
         count(DISTINCT l1.l_orderkey) AS c
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
  GROUP BY 1, 2
), e AS (
  SELECT a AS u, b AS v, 1.0::DOUBLE / c AS w FROM pw
  UNION ALL
  SELECT b, a, 1.0::DOUBLE / c FROM pw
), r AS (
  SELECT (SELECT min(a) FROM pw) AS node, 0.0::DOUBLE AS cost, 0 AS h
  UNION
  SELECT e.v, r.cost + e.w, r.h + 1 FROM r JOIN e ON r.node = e.u
  WHERE r.h < 4
)
SELECT node::BIGINT AS node, round(min(cost), 6) AS dist FROM r GROUP BY node
"""
)

_o("graph_clustering_cosupply")(
    """
WITH pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), tri AS (
  SELECT e1.a AS c0, e1.b AS c1, e2.b AS c2
  FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
), tcnt AS (
  SELECT n, count(*) AS t FROM (
    SELECT c0 AS n FROM tri
    UNION ALL SELECT c1 FROM tri
    UNION ALL SELECT c2 FROM tri)
  GROUP BY 1
), deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM pairs UNION ALL SELECT b AS n FROM pairs)
  GROUP BY 1
)
SELECT deg.n::BIGINT AS node, coalesce(t, 0)::BIGINT AS triangles,
       round(CASE WHEN d >= 2
                  THEN 2.0::DOUBLE * coalesce(t, 0) / (d * (d - 1))
                  ELSE 0.0 END, 6) AS lcc
FROM deg LEFT JOIN tcnt ON deg.n = tcnt.n
ORDER BY lcc DESC, node LIMIT 10
"""
)

_o("graph_betweenness_cosupply")(
    """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), e AS (
  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs
), nodes AS (
  SELECT DISTINCT n FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
), w AS (
  SELECT n AS s, n AS v, 0 AS d, 1.0::DOUBLE AS cnt FROM nodes
  UNION ALL
  SELECT w.s, e.v, w.d + 1, sum(w.cnt)
  FROM w JOIN e ON w.v = e.u
  WHERE w.d < 5
  GROUP BY 1, 2, 3
), sp AS (
  SELECT s, v, d, cnt FROM (
    SELECT s, v, d, cnt,
           row_number() OVER (PARTITION BY s, v ORDER BY d) AS rn
    FROM w) WHERE rn = 1
), dep AS (
  SELECT a.v AS v, sum(a.cnt * b.cnt / c.cnt) AS bc
  FROM sp a
  JOIN sp b ON a.v = b.s
  JOIN sp c ON c.s = a.s AND c.v = b.v
  WHERE a.s <> a.v AND b.v <> a.v AND a.s <> b.v AND a.d + b.d = c.d
  GROUP BY 1
)
SELECT n.n::BIGINT AS node,
       round(coalesce(dep.bc, 0) * 0.5, 6) AS betweenness
FROM nodes n LEFT JOIN dep ON n.n = dep.v
ORDER BY betweenness DESC, node LIMIT 10
"""
)

_o("graph_hits_cosupply")(
    """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), e AS (
  SELECT a AS s, b AS t FROM pairs
), nodes AS (
  -- NOT a bare UNION: under WITH RECURSIVE DuckDB treats a UNION-body
  -- CTE as seed/step and skips cross-branch dedup (measured: 193 rows
  -- from 100 nodes), which silently corrupts any SUM over it
  SELECT DISTINCT n FROM (SELECT s AS n FROM e UNION ALL SELECT t AS n FROM e)
), r AS (
  SELECT 0 AS it, n AS node, 1.0 / (SELECT count(*) FROM nodes) AS x
  FROM nodes
  UNION ALL
  SELECT it + 1, node,
         CASE WHEN sum(raw) OVER () > 0
              THEN raw / sum(raw) OVER () ELSE 0.0 END AS x
  FROM (
    SELECT nd.n AS node, min(p.it) AS it,
           sum(CASE WHEN (p.it % 2 = 0 AND ex.s = p.node AND ex.t = nd.n)
                      OR (p.it % 2 = 1 AND ex.t = p.node AND ex.s = nd.n)
               THEN p.x ELSE 0.0 END) AS raw
    FROM nodes nd
    CROSS JOIN r p
    LEFT JOIN e ex ON (ex.s = p.node AND ex.t = nd.n)
                   OR (ex.t = p.node AND ex.s = nd.n)
    GROUP BY nd.n
    HAVING min(p.it) < 20
  )
)
SELECT h.node::BIGINT AS node, round(h.x, 6) AS hub,
       round(a.x, 6) AS authority
FROM (SELECT node, x FROM r WHERE it = 20) h
JOIN (SELECT node, x FROM r WHERE it = 19) a ON h.node = a.node
ORDER BY authority DESC, node LIMIT 10
"""
)

_o("graph_closeness_cosupply")(
    """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), e AS (
  SELECT DISTINCT u, v FROM
    (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs)
), r AS (
  SELECT u AS source, u AS node, 0 AS d FROM (SELECT DISTINCT u FROM e)
  UNION
  SELECT r.source, e.v, r.d + 1 FROM r JOIN e ON r.node = e.u WHERE r.d < 20
), md AS (
  SELECT source, node, min(d) AS dist FROM r GROUP BY 1, 2
), agg AS (
  SELECT source, count(*) AS rch, sum(dist) AS sum_d FROM md GROUP BY 1
)
SELECT source::BIGINT AS node,
       round(CASE WHEN sum_d > 0 THEN (rch - 1)::DOUBLE / sum_d
                  ELSE 0.0 END, 6) AS closeness
FROM agg ORDER BY closeness DESC, node LIMIT 10
"""
)

_o("graph_walks_cosupply")(
    """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), e AS (
  SELECT DISTINCT u, v FROM
    (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs)
), seeds AS (
  SELECT u AS n FROM e GROUP BY u ORDER BY u LIMIT 5
), r AS (
  SELECT n AS walk_id, 0 AS step, n AS node FROM seeds
  UNION ALL
  SELECT r.walk_id, r.step + 1,
         (SELECT e.v FROM e WHERE e.u = r.node
          ORDER BY md5('w' || r.walk_id::VARCHAR || ':'
                       || (r.step + 1)::VARCHAR || ':' || e.v::VARCHAR),
                   e.v
          LIMIT 1)
  FROM r
  WHERE r.step < 4 AND EXISTS (SELECT 1 FROM e WHERE e.u = r.node)
)
SELECT walk_id::BIGINT AS walk_id, step::BIGINT AS step, node::BIGINT AS node
FROM r
"""
)

_o("graph_sssp_cosupply")(
    """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), e AS (
  SELECT DISTINCT u, v FROM
    (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs)
), r AS (
  SELECT (SELECT min(a) FROM pairs) AS node, 0 AS d
  UNION
  SELECT e.v, r.d + 1 FROM r JOIN e ON r.node = e.u WHERE r.d < 4
)
SELECT node::BIGINT AS node, min(d)::BIGINT AS dist FROM r GROUP BY node
"""
)

_o("graph_linkpred_cosupply")(
    """
WITH pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
), nb AS (
  SELECT a AS n, b AS z FROM pairs UNION ALL SELECT b, a FROM pairs
), deg AS (
  SELECT n, count(*) AS d FROM nb GROUP BY 1
), s AS (
  SELECT n1.n AS a, n2.n AS b, count(*) AS cn, sum(1.0 / ln(dz.d)) AS aa
  FROM nb n1
  JOIN nb n2 ON n1.z = n2.z AND n1.n < n2.n
  JOIN deg dz ON n1.z = dz.n
  GROUP BY 1, 2
), ne AS (
  SELECT s.* FROM s LEFT JOIN pairs e ON s.a = e.a AND s.b = e.b
  WHERE e.a IS NULL
)
SELECT ne.a, ne.b, cn::BIGINT AS common_neighbors,
       round(cn / (da.d + db.d - cn), 6) AS jaccard,
       round(aa, 6) AS adamic_adar
FROM ne JOIN deg da ON ne.a = da.n JOIN deg db ON ne.b = db.n
ORDER BY round(aa, 6) DESC, cn DESC, ne.a, ne.b LIMIT 20
"""
)

_o("graph_triangles_cosupply")(
    """
WITH pairs AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
)
SELECT count(*)::BIGINT AS n_triangles
FROM pairs e1
JOIN pairs e2 ON e1.b = e2.a
JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
"""
)

_o("graph_kcore_cosupply")(
    # fixed-round parallel peeling: round i+1 keeps nodes whose degree
    # WITHIN round i's surviving set is >= k; the k-core is the unique
    # fixpoint, reached long before round 30 on 51 nodes. Each
    # recursive reference sees the previous round's working table.
    """
WITH RECURSIVE
e AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 50 AND l2.l_quantity >= 50
),
ud AS (
  SELECT DISTINCT u, v FROM (
    SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
  ) WHERE u <> v
),
it(iter, node) AS (
  SELECT DISTINCT 0, u FROM ud
  UNION ALL
  SELECT r.iter + 1, r.node
  FROM it r
  JOIN (
    SELECT ud.u AS node, count(*) AS d
    FROM ud
    JOIN it a ON ud.u = a.node
    JOIN it b ON ud.v = b.node
    GROUP BY ud.u
  ) deg ON deg.node = r.node
  WHERE r.iter < 30 AND deg.d >= 2
)
SELECT node FROM it WHERE iter = 30
"""
)

_o("graph_degree_histogram_cosupply")(
    """
WITH e AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 50 AND l2.l_quantity >= 50
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM e WHERE a <> b
    UNION ALL SELECT b FROM e WHERE a <> b
  ) GROUP BY node
)
SELECT degree, count(*)::BIGINT AS n_nodes FROM deg GROUP BY degree
"""
)

_o("graph_pagerank_cosupply")(
    # Recursive-CTE power method, exact twin of graph_stats.pagerank
    # (damping .85, 10 iterations, uniform dangling-mass
    # redistribution). Inside WITH RECURSIVE DuckDB treats the bare
    # UNION of a helper CTE as UNION ALL, hence the explicit DISTINCT
    # for the node set. Each recursive reference sees the previous
    # iteration's working table only (verified empirically), so the
    # three references (iter scalar, dangling mass, contributions)
    # all read iteration i to produce i+1.
    """
WITH RECURSIVE
e AS (
  SELECT DISTINCT l1.l_suppkey AS s, l2.l_suppkey AS t
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
),
nodes AS (
  SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT t FROM e)
),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
outdeg AS (SELECT s, count(*)::DOUBLE AS od FROM e GROUP BY s),
links AS (SELECT e.s, e.t, od FROM e JOIN outdeg USING (s)),
it(iter, node, rank) AS (
  SELECT 0, node, 1.0 / (SELECT n FROM nn) FROM nodes
  UNION ALL
  SELECT r.iter + 1, n.node,
         (1 - 0.85) / (SELECT n FROM nn)
         + 0.85 * (d.m / (SELECT n FROM nn) + coalesce(c.contrib, 0.0))
  FROM nodes n
  CROSS JOIN (SELECT DISTINCT iter FROM it) r
  CROSS JOIN (
    SELECT coalesce(sum(rank), 0.0) AS m
    FROM it WHERE node NOT IN (SELECT s FROM outdeg)
  ) d
  LEFT JOIN (
    SELECT l.t AS node, sum(x.rank / l.od) AS contrib
    FROM it x JOIN links l ON x.node = l.s
    GROUP BY l.t
  ) c ON c.node = n.node
  WHERE r.iter < 10
)
SELECT node, round(rank, 6) AS rank
FROM it WHERE iter = 10
ORDER BY rank DESC, node ASC
LIMIT 10
"""
)

_o("graph_motif_varlen_reach")(
    # bounded-walk reachability: recursive (a, b, d) to depth 3 (the
    # recursive UNION dedups on the triple, so it terminates), keep
    # depths 2-3, drop pairs with a direct edge
    """
WITH RECURSIVE
e AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 50 AND l2.l_quantity >= 50
),
walk(a, b, d) AS (
  SELECT a, b, 1 FROM e
  UNION
  SELECT w.a, e.b, w.d + 1 FROM walk w JOIN e ON w.b = e.a WHERE w.d < 3
)
SELECT DISTINCT w.a, w.b
FROM walk w
WHERE w.d BETWEEN 2 AND 3
  AND NOT EXISTS (SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.b)
"""
)

_o("vector_ann_recall")(
    # fixed-point oracle: at n_probe = n_lists the probe is exactly
    # brute force, so recall is 1.0 by construction — the oracle
    # derives n_queries from the data and pins the fixed point
    """
SELECT 5 AS k, 8 AS n_probe,
       (SELECT count(*) FROM embeddings WHERE vec_id < 3)::BIGINT AS n_queries,
       1.0::DOUBLE AS recall
"""
)

_o("graph_lpa_cosupply")(
    # synchronous LPA replay: each recursive step recomputes every
    # node's vote from the PREVIOUS iteration's labels (working-table
    # semantics), most-frequent neighbor label, tie -> smaller label,
    # fixed 4 rounds — identical rules to graph_stats.label_propagation
    """
WITH RECURSIVE
e AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 50 AND l2.l_quantity >= 50
),
ud AS (
  SELECT DISTINCT u, v FROM (
    SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
  ) WHERE u <> v
),
it(iter, node, label) AS (
  SELECT 0, u, u FROM (SELECT DISTINCT u FROM ud)
  UNION ALL
  SELECT r.iter + 1, t.u, t.label
  FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY c DESC, label ASC) AS rn
    FROM (
      SELECT ud.u, it.label, count(*) AS c
      FROM ud JOIN it ON ud.v = it.node
      GROUP BY ud.u, it.label
    )
  ) t
  CROSS JOIN (SELECT DISTINCT iter FROM it) r
  WHERE t.rn = 1 AND r.iter < 4
)
SELECT node, label FROM it WHERE iter = 4
"""
)

_o("graph_ppr_cosupply")(
    # Same recursive-CTE power method as graph_pagerank_cosupply, with
    # the uniform teleport replaced by the seed restart vector p
    # (0.5 on each of the two lowest-id nodes): rank' =
    # (1-d)*p + d*(dangling_mass*p + contribs).
    """
WITH RECURSIVE
e AS (
  SELECT DISTINCT l1.l_suppkey AS s, l2.l_suppkey AS t
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
),
nodes AS (
  SELECT DISTINCT node FROM (SELECT s AS node FROM e UNION ALL SELECT t FROM e)
),
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 2),
p AS (
  -- ::DOUBLE is load-bearing: a bare 0.5 literal is DECIMAL(2,1), the
  -- initial term would fix it.rank to that type, and every rank in the
  -- recursion would silently quantize to one decimal place
  SELECT n.node,
         (CASE WHEN s.node IS NOT NULL THEN 0.5 ELSE 0.0 END)::DOUBLE AS p
  FROM nodes n LEFT JOIN seeds s ON n.node = s.node
),
outdeg AS (SELECT s, count(*)::DOUBLE AS od FROM e GROUP BY s),
links AS (SELECT e.s, e.t, od FROM e JOIN outdeg USING (s)),
it(iter, node, rank) AS (
  SELECT 0, node, p FROM p
  UNION ALL
  SELECT r.iter + 1, n.node,
         (1 - 0.85) * n.p
         + 0.85 * (d.m * n.p + coalesce(c.contrib, 0.0))
  FROM p n
  CROSS JOIN (SELECT DISTINCT iter FROM it) r
  CROSS JOIN (
    SELECT coalesce(sum(rank), 0.0) AS m
    FROM it WHERE node NOT IN (SELECT s FROM outdeg)
  ) d
  LEFT JOIN (
    SELECT l.t AS node, sum(x.rank / l.od) AS contrib
    FROM it x JOIN links l ON x.node = l.s
    GROUP BY l.t
  ) c ON c.node = n.node
  WHERE r.iter < 10
)
SELECT node, round(rank, 6) AS rank
FROM it WHERE iter = 10
ORDER BY rank DESC, node ASC
LIMIT 10
"""
)

_o("graph_components_cosupply")(
    # Reachability closure: reach(u, r) = r reachable from u over the
    # undirected edge set; min reachable node per node == component
    # canonical id (recursive UNION dedups, so the closure terminates).
    """
WITH RECURSIVE
e AS (
  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 50 AND l2.l_quantity >= 50
),
ud AS (
  SELECT DISTINCT u, v FROM (
    SELECT a AS u, b AS v FROM e UNION ALL SELECT b AS u, a AS v FROM e
  )
),
reach(u, r) AS (
  SELECT DISTINCT u, u FROM ud
  UNION
  SELECT ud.u, reach.r FROM ud JOIN reach ON ud.v = reach.u
)
SELECT u AS node_id, min(r) AS canonical_id FROM reach GROUP BY u
"""
)

_o("graph_motif_open_wedges")(
    """
WITH e AS (
  SELECT DISTINCT l1.l_suppkey AS src, l2.l_suppkey AS dst
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l2.l_quantity >= 45
)
SELECT w1.dst AS b, count(*)::BIGINT AS n_open
FROM e w1 JOIN e w2 ON w2.src = w1.dst AND w1.src <> w2.dst
WHERE NOT EXISTS (
  SELECT 1 FROM e n WHERE n.src = w1.src AND n.dst = w2.dst
)
GROUP BY w1.dst
ORDER BY n_open DESC, b ASC
LIMIT 10
"""
)

_o("graph_motif_typed_paths")(
    """
WITH top AS (
  SELECT DISTINCT l1.l_suppkey AS src, l2.l_suppkey AS dst
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 50 AND l2.l_quantity >= 50
), high AS (
  SELECT DISTINCT l1.l_suppkey AS src, l2.l_suppkey AS dst
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
  WHERE l1.l_quantity >= 45 AND l1.l_quantity < 50
    AND l2.l_quantity >= 45 AND l2.l_quantity < 50
)
SELECT t.dst AS b, count(*)::BIGINT AS n_paths
FROM top t JOIN high h ON h.src = t.dst
GROUP BY t.dst
ORDER BY n_paths DESC, b ASC
LIMIT 10
"""
)

_o("graph_adjacent_names_salted")(
    """
SELECT n_name,
       array_to_string(list_sort(list(DISTINCT c_name)), '|') AS neighbors,
       count(DISTINCT c_name)::BIGINT AS n_distinct
FROM nation JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_name
"""
)

# Multimodal codec gates: the Spark side runs the REAL codecs
# (encode_ppm→decode_ppm etc., distributed); the oracle states the
# closed-form arithmetic the decoded statistics must equal (solid color
# ⇒ channel means = planted color; DC PCM ⇒ rms = v/32768 bit-exact;
# luma ramp ⇒ motion = 1). A single corrupted byte anywhere in a codec
# breaks the value hash.

_o("multimodal_image_stats")(
    """
SELECT doc_id,
       round((4 + doc_id % 13)::DOUBLE, 6) AS width,
       round((3 + doc_id % 7)::DOUBLE, 6) AS height,
       round((doc_id % 256)::DOUBLE, 6) AS mean_r,
       round((n_chars % 256)::DOUBLE, 6) AS mean_g,
       round(((doc_id * 7 + 3) % 256)::DOUBLE, 6) AS mean_b,
       0.0 AS luma_std,
       0.0 AS edge_energy,
       0.0 AS luma_entropy
FROM documents WHERE doc_id % 5 = 0
"""
)

_o("multimodal_audio_stats")(
    """
SELECT doc_id,
       round((100 + doc_id % 50) / 8000.0, 6) AS duration_s,
       round((doc_id % 1000) / 32768.0, 6) AS rms,
       0.0 AS zcr,
       0.0 AS centroid_hz,
       round((doc_id % 1000) / 32768.0, 6) AS peak
FROM documents WHERE doc_id % 7 = 0
"""
)

_o("multimodal_video_stats")(
    """
SELECT doc_id,
       round((2 + doc_id % 4) / 2.0, 6) AS duration_s,
       2.0 AS fps,
       round((2 + doc_id % 4)::DOUBLE, 6) AS n_frames,
       round((doc_id % 256) + (doc_id % 4 + 1) / 2.0, 6) AS mean_luma,
       1.0 AS motion
FROM documents WHERE doc_id % 11 = 0 AND doc_id % 256 < 248
"""
)


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: the construction pipeline in miniature over the
    documents corpus — scan → Arrow-batched triple extraction → per-doc
    aggregation → joined with quality scoring and exact-dedup signals.
    One DAG through the engine's three main layers (extraction,
    text-quality operators, dedup)."""
    from .operators.dedup import exact_dedup
    from .operators.text import quality_score

    triples = kg_triples_documents(spark, sf_dir)
    per_doc = (
        triples.where(F.col("subj").startswith("file:"))
        .groupBy(F.col("subj").alias("doc"))
        .agg(F.count("*").alias("n_triples"))
    )
    d = _docs(spark, sf_dir)
    quality = quality_score(d).select(
        F.concat(F.lit("file:docs/d"), F.col("doc_id").cast("string")).alias("doc"),
        "n_tokens",
        "quality",
    )
    dups = exact_dedup(d)
    dup_docs = (
        d.select("doc_id", F.md5("text").alias("content_hash"))
        .join(dups, "content_hash")
        .select(
            F.concat(F.lit("file:docs/d"), F.col("doc_id").cast("string")).alias("doc"),
            (F.col("n_dups") > 1).alias("is_dup"),
        )
    )
    return (
        per_doc.join(quality, "doc")
        .join(dup_docs, "doc")
        .orderBy(F.desc("quality"), F.asc("doc"))
        .limit(100)
    )
