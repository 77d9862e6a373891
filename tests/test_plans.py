"""Plan-regression tests: the physical properties the 100 TB design
depends on, asserted per query (plans/audit.py). A green result with a
regressed plan fails HERE, not in production."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from datacapsule_spark.plans.audit import assert_plan, explain_report
from datacapsule_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_q1_pushdown_and_pruning(spark):
    # filter reaches the lineitem scan; only 6 of 11 columns read
    assert_plan(
        QUERIES["q1_pricing_summary"](spark, SF),
        pushed_filters=True,
        max_scan_columns=6,
    )


def test_q3_broadcasts_and_topk(spark):
    assert_plan(
        QUERIES["q3_top_orders"](spark, SF),
        pushed_filters=True,
        broadcast_joins_at_least=1,
        take_ordered=True,
    )


def test_vector_topk_single_scan_topk(spark):
    r = assert_plan(
        QUERIES["vector_topk"](spark, SF),
        pushed_filters=True,
        take_ordered=True,
        max_scan_columns=3,
    )
    assert r.sort_merge_joins == 0  # no join at all: scan → project → topk


def test_filter_valid_events_full_pushdown(spark):
    r = assert_plan(
        QUERIES["filter_valid_events"](spark, SF),
        pushed_filters=True,
        max_scan_columns=3,
        max_exchanges=0,  # pure scan+filter+project: no shuffle at all
    )
    assert r.wholestage_codegen >= 1


def test_extraction_plan_has_no_preshuffle(spark, smoke_repos):
    from datacapsule_spark.extract import extract_triples

    r = explain_report(extract_triples(smoke_repos))
    # stateless map on scan partitions: zero exchanges before python
    assert r.exchanges == 0, r.text
    assert "MapInPandas" in r.text


def test_canonical_rewrite_broadcasts(spark, smoke_repos):
    from datacapsule_spark.canonicalize import apply_canonical
    from datacapsule_spark.extract import extract_triples

    mapping = spark.createDataFrame(
        [("sym:a", "sym:b")], "node_id string, canonical_id string"
    )
    out = apply_canonical(extract_triples(smoke_repos), mapping, ["subj", "obj"])
    r = explain_report(out)
    assert r.broadcast_joins == 2, r.text
    assert r.sort_merge_joins == 0, r.text


def test_docs_no_gratuitous_repartition(spark, tmp_path):
    """_docs must not shuffle a corpus that already has >= cluster
    parallelism input splits (VERDICT r01: the unconditional repartition
    encoded a full corpus shuffle into every documents query)."""
    from pyspark.sql import functions as F

    from datacapsule_spark.queries import _docs

    par = spark.sparkContext.defaultParallelism
    src = spark.read.parquet(f"{SF}/documents.parquet")
    wide_dir = str(tmp_path / "docs_wide")
    src.repartition(par * 2).write.parquet(f"{wide_dir}/documents.parquet")
    d = _docs(spark, wide_dir)
    r = explain_report(d.select(F.length("text").alias("n")))
    assert r.exchanges == 0, r.text
    # and the single-split testdata layout still gets spread
    narrow = _docs(spark, SF)
    assert narrow.rdd.getNumPartitions() >= par


def test_text_chunks_shuffle_free_on_wide_input(spark, tmp_path):
    """Chunking is a 1→N row expansion born on the scan partitions —
    with enough input splits the plan must carry ZERO exchanges."""
    from pyspark.sql import functions as F

    from datacapsule_spark.queries import QUERIES

    par = spark.sparkContext.defaultParallelism
    wide_dir = str(tmp_path / "chunks_wide")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(par * 2).write.parquet(
        f"{wide_dir}/documents.parquet"
    )
    r = explain_report(QUERIES["text_chunks"](spark, wide_dir))
    assert r.exchanges == 0, r.text


def test_embedding_dedup_default_no_nested_loop(spark):
    """The DEFAULT embedding-dedup path must not contain the all-pairs
    nested-loop/cartesian shape (VERDICT r01 'What's wrong' #1) — the
    only joins are the (table, bucket)-keyed self-join and the two
    id-keyed vector fetches."""
    from pyspark.sql import functions as F

    from datacapsule_spark.operators.dedup import embedding_cosine_pairs

    e = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    r = explain_report(embedding_cosine_pairs(e, threshold=0.9))
    assert r.nested_loop_joins == 0, r.text
    assert r.cartesian_products == 0, r.text
    # and the exact opt-in IS the nested-loop shape (the escape hatch)
    r2 = explain_report(embedding_cosine_pairs(e, threshold=0.9, exact=True))
    assert r2.nested_loop_joins + r2.cartesian_products >= 1, r2.text


def test_jaccard_gate_never_broadcasts_gram_table(spark):
    """ngram_jaccard_pairs' intersection joins must be SHUFFLED hash
    joins: the gram table comes off a localCheckpoint (no stats), and
    Catalyst's fallback size guess used to BROADCAST the multi-million-
    row gram table on both joins (two ~200MB driver-built hash
    relations, 15s for a join whose shuffle form is ~2s at 50k files;
    unbounded at scale). The only broadcastable inputs here are the
    pair-derived sides."""
    from datacapsule_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(minhash_signatures(d))
    r = explain_report(ngram_jaccard_pairs(d, pairs, threshold=0.5))
    assert r.shuffled_hash_joins >= 2, r.text
    assert r.cartesian_products == 0, r.text
    assert r.nested_loop_joins == 0, r.text


def test_minhash_signature_single_shuffle(spark):
    """shingle→signature must run on ONE shuffle: the window partitions
    by doc_id and the min-aggregate is duplicate-invariant, so neither a
    pre-distinct nor a re-exchange before groupBy(doc_id) is allowed."""
    from datacapsule_spark.operators.dedup import minhash_signatures

    d = spark.read.parquet(f"{SF}/documents.parquet")
    r = explain_report(minhash_signatures(d))
    assert r.exchanges == 1, r.text


def test_simhash_pairs_banded_join_no_cartesian(spark):
    """The hamming-pairing candidate generator must be a keyed
    (block, value) equi-join — never a cartesian/nested-loop all-pairs
    — and the popcount verify stays codegen'd (no Python on data)."""
    from datacapsule_spark.operators.dedup import simhash_pairs

    fps = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.xxhash64("id").bitwiseAND(F.lit((1 << 60) - 1)).alias("simhash"),
    )
    r = explain_report(simhash_pairs(fps, max_hamming=3))
    assert r.cartesian_products == 0, r.text
    assert r.nested_loop_joins == 0, r.text
    # the banded self-join must be the SHUFFLED hash join: both sides
    # are corpus-scale, so the old no-stats broadcast was an OOM at
    # scale (r06 broadcast-hazard sweep)
    assert r.shuffled_hash_joins >= 1, r.text


def test_motif_connected_pattern_no_cartesian(spark):
    """A connected motif must compile to keyed equi-joins + anti-join —
    no CartesianProduct / nested loop anywhere in the chain."""
    r = explain_report(QUERIES["graph_motif_open_wedges"](spark, SF))
    assert r.cartesian_products == 0, r.text
    assert r.nested_loop_joins == 0, r.text


def test_motif_varlen_reach_no_cartesian(spark):
    """The bounded-reachability closure and the anti-join it feeds must
    stay keyed joins — no CartesianProduct / nested loop even with the
    per-level dedup'd self-joins."""
    r = explain_report(QUERIES["graph_motif_varlen_reach"](spark, SF))
    assert r.cartesian_products == 0, r.text
    assert r.nested_loop_joins == 0, r.text


def test_personalized_pagerank_plan_depth_constant(spark):
    """The iterative loops' load-bearing plan property: after any
    number of rounds the RETURNED plan is a single checkpoint scan
    (zero exchanges, no join tower) — the eager localCheckpoint
    truncation that lets 20 rounds run on a 10^9-edge graph without a
    20-level plan. Checked for PPR and (same machinery) pagerank."""
    from datacapsule_spark.operators.graph_stats import (
        pagerank,
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 23) for i in range(40)], "src long, dst long"
    )
    for df in (
        personalized_pagerank(edges, [0, 1], max_iter=3),
        pagerank(edges, max_iter=3),
    ):
        r = explain_report(df)
        assert r.exchanges == 0, r.text
        assert "Scan ExistingRDD" in r.text, r.text
    """The global df-filtered boilerplate set must come back as a
    BROADCAST join — the corpus-sized segment table is never
    re-shuffled for the strip."""
    r = explain_report(QUERIES["curation_boilerplate_strip"](spark, SF))
    assert r.broadcast_joins >= 1, r.text
    assert r.sort_merge_joins == 0, r.text


def test_decontaminate_broadcasts_benchmark(spark):
    r = explain_report(QUERIES["curation_decontaminate"](spark, SF))
    assert r.broadcast_joins >= 1, r.text
    assert r.cartesian_products == 0, r.text


def test_sample_by_hash_no_shuffle(spark, tmp_path):
    """Hash sampling is a pure filter: with enough input splits the
    plan carries ZERO exchanges."""
    from pyspark.sql import functions as F

    from datacapsule_spark.operators.curation import sample_by_hash

    par = spark.sparkContext.defaultParallelism
    wide_dir = str(tmp_path / "sample_wide")
    spark.read.parquet(f"{SF}/documents.parquet").repartition(par * 2).write.parquet(
        wide_dir
    )
    d = spark.read.parquet(wide_dir)
    r = explain_report(sample_by_hash(d, 0.25, "doc_id", "s1").select("doc_id"))
    assert r.exchanges == 0, r.text


def test_ivf_partitioned_probe_prunes(spark, tmp_path):
    """The IVF layout's point at 100 TB: written partitioned by
    list_id, a probe's list_id IN (...) predicate must become a
    PARTITION filter on the scan — only n_probe of n_lists partitions
    are read."""
    from pyspark.sql import functions as F

    from datacapsule_spark.vectorize import ivf_index, ivf_topk

    e = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        .withColumnRenamed("vec_id", "id")
    )
    indexed, cents = ivf_index(e, n_lists=8)
    path = str(tmp_path / "ivf_idx")
    indexed.write.partitionBy("list_id").parquet(path)
    idx = spark.read.parquet(path)
    q = e.where(F.col("id") == 0).first()["embedding"]
    df = ivf_topk(idx, cents, q, k=5, n_probe=2)
    r = explain_report(df)
    m = __import__("re").search(r"PartitionFilters: \[([^\]]*list_id[^\]]*)\]", r.text)
    assert m, r.text  # the probe predicate reached partition pruning
    assert df.count() == 5

    # batched path: the bounded probed-lists isin prefilter must reach
    # partition pruning the same way (a broadcast join on list_id alone
    # would scan every partition)
    from datacapsule_spark.vectorize import ivf_topk_batch

    queries = (
        e.where(F.col("id") < 2)
        .select(F.col("id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    bdf = ivf_topk_batch(idx, cents, queries, k=5, n_probe=2)
    rb = explain_report(bdf)
    mb = __import__("re").search(
        r"PartitionFilters: \[([^\]]*list_id[^\]]*)\]", rb.text
    )
    assert mb, rb.text
    assert bdf.count() == 10


def test_bm25_no_token_explode(spark):
    """bm25_topk's defining plan property: per-doc tf/dl come from the
    token ARRAY map-side — no Generate (explode) node, no join, and the
    ranked read is a TakeOrderedAndProject."""
    r = explain_report(QUERIES["text_bm25_topk"](spark, SF))
    assert "Generate" not in r.text, r.text  # no explode anywhere
    assert r.sort_merge_joins + r.broadcast_joins == 0, r.text
    assert "TakeOrderedAndProject" in r.text, r.text


def test_bm25_index_prunes_bucket_partitions(spark, tmp_path):
    """The inverted-index layout's point: a query's postings scan must
    carry a bucket PartitionFilter — only the query terms' partitions
    are read, never the whole index."""
    from datacapsule_spark.operators.retrieval import (
        bm25_index_topk,
        build_bm25_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    idx = str(tmp_path / "bm25_idx")
    build_bm25_index(docs, idx, n_buckets=16)
    df = bm25_index_topk(spark, idx, ["spark", "join"], k=5)
    r = explain_report(df)
    m = __import__("re").search(
        r"PartitionFilters: \[([^\]]*bucket[^\]]*)\]", r.text
    )
    assert m, r.text
    assert df.count() == 5


def test_funnel_no_window_over_stream(spark):
    """funnel_counts must stay k bounded user-keyed aggregations —
    never a Window over the full event stream and never a sort-merge
    join (frontiers are small: broadcast)."""
    r = explain_report(QUERIES["events_funnel"](spark, SF))
    assert "Window" not in r.text, r.text
    assert r.cartesian_products == 0, r.text
    # the per-user row form shares the frontier chain and the property
    ru = explain_report(QUERIES["events_funnel_users"](spark, SF))
    assert "Window" not in ru.text, ru.text
    assert ru.cartesian_products == 0, ru.text


def test_temperature_mix_broadcast_rates(spark):
    """temperature_mix filters the corpus in place: the per-source
    rates dim joins back via BroadcastExchange; the corpus itself is
    never exchanged for the join (no sort-merge join)."""
    r = explain_report(QUERIES["curation_temperature_mix"](spark, SF))
    assert "BroadcastExchange" in r.text, r.text
    assert r.sort_merge_joins == 0, r.text


def test_corpus_balance_broadcasts_total(spark):
    """The corpus total joins back as a BROADCAST 1-row aggregate (a
    keyless cross join compiles to BroadcastNestedLoopJoin of the
    1-row side — the cheap shape) — never a sort-merge join or a
    whole-corpus window."""
    r = explain_report(QUERIES["corpus_balance_report"](spark, SF))
    assert "BroadcastExchange" in r.text, r.text
    assert r.nested_loop_joins == 1, r.text
    assert r.sort_merge_joins == 0, r.text
    assert r.cartesian_products == 0, r.text


def test_pack_sequences_single_exchange(spark):
    """Packing shuffles once on the partition column (the window), then
    aggregates on a superset key — no second exchange."""
    r = explain_report(QUERIES["pack_docs_sequences"](spark, SF))
    assert r.exchanges == 1, r.text


def test_read_repos_contract(spark, smoke_corpus_path, smoke_repos, tmp_path, monkeypatch):
    from datacapsule_spark.sources.repos import read_repos

    df = read_repos(spark, smoke_corpus_path)
    assert set(df.columns) == {"repo", "path", "commit", "lang", "content"}
    with pytest.raises(Exception):
        read_repos(spark, "/root/testdata/sf0.001/events.parquet")
    # neither a dot in a directory path nor a bare relative directory
    # name is a catalog identifier
    src = tmp_path / "a.d" / "repos"
    smoke_repos.limit(5).write.parquet(str(src))
    assert read_repos(spark, str(src)).count() == 5
    monkeypatch.chdir(src.parent)
    assert read_repos(spark, "repos").count() == 5


def test_latest_per_user_single_window_exchange(spark):
    """SCD read: exactly the window's key shuffle — no global sort, no
    second exchange for the rank filter."""
    r = explain_report(QUERIES["latest_events_per_user"](spark, SF))
    assert r.exchanges == 1, r.text
    assert "TakeOrdered" not in r.text  # per-key partial sort, not global


def test_table_diff_query_no_cartesian(spark):
    """Snapshot diff: hash-compare full-outer join on the key — never a
    nested-loop/cartesian, payload reduced to md5 below the exchanges."""
    r = explain_report(QUERIES["diff_orders_snapshots"](spark, SF))
    assert r.cartesian_products == 0 and r.nested_loop_joins == 0, r.text
    assert r.exchanges <= 2, r.text


def test_skew_report_median_broadcast(spark):
    """The 1-row median joins back broadcast — the per-key count table
    is never re-shuffled against it."""
    r = explain_report(QUERIES["skew_report_events"](spark, SF))
    assert "BroadcastExchange" in r.text, r.text
    assert r.sort_merge_joins == 0 and r.cartesian_products == 0, r.text


def test_quality_classifier_broadcasts_weights(spark):
    # the exported model table must never be a shuffle side
    assert_plan(
        QUERIES["text_quality_classifier"](spark, SF),
        broadcast_joins_at_least=1,
        max_scan_columns=2,
    )


def test_linkpred_no_cartesian_pruned_scan(spark):
    # the edge set sits behind a localCheckpoint (Scan ExistingRDD in
    # the final plan), so pushdown is asserted on the edge-builder plan
    # and the final plan is pinned join-safe (no cartesian — default)
    from datacapsule_spark.queries import _cosupply_pairs

    assert_plan(
        _cosupply_pairs(spark, SF), pushed_filters=True, max_scan_columns=3
    )
    assert_plan(QUERIES["graph_linkpred_cosupply"](spark, SF))


def test_repetition_report_pruned_scan(spark):
    # five doc-keyed unit streams, each reading only (doc_id, text);
    # r07: top-gram is min_by aggregation — a window here would shuffle
    # AND sort the corpus-scale gram-count table once per n
    r = assert_plan(
        QUERIES["text_repetition_report"](spark, SF),
        max_scan_columns=2,
    )
    assert r.windows == 0, r.text


def test_argmin_round_bodies_window_free(spark):
    """r07: per-key argmin/argmax picks inside iterative operators
    (LPA's majority vote, random_walks' successor) must be min_by
    aggregation, never a row_number window — the window re-shuffles
    and sorts the full vote/candidate table EVERY round. Final plans
    only show the last checkpoint scan, so capture each round body at
    its localCheckpoint (the bench/plan_dump.py interception: patch
    the classic DataFrame — the base class's methods never run on
    Spark 4)."""
    from pyspark.sql.classic.dataframe import DataFrame as CDF

    captured = []
    orig = CDF.localCheckpoint

    def capturing(self, *args, **kwargs):
        captured.append(explain_report(self))
        return orig(self, *args, **kwargs)

    CDF.localCheckpoint = capturing
    try:
        QUERIES["graph_lpa_cosupply"](spark, SF)
        QUERIES["graph_walks_cosupply"](spark, SF)
    finally:
        CDF.localCheckpoint = orig
    assert captured
    bad = [c.text for c in captured if c.windows]
    assert not bad, "\n".join(bad)


def test_tokenizer_pairs_topk_and_pruning(spark):
    # corpus→vocab fold ends in TakeOrderedAndProject; scan reads text
    # (+ doc_id — _docs' single-file spread repartitions on it)
    assert_plan(
        QUERIES["tokenizer_top_pairs"](spark, SF),
        take_ordered=True,
        max_scan_columns=2,
    )


def test_duplicate_spans_shuffled_join_no_broadcast(spark):
    """duplicate_spans' join-back of the duplicated-fingerprint set
    onto the window table has BOTH sides corpus-scale and checkpoint-
    free of stats — it must be a ShuffledHashJoin, never a fallback
    driver broadcast, and duplicate detection must be a hash AGGREGATE
    (map-side combining), not a count-over-window sort."""
    from datacapsule_spark.operators.dedup import duplicate_spans

    d = spark.read.parquet(f"{SF}/documents.parquet")
    r = explain_report(duplicate_spans(d, min_len=4))
    assert r.shuffled_hash_joins >= 1, r.text
    assert r.broadcast_joins == 0, r.text
    assert r.cartesian_products == 0 and r.nested_loop_joins == 0, r.text


def test_dsir_bounded_broadcasts_only(spark):
    """dsir_select: the ≤n_buckets-row log-ratio table and the 1-row
    totals broadcast (bounded by construction); the corpus-scale
    per-doc weight join must be a ShuffledHashJoin."""
    from datacapsule_spark.operators.curation import dsir_select

    d = spark.read.parquet(f"{SF}/documents.parquet")
    r = explain_report(dsir_select(d, d.where(F.col("lang") == "en"), k=10))
    assert r.shuffled_hash_joins >= 1, r.text
    assert r.broadcast_joins >= 1, r.text  # the bounded ratio table
    # exactly two 1-row folds (q-total × p-total, ratio × totals); a
    # third would mean an unbounded side slipped into a BNLJ
    assert r.nested_loop_joins <= 2, r.text
    assert r.cartesian_products == 0, r.text
    assert r.take_ordered == 1, r.text  # top-k never a global sort


def test_trainer_plan_depth_constant(spark):
    """Like pagerank: the trainer's returned weight table is a single
    checkpoint scan after any number of GD rounds — no join tower,
    zero exchanges (per-round join hints live inside the executed
    rounds, same machinery as the pagerank sweep)."""
    from datacapsule_spark.operators.text import train_linear_classifier

    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text", (F.col("lang") == "en").cast("int").alias("label"))
    )
    r = explain_report(train_linear_classifier(d, n_buckets=64, iters=3))
    assert r.exchanges == 0, r.text
    assert "Scan ExistingRDD" in r.text, r.text


def test_hyperball_round_plan_shape(spark):
    """The per-radius neighborhood-function aggregates scan checkpointed
    counter state: no join tower, no broadcast of anything (there is no
    bounded side in this operator), one exchange per radius for the
    node-keyed estimate aggregation."""
    from datacapsule_spark.operators.graph_stats import hyperball

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(i + 1, i) for i in range(30)],
        "a long, b long",
    )
    r = explain_report(hyperball(e, m=16, max_radius=2, early_stop=False))
    assert r.broadcast_joins == 0, r.text
    assert r.sort_merge_joins == 0 and r.shuffled_hash_joins == 0, r.text
    assert r.cartesian_products == 0 and r.nested_loop_joins == 0, r.text
    assert "Scan ExistingRDD" in r.text, r.text


class _TierGateScan(ast.NodeVisitor):
    """Tier sizing outside the gate in one module: an ordering comparison
    on a ``.count()`` (or on a name bound to one in the same function)
    that is not the test of an input guard (an ``if`` whose body only
    raises), and every ``.limit(<n> + 1)``."""

    ORDER = (ast.Lt, ast.LtE, ast.Gt, ast.GtE)

    def __init__(self, module: str):
        self.module, self.scope, self.counted, self.hits = module, ["<module>"], [set()], []
        self.guards: set[int] = set()

    @staticmethod
    def _is_count(node) -> bool:
        return (isinstance(node, ast.Call) and not node.args
                and isinstance(node.func, ast.Attribute) and node.func.attr == "count")

    def _hit(self, node, what: str) -> None:
        self.hits.append((self.module, self.scope[-1], node.lineno, what))

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.counted.append(set())
        self.generic_visit(node)
        self.scope.pop()
        self.counted.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Assign(self, node):
        if self._is_count(node.value):
            self.counted[-1].update(t.id for t in node.targets if isinstance(t, ast.Name))
        self.generic_visit(node)

    def visit_If(self, node):
        if all(isinstance(s, ast.Raise) for s in node.body):
            self.guards.add(id(node.test))
        self.generic_visit(node)

    def visit_Compare(self, node):
        sides = [node.left, *node.comparators]
        if (id(node) not in self.guards and any(isinstance(o, self.ORDER) for o in node.ops)
                and any(self._is_count(s) or (isinstance(s, ast.Name) and s.id in self.counted[-1])
                        for s in sides)):
            self._hit(node, ast.unparse(node))
        self.generic_visit(node)

    def visit_Call(self, node):
        if (isinstance(node.func, ast.Attribute) and node.func.attr == "limit" and node.args
                and isinstance(arg := node.args[0], ast.BinOp) and isinstance(arg.op, ast.Add)
                and any(isinstance(s, ast.Constant) and s.value == 1
                        for s in (arg.left, arg.right))):
            self._hit(node, ast.unparse(arg))
        self.generic_visit(node)


def tier_gate_violations(package: pathlib.Path) -> list[tuple]:
    """(module, function, line, code) of every tier sized outside
    ``canonicalize.collect_capped``; api._spark_rows' result cut at
    MAX_SQL_ROWS + 1 is not a tier and is allowed."""
    allowed = {("canonicalize.py", "collect_capped"), ("api.py", "_spark_rows")}
    hits = []
    for path in sorted(package.rglob("*.py")):
        scan = _TierGateScan(path.relative_to(package).as_posix())
        scan.visit(ast.parse(path.read_text(encoding="utf-8")))
        hits += [h for h in scan.hits if h[:2] not in allowed
                 or (h[1] == "_spark_rows" and h[3] != "MAX_SQL_ROWS + 1")]
    return hits


def test_every_tier_goes_through_one_gate():
    """Every driver-or-Spark choice is one capped Arrow collect
    (canonicalize.collect_capped): no module sizes a tier with a count()
    against a threshold or caps a frame with its own limit(n + 1)."""
    import datacapsule_spark

    assert tier_gate_violations(pathlib.Path(datacapsule_spark.__file__).parent) == []
