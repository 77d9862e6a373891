"""Text-analysis operators for training-data pipelines.

All JVM-side column expressions (no UDFs in hot paths): language ID by
stopword-hit heuristic, quality scoring (length/punct/stopword ratios),
token counting (whitespace + BPE-ish sub-token regex), and document
fingerprinting (sorted-distinct-token digest). Each has an exact DuckDB
oracle (md5/array functions align across engines).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny per-language marker lexicons (deterministic heuristic; the
# testdata documents are synthetic word soup, so markers double as a
# verifiable closed vocabulary).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "des"],
}

# The 32 ASCII punctuation characters.
_PUNCT = "".join(
    chr(c) for c in (*range(33, 48), *range(58, 65), *range(91, 97), *range(123, 127))
)


def _tokens(text_col: str) -> F.Column:
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """n-gram/stopword heuristic: score = marker hits per language,
    predicted = argmax (ties → lexicographic smallest language)."""
    toks = _tokens(text_col)
    out = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out = out.withColumn(
            f"score_{lang}", F.size(F.array_intersect(F.array_distinct("toks"), arr))
        )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = None
    for l in reversed(langs):
        cond = F.when(F.col(f"score_{l}") == best, F.lit(l))
        pred = cond.otherwise(pred) if pred is not None else cond
    return out.select(
        "doc_id",
        *[F.col(f"score_{l}").alias(f"score_{l}") for l in langs],
        pred.alias("pred_lang"),
    )


def quality_exprs(text_col: str = "text") -> dict[str, F.Column]:
    """The quality features as raw column expressions, for use inside
    any projection or filter (quality_score is one). Composite score in
    [0, 1]:
        score = 0.4*min(n_tokens/64, 1)
              + 0.3*(1 - punct_ratio)
              + 0.3*min(stopword_ratio*5, 1)
    """
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    # punct count via translate (delete the 32 ASCII punct chars, take
    # the length drop): a single non-regex codegen pass. The previous
    # regexp_replace([^!-/:-@\[-`{-~], "") BUILT the punct-only string
    # through the regex engine per char — 13x slower on long docs
    # (5.97 -> 0.45s at ~8.7KB/doc), verified char-for-char equal
    punct = n_chars - F.length(F.translate(F.col(text_col), _PUNCT, ""))
    stop = F.array(*[F.lit(m) for ms in LANG_MARKERS.values() for m in ms])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop / F.greatest(n_tokens, F.lit(1))
    score = (
        F.lit(0.4) * F.least(n_tokens / F.lit(64.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "score": score,
    }


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features and
    the composite score (expressions in quality_exprs)."""
    e = quality_exprs(text_col)
    n_chars, punct_ratio, stop_ratio, score = (
        e["n_chars"], e["punct_ratio"], e["stop_ratio"], e["score"],
    )
    n_tokens = e["n_tokens"]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_count(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish sub-token count (split camel /
    alpha-num boundaries; ~chars/4 floor as a cheap LLM-token proxy)."""
    ws = F.size(_tokens(text_col))
    subtok = F.size(
        F.filter(
            F.split(
                F.regexp_replace(
                    F.col(text_col), r"([a-z])([A-Z])|([A-Za-z])([0-9])", r"$1$3 $2$4"
                ),
                r"[^A-Za-z0-9]+",
            ),
            lambda t: t != "",
        )
    )
    chars4 = F.ceil(F.length(F.col(text_col)) / F.lit(4.0)).cast("bigint")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        ws.alias("ws_tokens"),
        subtok.alias("sub_tokens"),
        chars4.alias("approx_llm_tokens"),
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """F9: sliding-window token chunking — doc → (doc_id, chunk_idx,
    chunk, n_tokens) rows, chunks of `size` tokens starting every
    `stride` (overlap = size - stride). The training-data shape of the
    reference's chunked serving output (dspy_inference.py:236-330),
    re-expressed as a 1→N row expansion: sequence + posexplode + slice,
    all JVM-side, no shuffle — chunk rows are born on the scan
    partitions that hold their documents.

    Whitespace-only documents produce zero chunks. A trailing window
    starting past the last token is never emitted; the final chunk may
    be shorter than `size`.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    n = F.size(toks)
    # chunk indexes: 0, 1, ... while idx*stride < n (empty doc → no rows;
    # NB sequence(1, 0) would count DOWN in Spark, hence the guard)
    idxs = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / stride).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            toks.alias("_toks"),
            F.explode(idxs).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.concat_ws(
                " ", F.slice("_toks", F.col("chunk_idx") * stride + 1, size)
            ).alias("chunk"),
            F.least(
                F.size("_toks") - F.col("chunk_idx") * stride, F.lit(size)
            ).alias("n_tokens"),
        )
    )


def token_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Corpus vocabulary statistics: per token, total frequency (tf),
    document frequency (df), and smoothed idf = ln((N+1)/(df+1)) + 1 —
    the table behind stopword lists, TF-IDF weighting, and tokenizer
    corpus analysis.

    Shuffle profile: Spark's two-phase distinct aggregation keys the
    first exchange on (tok, doc_id) — hot tokens ("the") spread across
    partitions before the per-token rollup, so token skew never
    concentrates on one reducer. N (doc count) is a driver scalar from
    a count-only scan."""
    n_docs = docs.count()
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(text_col)).alias("tok"),
    ).where(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .where(F.col("df") >= min_df)
        .withColumn(
            "idf",
            F.round(
                F.log((F.lit(float(n_docs)) + 1) / (F.col("df") + 1)) + 1, 6
            ),
        )
    )


def lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style LM quality proxy, self-trained: a Laplace-smoothed
    bigram language model estimated ON the corpus itself scores each
    document's average bigram log-probability —
        lnP(w2|w1) = ln((c(w1 w2) + 1) / (c(w1 ·) + V))
    (V = corpus vocabulary size, c(w1 ·) = bigram occurrences starting
    w1). Low avg_logprob ≈ high perplexity ≈ unusual/garbled text —
    the main quality dimension of CCNet's filtering, without any
    external model artifact. Deterministic, engine-reproducible.

    Scale shape: one bigram expansion feeds both the global count
    tables and the per-doc scoring rows; the scoring join keys on the
    bigram (then its context token) — corpus-derived LM tables are
    corpus-sized, so these are shuffle joins by design, never
    broadcasts. V is a 1-row driver scalar. Returns (doc_id,
    n_bigrams, avg_logprob) for docs with >= 1 bigram.
    """
    from .dedup import shingle_rows

    bg = shingle_rows(docs, text_col, id_col, n=2, distinct=False)
    bg = bg.withColumn("w1", F.split(F.col("g"), " ")[0]).localCheckpoint(
        eager=False
    )  # counts + contexts + scoring all read it
    v = (
        docs.select(F.explode(_tokens(text_col)).alias("t"))
        .where(F.col("t") != "")
        .select(F.countDistinct("t").alias("v"))
        .collect()[0]["v"]
    )
    bg_counts = bg.groupBy("g").agg(F.count("*").alias("c_bg"))
    ctx_counts = bg.groupBy("w1").agg(F.count("*").alias("c_ctx"))
    lp = F.log(
        (F.col("c_bg") + 1) / (F.col("c_ctx") + F.lit(float(v)))
    )
    # shuffle_hash: bg is corpus-scale, the count tables vocabulary-
    # scale — all stats-less; no-stats broadcast would OOM at scale
    return (
        bg.join(bg_counts.hint("shuffle_hash"), "g")
        .join(ctx_counts.hint("shuffle_hash"), "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k retrieval: rank documents by relevance to a
    literal term set — the lexical counterpart of cosine_topk, and the
    query-based corpus-curation screen ("find training docs about X")
    the embedding path can't do without a model.

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))

    Shuffle profile (the 100 TB shape): NO token explode and no
    token shuffle at all. One map-side projection computes per-doc
    length and each query term's tf from the token array in place;
    corpus stats (N, avgdl, per-term df) reduce to ONE 1-row
    aggregate whose Q+2 values return to the driver and enter the
    scoring expression as literals; the ranked read is a single
    TakeOrderedAndProject over the (lazily checkpointed) projection.
    Two narrow passes total, zero wide exchanges.
    """
    import math

    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # a query is a term SET here: duplicates would double-count a
    # term's contribution (and crash the index path's literal map)
    query_terms = list(dict.fromkeys(query_terms))
    toks = F.filter(_tokens(text_col), lambda t: t != "")

    def _match(term):
        # NB: a two-arg lambda in F.filter means (element, index) to
        # PySpark, so default-arg capture (lambda x, t=t: ...) silently
        # binds the INDEX — a real closure per term is required
        return lambda x: x == F.lit(term)

    proj = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).cast("double").alias("dl"),
        *[
            F.size(F.filter(toks, _match(t))).cast("double").alias(f"_tf{i}")
            for i, t in enumerate(query_terms)
        ],
    ).localCheckpoint(eager=False)  # stats pass + scoring pass
    stats = proj.agg(
        F.count("*").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    ).collect()[0]
    n, avgdl = stats["n"], float(stats["avgdl"] or 0.0)
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        df_t = stats[f"_df{i}"] or 0
        idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
        tf = F.col(f"_tf{i}")
        score = score + F.lit(idf) * tf * (k1 + 1.0) / (
            tf + F.lit(k1) * (1.0 - b + b * F.col("dl") / F.lit(avgdl or 1.0))
        )
    return (
        proj.withColumn("bm25", score)
        .where(F.col("bm25") > 0)
        .select("doc_id", F.round("bm25", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def profile_table(
    df: DataFrame, columns: list[str] | None = None, exact: bool = True
) -> DataFrame:
    """Column profile — (column_name, n_nulls, n_distinct, min_value,
    max_value) per column — the data-quality screen a pipeline runs
    before trusting a new source. ONE distributed aggregation computes
    every column's stats in a single pass; the 1×(4·k) result row is
    reshaped to k rows on the driver (k = column count, not data).

    exact=True uses count(DISTINCT) (oracle-reproducible); at 100 TB
    pass exact=False for approx_count_distinct (HLL sketch, one pass,
    no expand — no SQL oracle twin, ±2% by construction). min/max are
    computed on the native type, then rendered as strings (portable
    for int/string columns; float rendering is engine-specific)."""
    cols = columns or df.columns
    aggs = []
    for c in cols:
        distinct = (
            F.countDistinct(c) if exact else F.approx_count_distinct(c)
        )
        aggs += [
            # coalesce: sum over an EMPTY table is NULL, not 0
            F.coalesce(
                F.sum(F.col(c).isNull().cast("long")), F.lit(0)
            ).alias(f"{c}__nulls"),
            distinct.alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).collect()[0]
    out = [
        (c, row[f"{c}__nulls"], row[f"{c}__distinct"],
         row[f"{c}__min"], row[f"{c}__max"])
        for c in cols
    ]
    return df.sparkSession.createDataFrame(
        out,
        "column_name string, n_nulls long, n_distinct long, "
        "min_value string, max_value string",
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token list (Broder-sketch-lite; detects shuffled dupes)."""
    toks = F.array_sort(F.array_distinct(_tokens(text_col)))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(F.concat_ws(" ", toks)).alias("fingerprint"),
        F.size(toks).alias("vocab_size"),
    )


def linear_quality_score(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 16,
    intercept: float = 0.0,
    threshold: float = 0.5,
) -> DataFrame:
    """Score docs with a trained linear quality classifier over hashed
    bag-of-words features — the fastText/CCNet-style quality filter
    (GPT-3's "looks like reference corpus" screen) as pure DataFrame
    ops: no model runtime on the executors, just the exported weight
    table.

    features: x[bucket] = count of tokens hashing to bucket / n_tokens
    (L1-normalized term frequency); bucket = first 32 bits of
    md5(token) mod n_buckets — md5 so any engine (and the training
    job that exported the weights) reproduces the bucketing exactly.
    score = sigmoid(intercept + w · x); keep = score >= threshold.

    weights is a (bucket:bigint, weight:double) table — at most
    n_buckets rows, BROADCAST onto the exploded token stream (a
    trained hashed model is a few MB; never a shuffle side).  Tokens
    whose bucket has no weight row contribute 0, so a sparse export
    is fine.  One doc-keyed aggregation total.

    Returns (doc_id, n_tokens, quality_prob, keep).
    """
    from pyspark.sql.functions import broadcast

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(_tokens(text_col), lambda t: t != "")
        ).alias("tok"),
    ).withColumn(
        "bucket",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % F.lit(n_buckets),
    )
    w = weights.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("weight").cast("double").alias("weight"),
    )
    scored = (
        toks.join(broadcast(w), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("weight", F.lit(0.0))).alias("_wsum"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(
                        -(
                            F.lit(float(intercept))
                            + F.col("_wsum") / F.col("n_tokens")
                        )
                    )
                )
            ).alias("quality_prob"),
        )
    )
    # empty docs never reach the explode — left-join them back as the
    # intercept-only score
    base = docs.select(F.col(id_col).alias("doc_id"))
    sig0 = 1.0 / (1.0 + math.exp(-float(intercept)))
    out = base.join(scored, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
        F.coalesce("quality_prob", F.lit(sig0)).alias("quality_prob"),
    )
    return out.withColumn("keep", F.col("quality_prob") >= F.lit(float(threshold)))


def train_linear_classifier(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1 << 16,
    iters: int = 5,
    lr: float = 1.0,
    l2: float = 0.0,
) -> DataFrame:
    """Train the hashed linear quality classifier that
    linear_quality_score serves: full-batch logistic gradient descent
    over the SAME featurization (x[b] = token count / n_tokens, bucket
    = first 32 bits of md5(token) mod n_buckets), so the exported
    weights drop straight into the scorer. The intercept is trained as
    synthetic bucket -1 with x = 1 (returned as the bucket = -1 row;
    pass it to the scorer's ``intercept=``).

    Deterministic by construction — full-batch (no minibatch
    sampling), zero-initialized, fixed iteration count — so the same
    corpus always yields the same model, and a DuckDB oracle can
    replay the whole optimization as unrolled SQL.

    Update: w -= lr * (mean_d[(sigmoid(w·x_d) − y_d) · x_d] + l2·w).

    Scale shape: features are built ONCE (the corpus's only text pass)
    and localCheckpoint'd hash-partitioned by doc_id; each iteration
    is then (a) a broadcast join of the ≤ n_buckets-row weight table
    onto the feature rows with an exchange-free doc-keyed margin
    aggregation, and (b) a residual×feature join that is zipper-local
    (both sides pre-partitioned by doc_id, shuffle_hash — never a
    driver broadcast of a corpus-scale side) feeding one bounded
    (bucket, partial-grad) exchange. Weight state is re-checkpointed
    every round, so plan depth stays O(1) in iters — the pagerank
    pattern. Nothing corpus-scale ever broadcasts or collects.

    Returns (bucket:bigint, weight:double), bucket -1 = intercept.
    """
    from pyspark.sql.functions import broadcast

    if iters <= 0:
        raise ValueError("iters must be positive")
    if n_buckets <= 0:
        raise ValueError("n_buckets must be positive")
    if lr <= 0.0:
        raise ValueError("lr must be positive")
    if l2 < 0.0:
        raise ValueError("l2 must be non-negative")

    spark = labeled.sparkSession
    par = spark.sparkContext.defaultParallelism

    base = labeled.where(F.col(label_col).isNotNull()).select(
        # null labels are dropped up front: they would otherwise count
        # in n_docs but contribute null residuals, silently deflating
        # every gradient
        F.col(id_col).alias("doc_id"),
        F.col(label_col).cast("double").alias("y"),
        F.filter(_tokens(text_col), lambda t: t != "").alias("toks"),
    )
    toks = base.select(
        "doc_id",
        "y",
        F.size("toks").alias("n_tokens"),
        F.explode("toks").alias("tok"),  # tokenless docs keep intercept only
    )
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
        % F.lit(n_buckets)
    )
    tf = (
        toks.withColumn("b", bucket)
        .groupBy("doc_id", "y", "n_tokens", "b")
        .agg(F.count("*").alias("cnt"))
        .select(
            "doc_id", "y", "b",
            (F.col("cnt").cast("double") / F.col("n_tokens")).alias("x"),
        )
    )
    intercept_rows = base.select(
        "doc_id", "y", F.lit(-1).cast("bigint").alias("b"), F.lit(1.0).alias("x")
    )
    feats = (
        tf.unionByName(intercept_rows)
        .repartition(par, "doc_id")
        .localCheckpoint(eager=True)
    )
    n_docs = feats.where(F.col("b") == -1).count()
    if n_docs == 0:
        return spark.createDataFrame([], "bucket bigint, weight double")

    w = (
        feats.select("b").distinct()
        .select("b", F.lit(0.0).alias("w"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        margins = (
            feats.join(broadcast(w), "b", "left")
            .groupBy("doc_id")
            .agg(
                F.first("y").alias("y"),
                F.sum(F.col("x") * F.coalesce("w", F.lit(0.0))).alias("m"),
            )
            .select(
                "doc_id",
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))) - F.col("y")
                ).alias("r"),
            )
        )
        grads = (
            feats.join(margins.hint("shuffle_hash"), "doc_id")
            .groupBy("b")
            .agg((F.sum(F.col("r") * F.col("x")) / F.lit(float(n_docs))).alias("g"))
        )
        w = (
            w.join(broadcast(grads), "b", "left")
            .select(
                "b",
                (
                    F.col("w")
                    - F.lit(float(lr))
                    * (F.coalesce("g", F.lit(0.0)) + F.lit(float(l2)) * F.col("w"))
                ).alias("w"),
            )
            .localCheckpoint(eager=True)
        )
    return w.select(F.col("b").alias("bucket"), F.col("w").alias("weight"))
