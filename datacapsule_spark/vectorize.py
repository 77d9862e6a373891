"""Graph vectorization + distributed cosine top-k (SURVEY.md G6, G7, F10).

Replaces the reference's in-RAM JSON vector store + O(N) python loop
(nanovector_db.py:11-110) with DataFrame-native scoring:

- descriptor strings built with concat_ws (deterministic embedding
  input, mirrors react_tools.py:245-267),
- deterministic hash-embeddings (FIXTURES F6) via an Arrow-batched
  pandas iterator — the stand-in for the remote embedding API
  (react_tools.py:72-78, MAX_BATCH_SIZE batching),
- brute-force cosine top-k with filter → rank → limit. The reference
  applies the type filter AFTER k=100 truncation (react_tools.py:
  313-316) which can under-return; we filter first (documented
  semantic fix, SURVEY §2.8 G7).

Scale path: the scoring is a JVM-side higher-order-function reduction
(zip_with + aggregate) — no Python in the hot loop; top-k compiles to
TakeOrderedAndProject (no global sort). `hyperplane_signatures`
(random-hyperplane bucket ids) is the blocking key of
`dedup.embedding_cosine_pairs`.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .canonicalize import collect_capped

EMBED_DIM = 64

# kernel="auto" picks the Arrow/BLAS scoring kernel at or above this
# vector width (bench/vector1024.py: the JVM HOF fold is 22x slower at
# dim 1024 and wins below ~dim 64; the crossover sits between)
AUTO_KERNEL_DIM = 128

# the batch kernels collect the QUERY set to the driver through the tier
# gate, capped here (read at call time): a corpus-sized "queries" frame is
# an actionable error, not a driver OOM (VERDICT r06 #6)
MAX_DRIVER_QUERIES = 100_000
_TOO_MANY_QUERIES = (
    "query set exceeds max_queries (vectorize.MAX_DRIVER_QUERIES = {}): "
    "the batch kernels ship queries to the driver. Use cosine_topk_batch "
    "(broadcast join) or a chunked loop, or raise the limit."
)


# ------------------------------------------------------- descriptors (G6)

def node_descriptors(nodes: DataFrame) -> DataFrame:
    """Entity descriptor text, mirrors react_tools.py:245-250."""
    return nodes.select(
        F.col("node_id").alias("id"),
        F.lit("entity").alias("kind"),
        F.col("node_type").alias("entity_type"),
        F.col("name"),
        F.concat_ws(
            ", ",
            F.concat(F.lit("entity id: "), F.col("node_id")),
            F.concat(F.lit("type: "), F.col("node_type")),
            F.concat(F.lit("name: "), F.col("name")),
        ).alias("text"),
    )


# ------------------------------------------------ hash embeddings (F6)

def hash_embed_text(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """vec[i] = int(sha256(f"{text}:{i}")[:8], 16) / 2^32 - 0.5, L2-norm.

    Deterministic stand-in for the remote embedding API — identical
    formula in the numpy oracle (tests) and here.
    """
    v = np.array(
        [
            int(hashlib.sha256(f"{text}:{i}".encode()).hexdigest()[:8], 16)
            / 2**32
            - 0.5
            for i in range(dim)
        ],
        dtype=np.float64,
    )
    n = np.linalg.norm(v)
    return (v / n if n else v).astype(np.float32)


def embed_descriptors(
    desc: DataFrame, dim: int = EMBED_DIM, embed_fn=None
) -> DataFrame:
    """descriptors(id, kind, entity_type, name, text) → EMBEDDINGS rows.

    mapInPandas: one Arrow batch in, one out — the batched remote-API
    call shape (react_tools.py:72-78) without the network. embed_fn
    (list[str] -> list[list[float]], length dim each) is the pluggable
    kernel: a cluster user drops in the real embedding-API client here
    without forking engine code; it must be picklable (top-level
    function or functools.partial) since it ships to executors. Default
    is the deterministic hash embedding, which keeps every downstream
    test and oracle reproducible offline."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            if embed_fn is not None:
                vecs = embed_fn(list(pdf["text"]))
                bad = [i for i, v in enumerate(vecs) if len(v) != dim]
                if bad:
                    raise ValueError(
                        f"embed_fn returned dim {len(vecs[bad[0]])} != {dim} "
                        f"for batch row {bad[0]}"
                    )
                pdf["embedding"] = [list(map(float, v)) for v in vecs]
            else:
                pdf["embedding"] = [
                    hash_embed_text(t, dim).tolist() for t in pdf["text"]
                ]
            yield pdf[["id", "kind", "entity_type", "name", "embedding"]]

    from .schema import EMBEDDINGS

    return desc.mapInPandas(gen, schema=EMBEDDINGS)


# ----------------------------------------------------- cosine top-k (G7)

def _cosine_expr(vec_col: str, qname: str = "_q") -> F.Column:
    """JVM-side cosine similarity between an array<float> column and a
    broadcast literal query vector column `_q` — zip_with multiply +
    aggregate sum, whole-stage-codegen friendly, no UDF."""
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), F.col(qname), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    nb = F.sqrt(
        F.aggregate(F.col(qname), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    # zero-norm guard: cosine is undefined there, and Spark 4 runs ANSI
    # mode by default, where the bare division THROWS DIVIDE_BY_ZERO —
    # one degenerate embedding row would kill a whole-corpus job. NULL
    # instead; every consumer already drops NULL sims.
    return F.when(na * nb > 0, dot / (na * nb))


def cosine_topk(
    embeddings: DataFrame,
    query_vec,
    k: int = 10,
    entity_type: str | None = None,
    threshold: float = -1.0,
) -> DataFrame:
    """filter (type, threshold) → rank by cosine desc → limit k.

    Returns (id, kind, entity_type, name, sim). Compiles to a single
    scan + TakeOrderedAndProject: no shuffle beyond the final top-k
    merge, no Python.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    df = embeddings.withColumn("_q", q)
    if entity_type is not None:
        df = df.where(F.col("entity_type") == entity_type)  # filter BEFORE rank
    scored = df.withColumn("sim", _cosine_expr("embedding")).drop("_q")
    return (
        scored.where(F.col("sim") >= F.lit(threshold))
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(k)
    )


def cosine_topk_batch(
    embeddings: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Many queries at once: broadcast the (small) query set, score
    every (query, item) pair JVM-side, per-query top-k via window.

    queries(query_id, qvec array<float>). Set-oriented G2 analogue —
    free parallelism over both rows and queries.
    """
    pairs = embeddings.join(F.broadcast(queries))
    scored = pairs.withColumn(
        "sim",
        _cosine_expr("embedding", "qvec"),
    ).where(F.col("sim").isNotNull())  # zero vectors: NULL sim, as cosine_topk drops
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn", "embedding", "qvec")
    )


def cosine_topk_batch_arrow(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Wide-dim scale path for batch brute-force k-NN (exact, same
    semantics as cosine_topk_batch).

    The HOF fold in `_cosine_expr` is ideal at dim≈64 (stays in
    whole-stage codegen, zero Python) but is an interpreted per-element
    loop inside Catalyst — at the reference's production width
    (dim=1024, .env.example:47) it goes compute-bound. This variant
    drops to ONE Arrow-batched pandas kernel whose inner loop is a BLAS
    matmul, with map-side partial top-k so almost nothing shuffles:

      1. queries (small by contract — the same set the HOF path
         broadcasts) are collected, L2-normalized, and shipped in the
         UDF closure as a single (Q×D) float64 matrix;
      2. mapInPandas over the corpus: each Arrow batch becomes a (B×D)
         matrix, `sims = Ê @ Q̂ᵀ` (one dgemm), per-batch per-query
         top-k via argpartition → ≤ batches·Q·k candidate rows of
         (query_id, id, sim) leave Python;
      3. a global exact per-query top-k over that tiny candidate set
         (window on Q·k·n_batches rows — broadcastable at any corpus
         size).

    Zero-norm rows and zero-norm queries are dropped, matching the
    HOF path's NULL-sim drop. Returns (query_id, <id_col>, sim, rn)
    with rn in 1..k; join payload columns back by broadcasting this
    result against the corpus if needed (candidates ≪ corpus).
    """
    qt = collect_capped(queries.select("query_id", "qvec"), MAX_DRIVER_QUERIES)
    if qt is None:
        raise ValueError(_TOO_MANY_QUERIES.format(MAX_DRIVER_QUERIES))
    qids_all = qt["query_id"].to_pylist()
    qmat_all = np.asarray(qt["qvec"].to_pylist(), dtype=np.float64)
    if len(qt):
        qnorm = np.linalg.norm(qmat_all, axis=1)
        keep = qnorm > 0.0
        qids = [q for q, m in zip(qids_all, keep) if m]
        qmat = qmat_all[keep] / qnorm[keep, None]
    else:
        qids, qmat = [], qmat_all

    qid_t = queries.schema["query_id"].dataType.simpleString()
    id_t = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qid_t}, {id_col} {id_t}, sim double"

    if not qids:
        spark = embeddings.sparkSession
        return spark.createDataFrame([], out_schema + ", rn int")

    qid_arr = np.asarray(qids)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            emb = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            ids = pdf[id_col].to_numpy()
            norms = np.linalg.norm(emb, axis=1)
            ok = norms > 0.0
            if not ok.any():
                continue
            ids = ids[ok]
            sims = (emb[ok] / norms[ok, None]) @ qmat.T  # (B×Q) dgemm
            b = sims.shape[0]
            kk = min(k, b)
            # per-query selection via lexsort on (sim desc, id asc) —
            # the GLOBAL tie-break order, so map-side pruning stays
            # lossless even when duplicate vectors (common in a corpus
            # being dedup'd) tie exactly at the k-th boundary. Q is
            # small by contract, so Q C-speed lexsorts per batch are
            # noise next to the dgemm.
            rows = np.empty((len(qids), kk), dtype=np.int64)
            for qj in range(len(qids)):
                rows[qj] = np.lexsort((ids, -sims[:, qj]))[:kk]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qid_arr, kk),
                    id_col: ids[rows].ravel(),
                    "sim": np.take_along_axis(sims.T, rows, axis=1).ravel(),
                }
            )

    cand = embeddings.select(id_col, vec_col).mapInPandas(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))
    return cand.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)


# ---------------------------------------------- IVF ANN (scale path #2)

def ivf_index(
    embeddings: DataFrame,
    n_lists: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
):
    """IVF coarse quantizer: k-means over the corpus assigns every
    vector to its nearest centroid list. Returns (indexed_df, centroids)
    where indexed_df = embeddings + `list_id` (int) — at scale, write
    it partitioned by list_id so a probe reads only n_probe partitions.

    Uses pyspark.ml KMeans (distributed Lloyd's); centroids come back
    as a small numpy array for driver-side probe selection.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.withColumn("_features", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_lists, seed=seed, featuresCol="_features", predictionCol="list_id")
    model = km.fit(feat)
    indexed = model.transform(feat).drop("_features")
    centroids = np.array(model.clusterCenters())
    return indexed, centroids


def ivf_topk(
    indexed: DataFrame,
    centroids,
    query_vec,
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Probe the n_probe nearest centroid lists, exact-rank inside them.

    Recall/cost dial: n_probe = n_lists degenerates to brute force;
    n_probe = 1 scans ~1/n_lists of the corpus. The list_id filter is a
    partition-pruning predicate when the index is written partitioned
    by list_id (the IVF layout's entire point at 100 TB).
    """
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    # stable sort: equal centroid sims tie-break by list id, the same
    # rule ivf_topk_batch's window uses — keeps the two paths
    # probe-equivalent even with duplicate centroids
    probe = np.argsort(-(cn @ qn), kind="stable")[:n_probe].tolist()
    cand = indexed.where(F.col("list_id").isin(probe)).drop("list_id")
    return cosine_topk(cand, query_vec, k=k)


def ivf_topk_batch(
    indexed: DataFrame,
    centroids,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "id",
    vec_col: str = "embedding",
    kernel: str = "auto",
    dim: int | None = None,
) -> DataFrame:
    """Batched IVF probe: Q queries in ONE Spark job (r03 VERDICT item
    4 — the per-query `ivf_topk` loop is Q scheduler round-trips).

    queries(query_id, qvec array<...>). The probe-list selection runs
    distributed: normalized centroids become an n_lists-row broadcast
    DataFrame, a tiny crossJoin + per-query window picks each query's
    n_probe nearest lists, and the resulting (query_id, list_id) probe
    table is broadcast-joined to the index — so `list_id` stays a
    partition-pruning predicate on an index laid out by list_id, and
    only probed lists are scanned regardless of Q. Candidates then
    pick up their qvec (broadcast) and rank per query via window —
    exactly `cosine_topk_batch`'s shape. Per query this returns the
    same rows as `ivf_topk(..., n_probe=n_probe)` (pytest-pinned).

    kernel: how probed candidates are scored.
      "hof"   — the JVM `_cosine_expr` fold; zero Python, right at
                dim≈64.
      "arrow" — the BLAS kernel (`cosine_topk_batch_arrow`'s shape):
                one Arrow-batched numpy pass over the pruned
                candidates with map-side per-query top-k. At the
                reference's production width (dim=1024) the fold is
                interpreter-bound — bench/BASELINE.md r06 measured the
                probe's HOF scoring at 9.5s vs 1.0s for the BLAS
                kernel over 4x the rows, so wide dims want "arrow".
                Returns exactly (query_id, id_col, sim); extra payload
                columns on `indexed` ride only on the hof kernel —
                re-join them by id (candidates ≪ corpus).
      "auto"  — (default) peek the first query vector's width and pick:
                arrow at dim ≥ 128 (AUTO_KERNEL_DIM), hof below. The
                kernels are row-identical (pytest-pinned incl. exact
                ties), so this is purely a physical-plan choice — the
                22x cliff at production width should not require the
                caller to know it exists.
    """
    if kernel == "auto":
        # pass `dim` when the caller knows the embedding width: the
        # first() peek is a real Spark action that re-executes the
        # query-side upstream lineage during plan CONSTRUCTION (r07;
        # ADVICE r06) — fine interactively, waste inside a benched path
        if dim is None:
            first_q = queries.select("qvec").first()
            dim = len(first_q[0]) if first_q and first_q[0] is not None else 0
        kernel = "arrow" if dim >= AUTO_KERNEL_DIM else "hof"

    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    spark = indexed.sparkSession
    cent = spark.createDataFrame(
        [(int(i), [float(x) for x in cn[i]]) for i in range(len(cn))],
        "list_id int, cvec array<double>",
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("csim"), F.asc("list_id")
    )
    probes = (
        queries.crossJoin(F.broadcast(cent))
        .withColumn("csim", _cosine_expr("qvec", "cvec"))
        .withColumn("pn", F.row_number().over(wp))
        .where(F.col("pn") <= n_probe)
        .select("query_id", "list_id")
        .localCheckpoint(eager=True)  # tiny (Q × n_probe); read twice
    )
    # static prune: the UNION of all probe lists is bounded by n_lists
    # (never by Q), so collecting it is O(n_lists) — and an isin
    # predicate statically partition-prunes a list_id-partitioned index
    # scan, which a broadcast join alone would not (plan-tested)
    probed_lists = [
        r["list_id"] for r in probes.select("list_id").distinct().collect()
    ]
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc(id_col))

    if kernel == "arrow":
        # The hof path below join-expands candidates per probing query,
        # which is free JVM-side but would make THIS path ship every
        # candidate vector through Arrow once PER query (measured: the
        # expansion dominated — 8.4s vs 10.1s hof at dim 1024, barely a
        # win). Instead each candidate crosses Arrow exactly ONCE: the
        # probe table collapses to a closure-shipped {list_id → probing
        # query rows} map (Q × n_probe entries — already driver-sized,
        # same as probed_lists above), and each Arrow batch dgemms its
        # per-list rows against that list's query submatrix, emitting
        # map-side per-query top-k in the global (sim desc, id asc)
        # tie order. The window then finalizes ≤ fragments·Q·k rows.
        qt = collect_capped(queries.select("query_id", "qvec"), MAX_DRIVER_QUERIES)
        if qt is None:
            raise ValueError(_TOO_MANY_QUERIES.format(MAX_DRIVER_QUERIES))
        qindex, qvecs = {}, []
        for qid, vec in zip(qt["query_id"].to_pylist(), qt["qvec"].to_pylist()):
            v = np.asarray(vec, dtype=np.float64)
            n = np.linalg.norm(v)
            if n > 0.0:  # zero-norm query scores NULL on the hof path
                qindex[qid] = len(qvecs)
                qvecs.append(v / n)
        qid_t = queries.schema["query_id"].dataType.simpleString()
        id_t = indexed.schema[id_col].dataType.simpleString()
        out_schema = f"query_id {qid_t}, {id_col} {id_t}, sim double"
        if not qindex:
            return indexed.sparkSession.createDataFrame([], out_schema)
        qmat = np.asarray(qvecs)
        probe_map: dict[int, tuple[list, list]] = {}
        for r in probes.collect():  # Q × n_probe rows
            qi = qindex.get(r["query_id"])
            if qi is None:
                continue
            rows, qids = probe_map.setdefault(int(r["list_id"]), ([], []))
            rows.append(qi)
            qids.append(r["query_id"])

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                emb = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                norms = np.linalg.norm(emb, axis=1)
                ids_all = pdf[id_col].to_numpy()
                lids = pdf["list_id"].to_numpy()
                outs = []
                for lid in np.unique(lids):
                    entry = probe_map.get(int(lid))
                    if entry is None:
                        continue
                    m = (lids == lid) & (norms > 0.0)
                    if not m.any():
                        continue
                    sub = emb[m] / norms[m, None]
                    ids = ids_all[m]
                    sims = sub @ qmat[entry[0]].T  # (B × Q_list) dgemm
                    kk = min(k, sims.shape[0])
                    for j, qid in enumerate(entry[1]):
                        sel = np.lexsort((ids, -sims[:, j]))[:kk]
                        outs.append(pd.DataFrame({
                            "query_id": [qid] * kk,
                            id_col: ids[sel],
                            "sim": sims[sel, j],
                        }))
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        scored = (
            indexed.where(F.col("list_id").isin(probed_lists))
            .select("list_id", id_col, vec_col)
            .mapInPandas(score, out_schema)
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .drop("rn")
        )

    cand = indexed.where(F.col("list_id").isin(probed_lists)).join(
        F.broadcast(probes), "list_id"
    )
    scored = (
        cand.join(F.broadcast(queries), "query_id")
        .withColumn("sim", _cosine_expr(vec_col, "qvec"))
        # zero-vector candidates score NULL; the per-query ivf_topk
        # path drops them via cosine_topk's threshold — match it
        .where(F.col("sim").isNotNull())
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn", "list_id", vec_col, "qvec")
    )


def ann_recall_at_k(
    indexed: DataFrame,
    centroids,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "id",
    vec_col: str = "embedding",
    kernel: str = "auto",
    dim: int | None = None,
) -> DataFrame:
    """Recall screen for the ANN dial: 1-row (k, n_probe, n_queries,
    recall) comparing the IVF probe's top-k against the exact
    brute-force top-k over the SAME index, averaged across the query
    set — the job a user runs on a sample of real queries to pick
    n_probe before committing a 100 TB scan budget. One Spark job:
    both sides are per-query windows (ivf_topk_batch /
    cosine_topk_batch shapes), joined per (query, id), so cost is
    O(probe + exact-sample) regardless of Q. recall = |approx ∩
    exact| / |exact| per query (exact can return < k rows when the
    corpus is small or vectors are zero), then averaged. At n_probe =
    n_lists the probe IS brute force, so recall == 1.0 exactly — the
    oracle-gated fixed point; narrow probes are pytest-screened."""
    approx = ivf_topk_batch(
        indexed, centroids, queries, k=k, n_probe=n_probe,
        id_col=id_col, vec_col=vec_col, kernel=kernel, dim=dim,
    ).select("query_id", id_col)
    # cosine_topk_batch hardcodes (id, embedding) — alias the exact
    # side's columns to that contract so non-default id_col/vec_col
    # tie-break and score on the RIGHT columns instead of crashing (or
    # worse, silently ranking by an unrelated 'id' column)
    exact = cosine_topk_batch(
        indexed.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("embedding")
        ),
        queries,
        k=k,
    ).select("query_id", F.col("id").alias(id_col))
    hits = exact.join(
        approx.withColumn("_hit", F.lit(1)), ["query_id", id_col], "left"
    )
    per_q = hits.groupBy("query_id").agg(
        (F.sum(F.coalesce("_hit", F.lit(0))) / F.count("*")).alias("recall_q")
    )
    return per_q.groupBy().agg(
        F.lit(k).cast("int").alias("k"),
        F.lit(n_probe).cast("int").alias("n_probe"),
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(F.avg("recall_q"), 6).alias("recall"),
    )


# ------------------------------- random-hyperplane signatures (blocking)

def hyperplane_signatures(
    embeddings: DataFrame,
    n_planes: int = 8,
    seed: int = 42,
    dim: int = EMBED_DIM,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Random-hyperplane (SimHash) bucket id per vector — sign pattern
    of n_planes dot products, packed into an int. Deterministic planes
    from the seed; JVM-side via zip_with/aggregate on literal arrays."""
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_planes, dim)
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    sig = F.lit(0)
    for i in range(n_planes):
        p = F.array(*[F.lit(float(x)) for x in planes[i]])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), p, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return embeddings.withColumn(out_col, sig)


# ------------------------------------------- int8 quantization (scale path)

def quantize_embeddings(
    emb: DataFrame,
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|v|/127,
    q_i = round(v_i / max|v| · 127) ∈ [-127, 127] stored as
    array<tinyint> — 4× smaller than float32 (8× vs this table's
    doubles), which at 100 TB is the difference between an embedding
    column that fits executor memory / shuffle budgets and one that
    doesn't.

    Cosine is scale-invariant, so similarity search runs DIRECTLY on
    the int8 vectors (no dequantization in the hot path):
    cos(q_a, q_b) ≈ cos(a, b) with error bounded by the per-element
    rounding (≤ 1/254 of the max magnitude; the pytest pins the
    observed drift).  The dequant multiplier rides along in scale_col
    for consumers that need magnitudes back (dot products, L2).

    All-zero vectors quantize to all zeros with scale 0.
    """
    m = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    q = F.when(m > 0, F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") / m * 127).cast("tinyint"),
    )).otherwise(
        F.transform(F.col(vec_col), lambda x: F.lit(0).cast("tinyint"))
    )
    return emb.withColumn(qvec_col, q).withColumn(
        scale_col, (m / F.lit(127.0)).cast("double")
    )


def dequantize_expr(qvec_col: str = "qvec", scale_col: str = "qscale") -> F.Column:
    """array<double> reconstruction: q_i · scale."""
    return F.transform(
        F.col(qvec_col), lambda x: x.cast("double") * F.col(scale_col)
    )
