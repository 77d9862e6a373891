"""Unit tests for dedup / text / vector / multimodal operators against
in-Python oracles (numpy / hashlib / brute force)."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (3, "completely different words here entirely unrelated text"),
        (4, "der hund und die katze und das haus"),
        (5, "el perro que la casa de los gatos"),
        (6, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact_dedup(self, spark, docs):
        from datacapsule_spark.operators.dedup import exact_dedup

        out = {r["content_hash"]: r for r in exact_dedup(docs).collect()}
        dup = [r for r in out.values() if r["n_dups"] > 1]
        assert len(dup) == 1
        assert dup[0]["n_dups"] == 2 and dup[0]["keep_id"] == 0

    def test_shingles_match_python(self, spark, docs):
        from datacapsule_spark.operators.dedup import shingle_rows

        got = {
            (r["doc_id"], r["g"]) for r in shingle_rows(docs, n=3).collect()
        }
        want = set()
        for doc_id, text in docs.collect():
            toks = text.lower().strip().split()
            for i in range(len(toks) - 2):
                want.add((doc_id, " ".join(toks[i : i + 3])))
        assert got == want  # doc 6 (<3 tokens) contributes nothing

    def test_simhash_pairs_planted_flips(self, spark):
        """Bit-block banding finds every planted ≤ max_hamming flip of a
        base fingerprint with the exact distance; a 4-bit flip (one per
        block, defeating every band) is excluded by the verify."""
        from datacapsule_spark.operators.dedup import simhash_pairs

        base = 0b101011001110001111100000111110000011111100000011111110000001
        rows = [(0, base)]
        for k in (1, 2, 3, 4):
            fp = base
            for j in range(k):
                fp ^= 1 << (j * 15)  # one flipped bit per 15-bit block
            rows.append((k, fp))
        fps = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r["a"], r["b"]): r["hamming"]
            for r in simhash_pairs(fps, max_hamming=3).collect()
        }
        assert got[(0, 1)] == 1 and got[(0, 2)] == 2 and got[(0, 3)] == 3
        assert (0, 4) not in got  # hamming 4 > max
        assert got[(1, 2)] == 1 and got[(2, 3)] == 1  # chain neighbors

    def test_simhash_pairs_equals_brute_force(self, spark):
        """Completeness on random fingerprints: banding+verify ==
        all-pairs popcount (the blocking never loses a true pair)."""
        import itertools
        import random

        from datacapsule_spark.operators.dedup import simhash_pairs

        rng = random.Random(7)
        fps = [rng.getrandbits(60) for _ in range(40)]
        # force some near pairs: perturb existing fingerprints
        for i in range(0, 40, 5):
            fps.append(fps[i] ^ (1 << rng.randrange(60)) ^ (1 << rng.randrange(60)))
        rows = list(enumerate(fps))
        want = {
            (i, j, bin(a ^ b).count("1"))
            for (i, a), (j, b) in itertools.combinations(rows, 2)
            if bin(a ^ b).count("1") <= 3
        }
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        got = {
            (r["a"], r["b"], r["hamming"])
            for r in simhash_pairs(df, max_hamming=3).collect()
        }
        assert got == want and want  # non-trivial and exactly equal

    def test_minhash_lsh_finds_near_dups(self, spark, docs):
        from datacapsule_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
        )

        pairs = {
            (r["a"], r["b"])
            for r in minhash_lsh_pairs(minhash_signatures(docs)).collect()
        }
        assert (0, 2) in pairs  # exact dup always collides
        assert (0, 1) in pairs  # near dup (8/9 shingle overlap)
        assert not any(3 in p for p in pairs)  # unrelated doc never pairs

    def test_ngram_jaccard_exact_values(self, spark, docs):
        from datacapsule_spark.operators.dedup import ngram_jaccard_pairs

        pairs = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3)], "a long, b long"
        )
        out = {(r["a"], r["b"]): r["jaccard"] for r in
               ngram_jaccard_pairs(docs, pairs, threshold=0.0).collect()}
        assert out[(0, 2)] == 1.0
        # doc0/doc1: 9 shingles each ('the' repeats but shingles distinct),
        # overlap = 6 of 12 union → 0.5
        a = "the quick brown fox jumps over the lazy dog".split()
        b = "the quick brown fox jumps over the lazy cat".split()
        sa = {" ".join(a[i : i + 3]) for i in range(len(a) - 2)}
        sb = {" ".join(b[i : i + 3]) for i in range(len(b) - 2)}
        assert out[(0, 1)] == pytest.approx(len(sa & sb) / len(sa | sb))
        assert out[(0, 3)] == 0.0

    def test_ngram_jaccard_rowform_brute_force(self, spark):
        """The r06 row-form gate (|A∩B| pair×gram join, |A∪B| =
        |A|+|B|−|A∩B|) against a brute-force python oracle on the edge
        cases the rewrite had to preserve: docs with < n tokens (empty
        gram set), empty∧empty pairs (NULL jaccard → dropped, the old
        array form's 0/0), empty∧non-empty (jaccard 0), duplicate
        (a, b) input rows (each row scored once, no double-count)."""
        import random

        from datacapsule_spark.operators.dedup import ngram_jaccard_pairs

        rng = random.Random(7)
        vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 8))))
            for i in range(20)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        all_pairs = [(a, b) for a in range(20) for b in range(a + 1, 20)]
        pairs_rows = all_pairs + all_pairs[:30]  # 30 duplicate rows
        pairs = spark.createDataFrame(pairs_rows, "a long, b long")

        def grams(t):
            toks = t.split()
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

        g = {i: grams(t) for i, t in rows}
        want = {}
        for a, b in all_pairs:
            uni = len(g[a] | g[b])
            if uni == 0:
                continue  # 0/0 → NULL → dropped
            j = len(g[a] & g[b]) / uni
            if j >= 0.1:
                want[(a, b)] = j
        got = {}
        counts = {}
        for r in ngram_jaccard_pairs(docs, pairs, threshold=0.1).collect():
            got[(r["a"], r["b"])] = r["jaccard"]
            counts[(r["a"], r["b"])] = counts.get((r["a"], r["b"]), 0) + 1
        assert set(got) == set(want)
        for k in want:
            assert got[k] == pytest.approx(want[k])
        # duplicated input rows come back once per input row, same score
        for a, b in all_pairs[:30]:
            if (a, b) in want:
                assert counts[(a, b)] == 2, (a, b)

    def test_simhash_dup_equal_and_near(self, spark, docs):
        from datacapsule_spark.operators.dedup import simhash64

        sh = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
        assert sh[0] == sh[2]  # identical text → identical simhash
        ham01 = bin(sh[0] ^ sh[1]).count("1")
        ham03 = bin(sh[0] ^ sh[3]).count("1")
        assert ham01 < ham03  # near dup closer than unrelated

    def test_embedding_cosine_pairs(self, spark):
        from datacapsule_spark.operators.dedup import embedding_cosine_pairs

        vecs = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.04, 0.0]),
            (2, [0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = {(r["a"], r["b"]): r["cos"] for r in
               embedding_cosine_pairs(df, threshold=0.95).collect()}
        assert set(out) == {(0, 1)}
        want = np.dot([1, 0, 0], [0.999, 0.04, 0]) / np.linalg.norm([0.999, 0.04, 0])
        assert out[(0, 1)] == pytest.approx(want, abs=1e-9)

    def test_embedding_cosine_pairs_arrow_kernel_parity(self, spark):
        """kernel='arrow' ≡ kernel='hof' row-for-row at wide dim, and
        the 'auto' default resolves to the same rows (arrow at dim 256
        ≥ AUTO_KERNEL_DIM). The corpus plants zero-norm vectors: under
        Spark 4's default ANSI mode the pre-r06 unguarded division
        THREW DIVIDE_BY_ZERO on them (one degenerate row would kill a
        whole-corpus job); now cosine is NULL/NaN there and the pair is
        dropped by every kernel."""
        from datacapsule_spark.operators.dedup import embedding_cosine_pairs

        rng = np.random.RandomState(11)
        dim = 256
        base = rng.randn(6, dim)
        rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
        rows.append((6, [float(x) for x in base[0] * 0.7]))  # exact dir dup of 0
        rows.append((7, [0.0] * dim))  # zero-norm: undefined cosine
        rows.append((8, [0.0] * dim))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        def run(kernel):
            return {
                (r["a"], r["b"]): round(r["cos"], 9)
                for r in embedding_cosine_pairs(
                    df, threshold=0.95, exact=True, kernel=kernel
                ).collect()
            }

        hof, arrow, auto = run("hof"), run("arrow"), run("auto")
        assert (0, 6) in hof  # the planted pair survives
        assert not any(7 in p or 8 in p for p in hof)  # zero-norm dropped
        assert hof == arrow == auto

    def test_cosine_hof_zero_vector_no_ansi_crash(self, spark):
        """_cosine_expr's zero-norm guard: a degenerate all-zeros
        embedding (or query) must yield NULL sim and fall out of the
        top-k — NOT raise DIVIDE_BY_ZERO under Spark 4's default ANSI
        mode (pre-r06 the bare division did)."""
        from datacapsule_spark.vectorize import cosine_topk_batch

        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 0.0])],
            "id long, embedding array<double>",
        )
        q = spark.createDataFrame(
            [(10, [1.0, 0.0]), (11, [0.0, 0.0])],
            "query_id long, qvec array<double>",
        )
        got = cosine_topk_batch(emb, q, k=3).collect()
        assert {r["id"] for r in got if r["query_id"] == 10} == {0, 1}
        assert not any(r["query_id"] == 11 for r in got)  # zero-norm query

    def test_embedding_dedup_bucketed_recall(self, spark):
        """The DEFAULT (bucketed LSH) path must find >=95% of the exact
        all-pairs matches at tau=0.9, with zero false positives (the
        re-score is exact, so bucketed output must be a subset)."""
        from datacapsule_spark.operators.dedup import embedding_cosine_pairs

        rng = np.random.RandomState(7)
        dim, rows = 16, []
        vid = 0
        for c in range(40):  # 40 clusters of 3 near-identical vectors
            base = rng.randn(dim)
            base /= np.linalg.norm(base)
            for _ in range(3):
                v = base + rng.randn(dim) * 0.08  # cosine ~0.97 to base
                rows.append((vid, (v / np.linalg.norm(v)).tolist()))
                vid += 1
        for _ in range(80):  # unrelated noise
            v = rng.randn(dim)
            rows.append((vid, (v / np.linalg.norm(v)).tolist()))
            vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

        exact = {
            (r["a"], r["b"])
            for r in embedding_cosine_pairs(df, threshold=0.9, exact=True).collect()
        }
        bucketed = {
            (r["a"], r["b"])
            for r in embedding_cosine_pairs(df, threshold=0.9).collect()
        }
        assert len(exact) >= 40  # the planted clusters produce pairs
        assert bucketed <= exact  # exact re-score → no false positives
        recall = len(bucketed & exact) / len(exact)
        assert recall >= 0.95, f"bucketed recall {recall:.3f} on {len(exact)} pairs"

    def test_cross_corpus_near_pairs(self, spark):
        """Cross-corpus MinHash screening: a planted near-twin ACROSS
        corpora is found with its exact Jaccard; identical docs WITHIN
        one corpus are never emitted (cross pairs only); unrelated
        docs don't pair."""
        from datacapsule_spark.operators.dedup import cross_corpus_near_pairs

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        train = spark.createDataFrame(
            [
                (1, base),                           # near-twin of eval 101
                (2, base),                           # exact dup WITHIN train
                (3, "unrelated words entirely here disjoint tokens only"),
            ],
            "doc_id long, text string",
        )
        eval_ = spark.createDataFrame(
            [
                (101, base + " lambda"),             # near-twin of train 1/2
                (102, "different eval content with nothing shared at all"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in cross_corpus_near_pairs(
                eval_, train, min_jaccard=0.5
            ).collect()
        }
        # the within-train exact dup (1, 2) is NOT in the output —
        # only cross pairs are
        assert set(got) == {(101, 1), (101, 2)}
        # exact 3-gram Jaccard: base = 10 tokens -> 8 grams, eval 101
        # adds one token -> 9 grams, 8 shared -> 8/9
        for v in got.values():
            assert v == pytest.approx(8 / 9, abs=1e-9)

    def test_semantic_dedup_keeps_min_per_cluster(self, spark):
        """semantic_dedup (SemDeDup-style keep set): planted duplicate
        groups collapse to their min id; singletons survive; the
        DEFAULT bucketed-LSH path agrees with exact=True when the
        duplicates are identical vectors (identical vectors share every
        bucket signature, so LSH candidates are guaranteed)."""
        from datacapsule_spark.operators.dedup import semantic_dedup
        from datacapsule_spark.vectorize import hash_embed_text

        def emb(text):
            return hash_embed_text(text, 16).tolist()

        rows = (
            [(i, "g0", emb("alpha")) for i in (0, 1, 2)]
            + [(i, "g1", emb("beta")) for i in (10, 11)]
            + [(20, "solo", emb("gamma")), (21, "solo", emb("delta"))]
        )
        df = spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<double>"
        )
        want = {0, 10, 20, 21}
        got_exact = {
            r["vec_id"]
            for r in semantic_dedup(df, threshold=0.999, exact=True).collect()
        }
        assert got_exact == want
        got_lsh = {
            r["vec_id"] for r in semantic_dedup(df, threshold=0.999).collect()
        }
        assert got_lsh == want


class TestFunnel:
    def test_ordered_subsequence_semantics(self, spark):
        """Funnel counts = users holding the steps as a strictly
        increasing-timestamp subsequence: out-of-order completions
        don't count, equal timestamps don't chain, repeats may supply
        later steps."""
        from datacapsule_spark.operators.funnel import funnel_counts

        rows = [
            # u1: clean v(1) c(2) p(3) → depth 3
            (1, "view", 1), (1, "click", 2), (1, "purchase", 3),
            # u2: purchase BEFORE click → depth 1 only... but a second
            # view(5) doesn't help without a later click → still depth 1
            (2, "view", 1), (2, "purchase", 2), (2, "click", 0),
            (2, "view", 5),
            # u3: equal timestamps never chain (strict >)
            (3, "view", 7), (3, "click", 7), (3, "purchase", 8),
            # u4: greedy must not be defeated: v(1) c(2) v(3) c(4) p(5)
            (4, "view", 1), (4, "click", 2), (4, "view", 3),
            (4, "click", 4), (4, "purchase", 5),
            # u5: no view at all → appears at no step
            (5, "click", 1), (5, "purchase", 2),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, event_type string, ts long"
        )
        out = {
            r["step"]: r["n_users"]
            for r in funnel_counts(df, ["view", "click", "purchase"]).collect()
        }
        # view: u1,u2,u3,u4; click after view: u1,u4 (u2's click is
        # earlier, u3's is simultaneous); purchase after that: u1,u4
        assert out == {"view": 4, "click": 2, "purchase": 2}
        with pytest.raises(ValueError):
            funnel_counts(df, [])

    def test_funnel_property_random_events(self, spark):
        """Property check on random event logs: funnel counts equal a
        brute-force exists-strictly-increasing-subsequence oracle
        (hypothesis-style generation, fixed seeds for determinism)."""
        import random

        from datacapsule_spark.operators.funnel import funnel_counts

        steps = ["a", "b", "c"]

        from itertools import product

        def depth(evs):
            # brute force (independent of the operator's greedy): does
            # ANY choice of one event per step have strictly
            # increasing timestamps?
            best = 0
            for k in range(1, len(steps) + 1):
                pools = [
                    [ts for typ, ts in evs if typ == steps[i]] for i in range(k)
                ]
                ok = any(
                    all(c[i] < c[i + 1] for i in range(k - 1))
                    for c in product(*pools)
                )
                if not ok:
                    break
                best = k
            return best

        for seed in (0, 1, 2, 3):
            rng = random.Random(seed)
            rows = [
                (u, rng.choice(["a", "b", "c", "x"]), rng.randint(0, 6))
                for u in range(12)
                for _ in range(rng.randint(0, 6))
            ]
            if not rows:
                continue
            df = spark.createDataFrame(
                rows, "user_id long, event_type string, ts long"
            )
            per_user = {}
            for u, typ, ts in rows:
                per_user.setdefault(u, []).append((typ, ts))
            want = {
                i: sum(1 for evs in per_user.values() if depth(evs) > i)
                for i in range(3)
            }
            got = {
                r["step_idx"]: r["n_users"]
                for r in funnel_counts(df, steps).collect()
            }
            assert got == want, seed


class TestAsofJoin:
    def test_backward_inclusive_semantics(self, spark):
        from datacapsule_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, "u", 100), (2, "u", 200), (3, "u", 50), (4, "v", 100)],
            "id long, user string, ts long",
        )
        right = spark.createDataFrame(
            [("u", 100, 10.0), ("u", 150, 15.0), ("v", 999, 99.0)],
            "user string, ts long, val double",
        )
        out = {
            r["id"]: r["val_asof"]
            for r in asof_join(left, right, ["user"], "ts", ["val"]).collect()
        }
        assert out[1] == 10.0   # exact-ts match is inclusive
        assert out[2] == 15.0   # latest at-or-before 200
        assert out[3] is None   # nothing at-or-before 50
        assert out[4] is None   # v's only right row is in the future

    def test_left_rows_preserved(self, spark):
        from datacapsule_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(i, "u", i * 10) for i in range(20)], "id long, user string, ts long"
        )
        right = spark.createDataFrame([("u", 95, 1.0)], "user string, ts long, val double")
        out = asof_join(left, right, ["user"], "ts", ["val"])
        assert out.count() == 20
        matched = out.where(F.col("val_asof").isNotNull()).count()
        assert matched == 10  # ts in {100..190} ≥ 95


class TestRangeJoin:
    def test_bucketed_equals_broadcast(self, spark):
        from datacapsule_spark.operators.rangejoin import (
            range_join_broadcast,
            range_join_bucketed,
        )

        points = spark.createDataFrame(
            [(i, float(i * 7 % 500)) for i in range(200)], "id long, value double"
        )
        intervals = spark.createDataFrame(
            [(0, 0.0, 100.0), (1, 100.0, 250.0), (2, 250.0, 250.5), (3, 400.0, 500.0)],
            "band_id int, lo double, hi double",
        )
        a = {
            (r["id"], r["band_id"])
            for r in range_join_broadcast(points, intervals, "value").collect()
        }
        b = {
            (r["id"], r["band_id"])
            for r in range_join_bucketed(points, intervals, "value", step=37.0).collect()
        }
        assert a == b and len(a) > 0

    def test_hi_exclusive_on_bucket_edge(self, spark):
        from datacapsule_spark.operators.rangejoin import range_join_bucketed

        points = spark.createDataFrame([(1, 100.0)], "id long, value double")
        intervals = spark.createDataFrame(
            [(0, 0.0, 100.0)], "band_id int, lo double, hi double"
        )
        # value == hi must NOT match ([lo, hi) semantics)
        assert range_join_bucketed(points, intervals, "value", step=100.0).count() == 0


class TestText:
    def test_language_id(self, spark, docs):
        from datacapsule_spark.operators.text import language_id

        out = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
        assert out[0] == "en"
        assert out[4] == "de"
        assert out[5] == "es"

    def test_quality_and_tokens(self, spark, docs):
        from datacapsule_spark.operators.text import quality_score, token_count

        q = {r["doc_id"]: r for r in quality_score(docs).collect()}
        assert q[0]["n_tokens"] == 9
        assert q[0]["punct_ratio"] == 0.0
        assert q[0]["stopword_ratio"] == pytest.approx(2 / 9)
        t = {r["doc_id"]: r for r in token_count(docs).collect()}
        assert t[0]["ws_tokens"] == 9
        assert t[6]["ws_tokens"] == 1

    def test_bm25_topk_matches_python_oracle(self, spark):
        """bm25_topk vs a from-scratch Okapi BM25 in pure Python on a
        toy corpus: same ranking, scores to 1e-9; docs with no query
        term are excluded; k truncates."""
        import math

        from datacapsule_spark.operators.text import bm25_topk

        corpus = [
            (0, "spark join spark stream table"),
            (1, "join join join row"),
            (2, "table row scan sort"),          # no query term
            (3, "stream"),
            (4, "spark stream join spark spark"),
        ]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        terms, k1, b = ["spark", "join", "stream"], 1.2, 0.75

        toks = {d: t.split() for d, t in corpus}
        n = len(corpus)
        avgdl = sum(len(v) for v in toks.values()) / n
        want = {}
        for d, tl in toks.items():
            s = 0.0
            for t in terms:
                tf = tl.count(t)
                dfreq = sum(1 for v in toks.values() if t in v)
                idf = math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tl) / avgdl))
            if s > 0:
                want[d] = s
        got = bm25_topk(df, terms, k=10).collect()
        assert [r["doc_id"] for r in got] == sorted(
            want, key=lambda d: (-round(want[d], 6), d)
        )
        for r in got:
            assert r["bm25"] == pytest.approx(round(want[r["doc_id"]], 6), abs=1e-6)
        assert 2 not in {r["doc_id"] for r in got}
        # k truncation
        assert len(bm25_topk(df, terms, k=2).collect()) == 2
        with pytest.raises(ValueError):
            bm25_topk(df, [], k=2)
        # term-SET semantics: a duplicated term neither double-counts
        # nor changes the result (review finding)
        dup = [(r["doc_id"], r["bm25"]) for r in bm25_topk(df, ["spark", "spark"], k=10).collect()]
        one = [(r["doc_id"], r["bm25"]) for r in bm25_topk(df, ["spark"], k=10).collect()]
        assert dup == one

    def test_bm25_index_equals_corpus_scan(self, spark, tmp_path):
        """The inverted-index path returns exactly the corpus-scan
        path's scores and ranking (same formula, corpus constants
        captured at build), including a term absent from the corpus."""
        from datacapsule_spark.operators.retrieval import (
            bm25_index_topk,
            build_bm25_index,
        )
        from datacapsule_spark.operators.text import bm25_topk

        corpus = [
            (0, "spark join spark stream table"),
            (1, "join join join row"),
            (2, "table row scan sort"),
            (3, "stream"),
            (4, "spark stream join spark spark"),
        ]
        df = spark.createDataFrame(corpus, "doc_id long, text string")
        idx = str(tmp_path / "bm25_idx")
        build_bm25_index(df, idx, n_buckets=8)
        for terms in (["spark", "join", "stream"], ["row", "nosuchterm"]):
            want = [
                (r["doc_id"], r["bm25"])
                for r in bm25_topk(df, terms, k=10).collect()
            ]
            got = [
                (r["doc_id"], r["bm25"])
                for r in bm25_index_topk(spark, idx, terms, k=10).collect()
            ]
            assert got == want, terms

    def test_lm_score_hand_computed(self, spark):
        """Laplace bigram LM on a 2-doc corpus, checked against hand
        arithmetic: V=2, c(a b)=2, c(b a)=1, c(a·)=2, c(b·)=1."""
        import math

        from datacapsule_spark.operators.text import lm_score

        df = spark.createDataFrame(
            [(1, "a b a"), (2, "a b"), (3, "x")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in lm_score(df).collect()}
        v = 3  # vocabulary {a, b, x}
        lp_ab = math.log((2 + 1) / (2 + v))
        lp_ba = math.log((1 + 1) / (1 + v))
        assert set(got) == {1, 2}  # doc 3 has no bigram
        assert got[1]["n_bigrams"] == 2
        assert got[1]["avg_logprob"] == pytest.approx(
            round((lp_ab + lp_ba) / 2, 6), abs=1e-6
        )
        assert got[2]["n_bigrams"] == 1
        assert got[2]["avg_logprob"] == pytest.approx(round(lp_ab, 6), abs=1e-6)

    def test_bm25_index_incremental_append(self, spark, tmp_path):
        """append_bm25_index folds a new-doc batch in O(batch): the
        appended index answers queries exactly like an index built
        from scratch on the union (stats partials merge, per-term df
        recomputed from postings) — and like the corpus scan."""
        from datacapsule_spark.operators.retrieval import (
            append_bm25_index,
            bm25_index_topk,
            build_bm25_index,
        )
        from datacapsule_spark.operators.text import bm25_topk

        part_a = [
            (0, "spark join spark stream table"),
            (1, "join join join row"),
            (2, "table row scan sort"),
        ]
        part_b = [
            (3, "stream"),
            (4, "spark stream join spark spark"),
        ]
        schema = "doc_id long, text string"
        dfa = spark.createDataFrame(part_a, schema)
        dfb = spark.createDataFrame(part_b, schema)
        both = spark.createDataFrame(part_a + part_b, schema)

        inc = str(tmp_path / "inc_idx")
        build_bm25_index(dfa, inc, n_buckets=8)
        append_bm25_index(dfb, inc)
        scratch = str(tmp_path / "scratch_idx")
        build_bm25_index(both, scratch, n_buckets=8)

        terms = ["spark", "join", "stream"]
        rows = lambda p: [  # noqa: E731
            (r["doc_id"], r["bm25"])
            for r in bm25_index_topk(spark, p, terms, k=10).collect()
        ]
        want = [
            (r["doc_id"], r["bm25"]) for r in bm25_topk(both, terms, k=10).collect()
        ]
        assert rows(inc) == rows(scratch) == want

    def test_bm25_index_upsert_and_delete(self, spark, tmp_path):
        """The BM25 delete log (r04 VERDICT item 7): upserting changed
        docs + tombstoning removed ones answers queries EXACTLY like an
        index rebuilt from scratch on the final corpus — superseded
        postings stop scoring, df and n/avgdl track the live corpus."""
        from datacapsule_spark.operators.retrieval import (
            bm25_index_topk,
            build_bm25_index,
            delete_bm25_docs,
            upsert_bm25_index,
        )
        from datacapsule_spark.operators.text import bm25_topk

        schema = "doc_id long, text string"
        v0 = [
            (0, "spark join spark stream table"),
            (1, "join join join row"),
            (2, "table row scan sort"),
            (3, "stream"),
            (4, "spark stream join spark spark"),
        ]
        # doc 1 rewritten (loses all 'join's), doc 9 is new, doc 3 deleted
        changed = [(1, "scan scan table"), (9, "join stream join")]
        final = [v0[0], changed[0], v0[2], v0[4], changed[1]]

        idx = str(tmp_path / "log_idx")
        build_bm25_index(spark.createDataFrame(v0, schema), idx, n_buckets=8)
        upsert_bm25_index(spark.createDataFrame(changed, schema), idx, version=1)
        delete_bm25_docs(spark, idx, [3], version=1)

        scratch = str(tmp_path / "scratch_final")
        build_bm25_index(
            spark.createDataFrame(final, schema), scratch, n_buckets=8
        )
        for terms in (["spark", "join", "stream"], ["scan", "row"]):
            got = [
                (r["doc_id"], r["bm25"])
                for r in bm25_index_topk(spark, idx, terms, k=10).collect()
            ]
            want = [
                (r["doc_id"], r["bm25"])
                for r in bm25_index_topk(spark, scratch, terms, k=10).collect()
            ]
            scan = [
                (r["doc_id"], r["bm25"])
                for r in bm25_topk(
                    spark.createDataFrame(final, schema), terms, k=10
                ).collect()
            ]
            assert got == want == scan, terms
        # deleted doc never scores, even for its own terms
        assert all(
            r["doc_id"] != 3
            for r in bm25_index_topk(spark, idx, ["stream"], k=10).collect()
        )

        # compaction folds the log: queries identical before/after, the
        # raw doclens shrinks to one live version-0 row per doc (no
        # tombstones, no superseded versions), postings drop the
        # superseded doc-1 rows
        from datacapsule_spark.operators.retrieval import compact_bm25_index

        before = [
            (r["doc_id"], r["bm25"])
            for r in bm25_index_topk(
                spark, idx, ["spark", "join", "stream"], k=10
            ).collect()
        ]
        n_live = compact_bm25_index(spark, idx)
        assert n_live == len(final)
        after = [
            (r["doc_id"], r["bm25"])
            for r in bm25_index_topk(
                spark, idx, ["spark", "join", "stream"], k=10
            ).collect()
        ]
        assert after == before
        raw_dl = spark.read.parquet(idx + "/doclens")
        assert raw_dl.count() == len(final)
        assert raw_dl.where("_deleted OR _version != 0").count() == 0
        raw_post = spark.read.parquet(idx + "/postings")
        assert raw_post.where("doc_id = 3").count() == 0  # deleted doc
        assert (  # doc 1's superseded v0 'join' postings are gone
            raw_post.where("doc_id = 1 AND tok = 'join'").count() == 0
        )

        # legacy (pre-versioning) index: reads keep working, mutation
        # is REFUSED (mixed schemas would silently corrupt resolution)
        import os
        import shutil

        legacy = str(tmp_path / "legacy_idx")
        build_bm25_index(spark.createDataFrame(v0, schema), legacy, n_buckets=8)
        old_rows = (
            spark.read.parquet(legacy + "/doclens")
            .drop("_version", "_deleted")
            .toPandas()
        )
        shutil.rmtree(os.path.join(legacy, "doclens"))
        spark.createDataFrame(old_rows).write.parquet(legacy + "/doclens")
        # docs 0 and 4 contain 'spark' — the legacy read path still works
        assert bm25_index_topk(spark, legacy, ["spark"], k=3).count() == 2
        with pytest.raises(ValueError, match="pre-versioning"):
            upsert_bm25_index(
                spark.createDataFrame(changed, schema), legacy, version=1
            )
        with pytest.raises(ValueError, match="pre-versioning"):
            delete_bm25_docs(spark, legacy, [3], version=1)

    def test_chunk_documents_windows(self, spark):
        from datacapsule_spark.operators.text import chunk_documents

        df = spark.createDataFrame(
            [
                (0, " ".join(f"w{i}" for i in range(10))),  # 10 tokens
                (1, "a b"),                                 # shorter than size
                (2, "   "),                                 # whitespace only
            ],
            "doc_id long, text string",
        )
        out = chunk_documents(df, size=4, stride=3).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = (
                r["chunk"], r["n_tokens"]
            )
        # doc 0: starts 0,3,6,9 → 4 chunks, last one a single token
        assert by_doc[0][0] == ("w0 w1 w2 w3", 4)
        assert by_doc[0][1] == ("w3 w4 w5 w6", 4)
        assert by_doc[0][2] == ("w6 w7 w8 w9", 4)
        assert by_doc[0][3] == ("w9", 1)
        assert len(by_doc[0]) == 4
        assert by_doc[1] == {0: ("a b", 2)}
        assert 2 not in by_doc  # empty doc → zero chunks

    def test_fingerprint_order_insensitive(self, spark):
        from datacapsule_spark.operators.text import fingerprint

        df = spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "gamma alpha beta"), (2, "alpha beta delta")],
            "doc_id long, text string",
        )
        fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
        assert fp[0] == fp[1]
        assert fp[0] != fp[2]
        want = hashlib.md5("alpha beta gamma".encode()).hexdigest()
        assert fp[0] == want  # sorted distinct tokens joined by space


class TestLinearQualityScore:
    def test_hand_computed_sigmoid(self, spark):
        """Hashed linear classifier vs a hand-built weight table: the
        score is sigmoid(intercept + mean token weight), empty and
        all-unweighted docs fall back to the intercept-only score."""
        import hashlib
        import math

        from datacapsule_spark.operators.text import linear_quality_score

        nb = 1 << 16

        def bucket(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % nb

        docs = spark.createDataFrame(
            [(1, "good good bad"), (2, ""), (3, "neutral words here")],
            "doc_id long, text string",
        )
        weights = spark.createDataFrame(
            [(bucket("good"), 2.0), (bucket("bad"), -1.0)],
            "bucket long, weight double",
        )
        out = {
            r["doc_id"]: r
            for r in linear_quality_score(
                docs, weights, n_buckets=nb, intercept=-0.5, threshold=0.6
            ).collect()
        }
        sig = lambda z: 1.0 / (1.0 + math.exp(-z))  # noqa: E731
        # d1: (2*2.0 - 1.0)/3 tokens + intercept
        assert out[1]["n_tokens"] == 3
        assert out[1]["quality_prob"] == pytest.approx(sig(-0.5 + 1.0))
        assert out[1]["keep"]
        # d2 empty, d3 unweighted tokens: intercept-only
        assert out[2]["n_tokens"] == 0
        assert out[2]["quality_prob"] == pytest.approx(sig(-0.5))
        assert out[3]["quality_prob"] == pytest.approx(sig(-0.5))
        assert not out[2]["keep"] and not out[3]["keep"]

    def test_weight_table_is_broadcast(self, spark):
        from datacapsule_spark.operators.text import linear_quality_score

        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        w = spark.range(8).selectExpr("id as bucket", "0.1 as weight")
        plan = linear_quality_score(docs, w)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestVector:
    def _embeddings(self, spark, n=50, dim=16):
        from datacapsule_spark.vectorize import hash_embed_text

        rows = [
            (f"e{i}", "entity", "symbol" if i % 2 else "module", f"name{i}",
             hash_embed_text(f"name{i}", dim).tolist())
            for i in range(n)
        ]
        return rows, spark.createDataFrame(
            rows,
            "id string, kind string, entity_type string, name string, "
            "embedding array<float>",
        )

    def test_cosine_topk_matches_numpy(self, spark):
        from datacapsule_spark.vectorize import cosine_topk, hash_embed_text

        rows, df = self._embeddings(spark)
        q = hash_embed_text("name0", 16)
        got = [(r["id"], r["sim"]) for r in cosine_topk(df, q, k=5).collect()]
        M = np.array([r[4] for r in rows], dtype=np.float64)
        sims = M @ q / (np.linalg.norm(M, axis=1) * np.linalg.norm(q))
        order = sorted(range(len(rows)), key=lambda i: (-sims[i], rows[i][0]))[:5]
        want = [(rows[i][0], sims[i]) for i in order]
        assert [g[0] for g in got] == [w[0] for w in want]
        for g, w in zip(got, want):
            assert g[1] == pytest.approx(w[1], abs=1e-6)
        assert got[0][0] == "e0" and got[0][1] == pytest.approx(1.0)

    def test_cosine_topk_type_filter_before_rank(self, spark):
        from datacapsule_spark.vectorize import cosine_topk, hash_embed_text

        _, df = self._embeddings(spark)
        q = hash_embed_text("name1", 16)
        got = cosine_topk(df, q, k=10, entity_type="symbol").collect()
        assert len(got) == 10
        assert all(r["entity_type"] == "symbol" for r in got)

    def test_embed_descriptors_deterministic(self, spark):
        from datacapsule_spark.vectorize import (
            embed_descriptors,
            hash_embed_text,
            node_descriptors,
        )

        nodes = spark.createDataFrame(
            [("sym:A", "symbol", "A", {"k": "v"})],
            "node_id string, node_type string, name string, attrs map<string,string>",
        )
        out = embed_descriptors(node_descriptors(nodes)).collect()
        assert len(out) == 1
        text = "entity id: sym:A, type: symbol, name: A"
        want = hash_embed_text(text).tolist()
        assert out[0]["embedding"] == pytest.approx(want)

    def test_embed_descriptors_pluggable_kernel(self, spark):
        """embed_fn seam (r02 VERDICT item 8): a fake remote client —
        batched list[str] -> list[vec] — replaces the hash kernel with
        no change to the mapInPandas batch shape; a wrong-dim kernel
        fails loudly instead of writing corrupt vectors."""
        from datacapsule_spark.vectorize import (
            EMBED_DIM,
            embed_descriptors,
            node_descriptors,
        )

        # nested so cloudpickle ships them by VALUE (the test module is
        # not importable on executors)
        def fake_remote_embed(texts, dim=EMBED_DIM):
            return [[float(len(t)), 0.25] + [0.0] * (dim - 2) for t in texts]

        def bad_dim_embed(texts):
            return [[1.0, 2.0, 3.0] for _ in texts]

        nodes = spark.createDataFrame(
            [("sym:A", "symbol", "A", {}), ("sym:B", "symbol", "B", {})],
            "node_id string, node_type string, name string, attrs map<string,string>",
        )
        out = embed_descriptors(
            node_descriptors(nodes), embed_fn=fake_remote_embed
        ).collect()
        got = {r["id"]: r["embedding"] for r in out}
        assert len(got) == 2
        for rid, vec in got.items():
            assert len(vec) == EMBED_DIM
            # fake kernel encodes len(text) in slot 0 — proves the
            # custom kernel (not the hash default) produced the vector
            assert vec[0] > 1.0 and vec[1] == pytest.approx(0.25)

        with pytest.raises(Exception, match="dim"):
            embed_descriptors(
                node_descriptors(nodes), embed_fn=bad_dim_embed
            ).collect()


class TestQuantize:
    def test_quantize_roundtrip_and_cosine_drift(self, spark):
        import math

        from datacapsule_spark.vectorize import (
            dequantize_expr,
            quantize_embeddings,
        )

        vecs = [
            (1, [0.5, -1.0, 0.25, 0.125]),
            (2, [2.0, 2.0, -2.0, 0.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # all-zero: scale 0, qvec zeros
            (4, [1e-3, -2e-3, 3e-3, 4e-3]),
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        q = quantize_embeddings(df)
        rows = {r["vec_id"]: r for r in q.withColumn(
            "deq", dequantize_expr()
        ).collect()}

        for vid, v in vecs:
            m = max(abs(x) for x in v)
            want_q = [round(x / m * 127) if m else 0 for x in v]
            got = rows[vid]
            assert got["qvec"] == want_q, vid
            assert all(-127 <= x <= 127 for x in got["qvec"])
            assert got["qscale"] == pytest.approx(m / 127.0)
            # dequantization error bounded by half a quantization step
            for orig, deq in zip(v, got["deq"]):
                assert abs(orig - deq) <= (m / 127.0) / 2 + 1e-12

        # cosine drift: quantized cosine within 1% of the float cosine
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        a, b = vecs[0][1], vecs[1][1]
        qa, qb = rows[1]["qvec"], rows[2]["qvec"]
        assert cos(qa, qb) == pytest.approx(cos(a, b), abs=0.01)

    def test_quantized_schema_is_tinyint(self, spark):
        from datacapsule_spark.vectorize import quantize_embeddings

        df = spark.createDataFrame(
            [(1, [0.5, -1.0])], "vec_id long, embedding array<double>"
        )
        schema = dict(quantize_embeddings(df).dtypes)
        assert schema["qvec"] == "array<tinyint>"
        assert schema["qscale"] == "double"


class TestMultimodal:
    def test_media_feature_plumbing(self, spark):
        from datacapsule_spark.operators.multimodal import (
            MEDIA,
            extract_media_features,
        )

        rows = [
            ("m1", "image", bytearray(b"\x89PNG fake"), "image/png", 4, 4, None),
            ("m2", "video", bytearray(b"\x00\x00vid"), "video/mp4", 16, 9, 5000),
        ]
        media = spark.createDataFrame(rows, MEDIA)
        out = {r["media_id"]: r for r in extract_media_features(media).collect()}
        assert out["m1"]["payload_sha256"] == hashlib.sha256(b"\x89PNG fake").hexdigest()
        assert out["m1"]["payload_bytes"] == 9
        assert len(out["m1"]["features"]) == 8
        h = hashlib.sha256(b"\x89PNG fake").digest()
        assert out["m1"]["features"][0] == pytest.approx(h[0] / 255.0 - 0.5)

    def test_frame_sample_plan_metadata_only(self, spark):
        from datacapsule_spark.operators.multimodal import MEDIA, frame_sample_plan

        rows = [("m2", "video", bytearray(b"v"), "video/mp4", 1, 1, 3500)]
        media = spark.createDataFrame(rows, MEDIA)
        plan = frame_sample_plan(media, every_ms=1000)
        assert "payload" not in plan.columns
        assert [r["sample_ts_ms"] for r in plan.collect()] == [0, 1000, 2000, 3000]

    def test_compressed_decode_raises_named(self):
        # compressed formats still stub (codec libs absent) — the error
        # names the format, and unknown mimes are a different error
        from datacapsule_spark.operators.multimodal import decode_media

        with pytest.raises(NotImplementedError, match="image/png"):
            decode_media("image/png", b"\x89PNG...")
        with pytest.raises(ValueError, match="unknown media mime"):
            decode_media("application/x-mystery", b"x")

    # ---- real codecs (media_codecs.py): WAV / PPM / BMP / Y4M ----

    def test_wav_roundtrip_and_dsp_features(self):
        import numpy as np

        from datacapsule_spark.operators.media_codecs import (
            audio_features,
            decode_wav,
            encode_wav_pcm16,
        )

        rate, freq, dur = 8000, 440.0, 1.0
        t = np.arange(int(rate * dur)) / rate
        x = 0.5 * np.sin(2 * np.pi * freq * t)
        payload = encode_wav_pcm16(x, rate)
        r2, decoded = decode_wav(payload)
        assert r2 == rate
        assert decoded.shape == (len(x), 1)
        assert np.abs(decoded[:, 0] - x).max() < 1e-3  # int16 quantization

        dur_s, rms, zcr, centroid, peak = audio_features(r2, decoded)
        assert dur_s == pytest.approx(1.0)
        assert rms == pytest.approx(0.5 / np.sqrt(2), rel=1e-3)  # sine RMS = A/√2
        assert zcr == pytest.approx(2 * freq / rate, rel=0.01)  # 2f crossings/s
        assert centroid == pytest.approx(freq, rel=0.02)  # pure tone
        assert peak == pytest.approx(0.5, rel=1e-2)

    def test_wav_stereo_and_chunk_walk(self):
        import struct

        import numpy as np

        from datacapsule_spark.operators.media_codecs import decode_wav, encode_wav_pcm16

        x = np.stack([np.linspace(-0.5, 0.5, 100), np.zeros(100)], axis=1)
        payload = encode_wav_pcm16(x, 16000)
        # splice an unrelated LIST chunk between fmt and data — a real
        # decoder must walk chunks, not assume fixed offsets
        body = b"INFOjunkchunk!"
        chunk = b"LIST" + struct.pack("<I", len(body)) + body
        spliced = payload[:36] + chunk + payload[36:]
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        rate, decoded = decode_wav(spliced)
        assert rate == 16000 and decoded.shape == (100, 2)
        assert np.abs(decoded - x).max() < 1e-3

    def test_ppm_bmp_roundtrip_exact(self):
        import numpy as np

        from datacapsule_spark.operators.media_codecs import (
            decode_bmp,
            decode_ppm,
            encode_bmp,
            encode_ppm,
        )

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # odd width → BMP row pad
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)
        # PPM header comments are part of the format
        commented = b"P6\n# a comment\n7 5\n255\n" + img.tobytes()
        assert np.array_equal(decode_ppm(commented), img)

    def test_image_features_and_resize(self):
        import numpy as np

        from datacapsule_spark.operators.media_codecs import image_features, resize_area

        flat = np.full((8, 8, 3), 100, dtype=np.uint8)
        w, h, mr, mg, mb, luma_std, edge, entropy = image_features(flat)
        assert (w, h, mr, mg, mb) == (8.0, 8.0, 100.0, 100.0, 100.0)
        assert luma_std == 0.0 and edge == 0.0 and entropy == 0.0  # uniform

        # bin-center grays (16, 48, ..., 240): one per histogram bin,
        # immune to float-luma rounding at the bin edges
        grad = np.tile(np.arange(16, 256, 32, dtype=np.uint8)[None, :, None], (8, 1, 3))
        feats = image_features(grad)
        assert feats[6] > 0 and feats[7] > 2.9  # edges present, ~8 even bins

        # exact box average on a 2x2 checkerboard block
        checker = np.zeros((4, 4, 3), dtype=np.uint8)
        checker[::2, ::2] = 200
        checker[1::2, 1::2] = 200
        small = resize_area(checker, 2, 2)
        assert small.shape == (2, 2, 3) and np.all(small == 100)
        # non-integer factor falls back to nearest-neighbor mapping
        assert resize_area(checker, 3, 3).shape == (3, 3, 3)

    def test_y4m_seek_decodes_only_target_frame(self):
        import numpy as np

        from datacapsule_spark.operators.media_codecs import (
            encode_y4m,
            y4m_frame_at,
            y4m_info,
        )

        # 10 frames at 5 fps, frame i has constant luma 10*i
        frames = np.stack([np.full((4, 6), 10 * i, dtype=np.uint8) for i in range(10)])
        payload = encode_y4m(frames, fps=5)
        info = y4m_info(payload)
        assert (info["w"], info["h"], info["n_frames"]) == (6, 4, 10)
        # ts 1200ms at 5fps → frame 6
        frame = y4m_frame_at(payload, 1200, info)
        assert frame.shape == (4, 6) and frame[0, 0] == 60
        assert y4m_frame_at(payload, 10_000, info) is None  # past EOS

    def test_decode_media_features_spark(self, spark):
        import numpy as np

        from datacapsule_spark.operators.media_codecs import (
            encode_ppm,
            encode_wav_pcm16,
            encode_y4m,
        )
        from datacapsule_spark.operators.multimodal import MEDIA, decode_media_features

        img = np.full((4, 4, 3), 50, dtype=np.uint8)
        wav = encode_wav_pcm16(np.zeros(800), 8000)
        vid = encode_y4m(np.full((4, 2, 2), 7, dtype=np.uint8), fps=2)
        rows = [
            ("img1", "image", bytearray(encode_ppm(img)), "image/x-portable-pixmap", 4, 4, None),
            ("aud1", "audio", bytearray(wav), "audio/wav", None, None, 100),
            ("vid1", "video", bytearray(vid), "video/x-yuv4mpeg", 2, 2, 2000),
            ("bad1", "image", bytearray(b"\x89PNG fake"), "image/png", 1, 1, None),
        ]
        media = spark.createDataFrame(rows, MEDIA)
        out = {r["media_id"]: r for r in decode_media_features(media).collect()}
        assert out["img1"]["ok"] == "ok"
        assert out["img1"]["features"][:5] == [4.0, 4.0, 50.0, 50.0, 50.0]
        assert out["aud1"]["ok"] == "ok"
        assert out["aud1"]["features"][0] == pytest.approx(0.1)  # 800/8000 s
        assert out["vid1"]["ok"] == "ok"
        dur, fps, n, luma, motion = out["vid1"]["features"]
        assert (dur, fps, n) == (2.0, 2.0, 4.0)
        assert luma == pytest.approx(7.0) and motion == pytest.approx(0.0)
        # compressed format: quarantined row, not a dead stage
        assert out["bad1"]["ok"] == "error"
        assert "image/png" in out["bad1"]["err"]
        assert out["bad1"]["features"] is None

        with pytest.raises(Exception, match="image/png"):
            decode_media_features(media, strict=True).collect()

    def test_frame_sample_execute_y4m(self, spark):
        import numpy as np

        from datacapsule_spark.operators.media_codecs import encode_y4m
        from datacapsule_spark.operators.multimodal import MEDIA, frame_sample_execute

        # 6 frames @ 2fps (3s), luma ramp 0,20,40,...: sampling every
        # 1000ms hits frames 0,2,4 → lumas 0,40,80, motion 40 per step
        frames = np.stack([np.full((2, 2), 20 * i, dtype=np.uint8) for i in range(6)])
        payload = encode_y4m(frames, fps=2)
        rows = [("v1", "video", bytearray(payload), "video/x-yuv4mpeg", 2, 2, 3000)]
        media = spark.createDataFrame(rows, MEDIA)
        out = sorted(frame_sample_execute(media, every_ms=1000).collect(),
                     key=lambda r: r["sample_ts_ms"])
        assert [r["sample_ts_ms"] for r in out] == [0, 1000, 2000]
        assert [r["mean_luma"] for r in out] == [0.0, 40.0, 80.0]
        assert out[0]["motion"] is None
        assert out[1]["motion"] == pytest.approx(40.0)
        assert out[2]["motion"] == pytest.approx(40.0)

    def test_resize_images_spark_passthrough(self, spark):
        import numpy as np

        from datacapsule_spark.operators.media_codecs import decode_ppm, encode_bmp
        from datacapsule_spark.operators.multimodal import MEDIA, resize_images

        img = np.zeros((8, 8, 3), dtype=np.uint8)
        img[:4] = 200  # top half bright → survives 2x box downscale
        rows = [
            ("i1", "image", bytearray(encode_bmp(img)), "image/bmp", 8, 8, None),
            ("a1", "audio", bytearray(b"not-an-image"), "audio/wav", None, None, 5),
        ]
        media = spark.createDataFrame(rows, MEDIA)
        out = {r["media_id"]: r for r in resize_images(media, 4, 4).collect()}
        r = out["i1"]
        assert (r["width"], r["height"], r["mime"]) == (4, 4, "image/x-portable-pixmap")
        small = decode_ppm(bytes(r["payload"]))
        assert np.all(small[:2] == 200) and np.all(small[2:] == 0)
        # non-image rows pass through byte-identical
        assert bytes(out["a1"]["payload"]) == b"not-an-image"

    def test_resize_images_quarantines_bad_rows(self, spark):
        """One corrupt/compressed payload among kind='image' rows must
        not kill the stage (ADVICE r06): strict=False (default) passes
        the unresizable row through unchanged; strict=True raises."""
        import numpy as np
        import pytest as _pytest

        from datacapsule_spark.operators.media_codecs import encode_bmp
        from datacapsule_spark.operators.multimodal import MEDIA, resize_images

        img = np.full((8, 8, 3), 100, dtype=np.uint8)
        rows = [
            ("ok", "image", bytearray(encode_bmp(img)), "image/bmp", 8, 8, None),
            ("bad", "image", bytearray(b"\x89PNG-corrupt"), "image/png",
             8, 8, None),
        ]
        media = spark.createDataFrame(rows, MEDIA)
        out = {r["media_id"]: r for r in resize_images(media, 4, 4).collect()}
        assert out["ok"]["mime"] == "image/x-portable-pixmap"
        assert bytes(out["bad"]["payload"]) == b"\x89PNG-corrupt"  # unchanged
        assert out["bad"]["mime"] == "image/png"
        with _pytest.raises(Exception):
            resize_images(media, 4, 4, strict=True).collect()


class TestTraverse:
    @pytest.fixture(scope="class")
    def graph(self, spark):
        nodes = spark.createDataFrame(
            [
                ("repo:r", "repo", "r", None),
                ("dir:r/src", "dir", "src", None),
                ("file:r/src/a.py", "file", "a.py", None),
                ("file:r/src/b.py", "file", "b.py", None),
                ("sym:X", "symbol", "X", None),
                ("lang:python", "lang", "python", None),
            ],
            "node_id string, node_type string, name string, attrs map<string,string>",
        )
        edges = spark.createDataFrame(
            [
                ("repo:r", "contains", "dir:r/src", None, None),
                ("dir:r/src", "contains", "file:r/src/a.py", None, None),
                ("dir:r/src", "contains", "file:r/src/b.py", None, None),
                ("file:r/src/a.py", "defines_function", "sym:X", None, None),
                ("file:r/src/b.py", "calls", "sym:X", None, None),
                ("file:r/src/a.py", "in_lang", "lang:python", None, None),
            ],
            "src string, relation string, dst string, repo string, path string",
        )
        return nodes, edges

    def test_bfs_down_to_files(self, spark, graph):
        from datacapsule_spark.traverse import find_nodes_by_node_type

        nodes, edges = graph
        starts = spark.createDataFrame(
            [("q1", "repo:r")], "query_id string, node_id string"
        )
        hits = {
            r["node_id"]
            for r in find_nodes_by_node_type(nodes, edges, starts, "file").collect()
        }
        assert hits == {"file:r/src/a.py", "file:r/src/b.py"}

    def test_bfs_up_to_repo(self, spark, graph):
        from datacapsule_spark.traverse import find_nodes_by_node_type

        nodes, edges = graph
        starts = spark.createDataFrame(
            [("q1", "file:r/src/a.py")], "query_id string, node_id string"
        )
        hits = {
            r["node_id"]
            for r in find_nodes_by_node_type(nodes, edges, starts, "repo").collect()
        }
        assert hits == {"repo:r"}

    def test_batch_bfs_independent_queries(self, spark, graph):
        from datacapsule_spark.traverse import find_nodes_by_node_type

        nodes, edges = graph
        starts = spark.createDataFrame(
            [("qa", "file:r/src/a.py"), ("qb", "file:r/src/b.py")],
            "query_id string, node_id string",
        )
        hits = find_nodes_by_node_type(nodes, edges, starts, "symbol").collect()
        by_q = {}
        for r in hits:
            by_q.setdefault(r["query_id"], set()).add(r["node_id"])
        assert by_q == {"qa": {"sym:X"}, "qb": {"sym:X"}}

    def test_bfs_does_not_cross_repos_via_shared_symbol(self, spark):
        """Regression: a downward walk must not pass THROUGH a deeper
        shared node (symbol used by two repos) and re-ascend into the
        other repo's files — the rank cap at target_rank pins this."""
        from datacapsule_spark.traverse import find_nodes_by_node_type

        nodes = spark.createDataFrame(
            [
                ("repo:r1", "repo", "r1", None),
                ("repo:r2", "repo", "r2", None),
                ("file:r1/a.py", "file", "a.py", None),
                ("file:r2/b.py", "file", "b.py", None),
                ("sym:Shared", "symbol", "Shared", None),
            ],
            "node_id string, node_type string, name string, attrs map<string,string>",
        )
        edges = spark.createDataFrame(
            [
                ("repo:r1", "contains", "file:r1/a.py", None, None),
                ("repo:r2", "contains", "file:r2/b.py", None, None),
                ("file:r1/a.py", "calls", "sym:Shared", None, None),
                ("file:r2/b.py", "calls", "sym:Shared", None, None),
            ],
            "src string, relation string, dst string, repo string, path string",
        )
        starts = spark.createDataFrame(
            [("q", "repo:r1")], "query_id string, node_id string"
        )
        hits = {
            r["node_id"]
            for r in find_nodes_by_node_type(nodes, edges, starts, "file").collect()
        }
        assert hits == {"file:r1/a.py"}

    def test_bfs_no_down_then_up_wandering(self, spark):
        """Counterexample for per-HOP rank monotonicity (VERDICT r01
        item 8): going UP from f1, a traversal-wide band [target, start]
        would admit f1 → d1(up) → f2(DOWN, still in band) → d2(up) →
        r2 and return the wrong repo. The per-hop rule (each hop moves
        weakly toward the target relative to the CURRENT node) prunes
        the d1 → f2 down-step, so only the true ancestor is returned."""
        from datacapsule_spark.traverse import find_nodes_by_node_type

        nodes = spark.createDataFrame(
            [
                ("repo:r1", "repo", "r1", None),
                ("repo:r2", "repo", "r2", None),
                ("dir:d1", "dir", "d1", None),
                ("dir:d2", "dir", "d2", None),
                ("file:f1", "file", "f1", None),
                ("file:f2", "file", "f2", None),  # in d1 AND d2 (vendored copy)
            ],
            "node_id string, node_type string, name string, attrs map<string,string>",
        )
        edges = spark.createDataFrame(
            [
                ("repo:r1", "contains", "dir:d1", None, None),
                ("repo:r2", "contains", "dir:d2", None, None),
                ("dir:d1", "contains", "file:f1", None, None),
                ("dir:d1", "contains", "file:f2", None, None),
                ("dir:d2", "contains", "file:f2", None, None),
            ],
            "src string, relation string, dst string, repo string, path string",
        )
        starts = spark.createDataFrame(
            [("q", "file:f1")], "query_id string, node_id string"
        )
        hits = {
            r["node_id"]
            for r in find_nodes_by_node_type(nodes, edges, starts, "repo").collect()
        }
        assert hits == {"repo:r1"}  # r2 reachable only via a down-then-up path

    def test_adjacent_descriptions(self, spark, graph):
        from datacapsule_spark.traverse import get_adjacent_descriptions

        nodes, edges = graph
        names = spark.createDataFrame([("sym:X",)], "node_id string")
        out = get_adjacent_descriptions(nodes, edges, names).collect()
        assert len(out) == 1
        assert set(out[0]["descriptions"]) == {"a.py", "b.py"}


class TestCuration:
    def test_temperature_mix_properties(self, spark):
        """alpha=1 is the identity mix (keeps everything); alpha=0
        targets uniform (the head source downsamples toward N/k while
        tails keep all); kept sets are deterministic and nest as alpha
        rises toward 1 (same hash family, monotone thresholds)."""
        from datacapsule_spark.operators.curation import temperature_mix

        rows = [(i, "head") for i in range(800)] + [
            (1000 + i, "tail_a") for i in range(50)
        ] + [(2000 + i, "tail_b") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, source string")

        full = {r["doc_id"] for r in temperature_mix(df, alpha=1.0).collect()}
        assert full == {r[0] for r in rows}

        flat = temperature_mix(df, alpha=0.0).collect()
        by_src = {}
        for r in flat:
            by_src[r["source"]] = by_src.get(r["source"], 0) + 1
        # uniform target = 900/3 = 300 per source: tails keep all 50,
        # head downsamples to ~300 (Bernoulli ±, generous band)
        assert by_src["tail_a"] == 50 and by_src["tail_b"] == 50
        assert 200 < by_src["head"] < 400

        mid = {r["doc_id"] for r in temperature_mix(df, alpha=0.5).collect()}
        low = {r["doc_id"] for r in temperature_mix(df, alpha=0.0).collect()}
        assert low <= mid <= full  # nesting: thresholds monotone in alpha
        again = {r["doc_id"] for r in temperature_mix(df, alpha=0.5).collect()}
        assert again == mid  # deterministic
        with pytest.raises(ValueError):
            temperature_mix(df, alpha=-0.1)
        # NULL sources form their own group and are NOT silently
        # dropped by the rates join (review finding)
        withnull = spark.createDataFrame(
            [(1, "s"), (2, None), (3, None)], "doc_id long, source string"
        )
        kept = temperature_mix(withnull, alpha=1.0).collect()
        assert {r["doc_id"] for r in kept} == {1, 2, 3}
        assert {r["source"] for r in kept} == {"s", None}

    def test_temperature_mix_weighted_by_mass(self, spark):
        """weight_col mixes by MASS: a source of 10 huge docs (90% of
        corpus mass) downsamples at alpha=0 toward the uniform MASS
        share even though its doc count says tail; by doc count the
        same source keeps everything. alpha=1 stays identity."""
        from datacapsule_spark.operators.curation import temperature_mix

        rows = [(i, "huge", 9000) for i in range(10)] + [
            (100 + i, "small", 10) for i in range(100)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string, w long")

        by_count = temperature_mix(df, alpha=0.0).groupBy("source").count()
        bc = {r["source"]: r["count"] for r in by_count.collect()}
        assert bc["huge"] == 10  # tail by doc count: keeps all

        by_mass = temperature_mix(df, alpha=0.0, weight_col="w")
        bm = {
            r["source"]: r["count"]
            for r in by_mass.groupBy("source").count().collect()
        }
        # uniform mass target = 45.5k per source; huge holds 90k ->
        # rate ~0.5; small keeps everything
        assert bm.get("small", 0) == 100
        assert 2 <= bm.get("huge", 0) <= 8

        full = temperature_mix(df, alpha=1.0, weight_col="w").count()
        assert full == len(rows)  # identity at alpha=1

    def test_corpus_balance_exact_equals_approx(self, spark):
        """corpus_balance's percentile regimes (r04 VERDICT item 6):
        approx_percentile agrees with exact at sf0.01 (groups smaller
        than the sketch accuracy — only interpolation can differ), and
        the auto threshold switches between them deterministically."""
        from datacapsule_spark.operators.curation import corpus_balance

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        key = lambda r: tuple(r[c] for c in ("source", "lang"))  # noqa: E731
        exact = {
            key(r): r
            for r in corpus_balance(docs, percentile_mode="exact").collect()
        }
        approx = {
            key(r): r
            for r in corpus_balance(docs, percentile_mode="approx").collect()
        }
        assert exact.keys() == approx.keys() and exact
        # per-group sorted token counts (python twin of the operator's
        # tokenizer) — approx must return a REAL element at the right
        # rank (groups are smaller than the sketch accuracy, so the
        # sketch is lossless and only interpolation can differ: exact
        # interpolates at q*(n-1), approx picks a neighboring element)
        import math

        toks = {}
        for r in docs.select("source", "lang", "text").collect():
            n = len([t for t in (r["text"] or "").strip().split() if t])
            toks.setdefault((r["source"], r["lang"]), []).append(n)
        for k, e in exact.items():
            a = approx[k]
            assert (a["n_docs"], a["share"]) == (e["n_docs"], e["share"])
            vals = sorted(toks[k])
            for q, col in ((0.5, "p50_tokens"), (0.9, "p90_tokens")):
                pos = q * (len(vals) - 1)
                lo, hi = vals[math.floor(pos)], vals[math.ceil(pos)]
                assert lo <= e[col] <= hi, (k, col, e[col], lo, hi)
                assert a[col] in (float(lo), float(hi)), (k, col, a[col], lo, hi)

        # auto: threshold above max group -> exact rows; 0 -> approx rows
        auto_exact = {
            key(r): r
            for r in corpus_balance(
                docs, percentile_mode="auto", approx_group_threshold=10**9
            ).collect()
        }
        assert auto_exact == exact
        auto_approx = {
            key(r): r
            for r in corpus_balance(
                docs, percentile_mode="auto", approx_group_threshold=0
            ).collect()
        }
        assert auto_approx == approx

        with pytest.raises(ValueError, match="percentile_mode"):
            corpus_balance(docs, percentile_mode="p2")

    def test_boilerplate_strip(self, spark):
        from datacapsule_spark.operators.curation import boilerplate_strip

        segs = spark.createDataFrame(
            [
                (1, 0, "keep me one"),
                (1, 1, "shared boiler"),
                (1, 2, "keep me two"),
                (2, 0, "shared boiler"),
                (2, 1, "unique middle"),
                (3, 0, "shared boiler"),  # doc 3 is ALL boilerplate
            ],
            "doc_id long, seg_idx int, seg string",
        )
        out = {
            r["doc_id"]: r
            for r in boilerplate_strip(segs, min_docs=2).collect()
        }
        assert out[1]["clean_text"] == "keep me one keep me two"  # order kept
        assert (out[1]["n_kept"], out[1]["n_dropped"]) == (2, 1)
        assert out[2]["clean_text"] == "unique middle"
        assert out[3]["clean_text"] == ""  # row survives with empty text
        assert (out[3]["n_kept"], out[3]["n_dropped"]) == (0, 1)

    def test_boilerplate_strip_within_doc_repeat_not_boiler(self, spark):
        # a segment repeated inside ONE doc has df=1 -> not boilerplate
        from datacapsule_spark.operators.curation import boilerplate_strip

        segs = spark.createDataFrame(
            [(1, 0, "la la"), (1, 1, "la la")],
            "doc_id long, seg_idx int, seg string",
        )
        row = boilerplate_strip(segs, min_docs=2).collect()[0]
        assert row["clean_text"] == "la la la la"
        assert row["n_dropped"] == 0

    def test_decontaminate(self, spark):
        from datacapsule_spark.operators.curation import decontaminate

        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma something else"),  # shares 2 3-grams? no: 1
                (2, "totally clean document text here"),
                (3, "x alpha beta gamma delta y"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r for r in decontaminate(train, bench, shingle_n=3).collect()
        }
        assert out[1]["n_hits"] == 1 and out[1]["contaminated"]
        assert out[2]["n_hits"] == 0 and not out[2]["contaminated"]
        assert out[3]["n_hits"] == 2 and out[3]["contaminated"]

    def test_gopher_quality_repetition(self, spark):
        from datacapsule_spark.operators.curation import gopher_quality

        d = spark.createDataFrame(
            [
                (1, "spam spam spam spam spam spam"),
                (2, "a genuinely varied sentence with distinct informative words"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in gopher_quality(d).collect()}
        # doc 1: one bigram ("spam spam") repeated 5x -> frac 1.0, fails
        assert out[1]["top_bigram_frac"] == 1.0
        assert out[1]["unique_frac"] == pytest.approx(1 / 6, abs=1e-6)
        assert not out[1]["passes_gopher"]
        assert out[2]["passes_gopher"]
        assert out[2]["mean_word_len"] == pytest.approx(
            sum(map(len, out2s := "a genuinely varied sentence with distinct informative words".split()))
            / len(out2s),
            abs=1e-6,
        )

    def test_repetition_report_hand_computed(self, spark):
        """Gopher repetition suite vs hand-computed fractions on a
        planted corpus: duplicated lines (d1), duplicated paragraphs
        (d2), an empty doc (d3), and an n-gram-repetitive doc (d4)."""
        from datacapsule_spark.operators.curation import repetition_report

        d = spark.createDataFrame(
            [
                (1, "aaa\nbbb\naaa\nccc"),
                (2, "p1 text\n\np2 text\n\np1 text"),
                (3, ""),
                (4, "x y x y x y z"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in repetition_report(d).collect()}

        # d1: lines aaa,bbb,aaa,ccc -> 2/4 dup slots, 6/12 dup chars;
        # a single \n never makes a paragraph boundary
        assert out[1]["n_lines"] == 4
        assert out[1]["dup_line_frac"] == pytest.approx(0.5)
        assert out[1]["dup_line_char_frac"] == pytest.approx(0.5)
        assert out[1]["n_paragraphs"] == 1
        assert out[1]["dup_para_frac"] == 0.0

        # d2: paragraphs p1,p2,p1 -> 2/3 dup; lines identical split
        assert out[2]["n_paragraphs"] == 3
        assert out[2]["dup_para_frac"] == pytest.approx(2 / 3, abs=1e-6)
        assert out[2]["dup_para_char_frac"] == pytest.approx(14 / 21, abs=1e-6)
        assert out[2]["dup_line_frac"] == pytest.approx(2 / 3, abs=1e-6)
        assert not out[2]["passes_repetition"]

        # d3: empty -> all zero fractions, vacuously passes
        assert out[3]["n_lines"] == 0
        assert out[3]["dup_line_frac"] == 0.0
        assert out[3]["passes_repetition"]

        # d4: 13 chars; top bigram "x y" (3x, 3 chars) -> 9/13; top
        # trigram tie ("x y x"/"y x y" both 2x) breaks lexicographic
        # -> "x y x" cov 10/13; top 4-gram "x y x y" 2x -> 14/13
        assert out[4]["top_2gram_char_frac"] == pytest.approx(9 / 13, abs=1e-6)
        assert out[4]["top_3gram_char_frac"] == pytest.approx(10 / 13, abs=1e-6)
        assert out[4]["top_4gram_char_frac"] == pytest.approx(14 / 13, abs=1e-6)
        assert not out[4]["passes_repetition"]

    def test_sample_by_hash_deterministic_and_nested(self, spark):
        from datacapsule_spark.operators.curation import sample_by_hash

        d = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        s25 = {r["doc_id"] for r in sample_by_hash(d, 0.25, "doc_id", "z").collect()}
        s25b = {r["doc_id"] for r in sample_by_hash(d, 0.25, "doc_id", "z").collect()}
        s50 = {r["doc_id"] for r in sample_by_hash(d, 0.50, "doc_id", "z").collect()}
        assert s25 == s25b  # deterministic
        assert s25 <= s50  # threshold sampling nests across rates
        assert 150 < len(s25) < 350 and 400 < len(s50) < 600
        assert len({r["doc_id"] for r in sample_by_hash(d, 0.0, "doc_id").collect()}) == 0
        assert len({r["doc_id"] for r in sample_by_hash(d, 1.0, "doc_id").collect()}) == 1000
        with pytest.raises(ValueError):
            sample_by_hash(d, 1.5, "doc_id")

    def test_per_source_quota(self, spark):
        from datacapsule_spark.operators.curation import per_source_quota

        d = spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(30)], "doc_id long, source string"
        )
        out = per_source_quota(d, 4).collect()
        assert len(out) == 12
        by_src = {}
        for r in out:
            by_src.setdefault(r["source"], []).append(r["sample_rank"])
        assert all(sorted(v) == [1, 2, 3, 4] for v in by_src.values())
        # deterministic pick
        again = {(r["source"], r["doc_id"]) for r in per_source_quota(d, 4).collect()}
        assert again == {(r["source"], r["doc_id"]) for r in out}

    def test_containment_pairs(self, spark):
        from datacapsule_spark.operators.dedup import containment_pairs

        d = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "PREFIX alpha beta gamma delta epsilon zeta SUFFIX"),
                (3, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
                (4, "unrelated words that never overlap anything else at all"),
                (5, "casefold ALPHA BETA GAMMA DELTA EPSILON ZETA test"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r["inner_id"], r["outer_id"])
            for r in containment_pairs(d, shingle_n=5).collect()
        }
        # 1 and 3 inside 2 and 5 (case-insensitive); equal texts tie a<b
        assert (1, 2) in got and (3, 2) in got
        assert (1, 5) in got and (3, 5) in got
        assert (1, 3) in got and (3, 1) not in got
        assert not any(4 in p for p in got)
        assert (2, 1) not in got  # containment is directional

    def test_containment_block_df_ceiling(self, spark):
        """Template-heavy corpus guard (r02 VERDICT item 3): k docs
        whose EVERY shingle is shared by all k have no rare blocking
        key — candidates would approach k². With max_block_df the job
        either aborts with routing guidance or skips those docs as
        inner candidates while normal docs keep their complete pairs."""
        from datacapsule_spark.operators.dedup import containment_pairs

        template = "the quick brown fox jumps over the lazy dog again "
        rows = [(i, template * 4) for i in range(20)]  # byte-identical ×20
        rows += [
            (100, "genuinely unique inner sequence alpha beta gamma"),
            (101, "wrapper genuinely unique inner sequence alpha beta gamma wrapper"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")

        with pytest.raises(ValueError, match="template-heavy"):
            containment_pairs(d, shingle_n=5, max_block_df=10).collect()

        got = {
            (r["inner_id"], r["outer_id"])
            for r in containment_pairs(
                d, shingle_n=5, max_block_df=10, on_overflow="skip"
            ).collect()
        }
        # the normal docs' pair survives; no template doc appears as inner
        assert (100, 101) in got
        assert not any(a < 100 for a, _ in got)
        # ceiling off: complete relation includes the k*(k-1)/2 template
        # ties (inner_id < outer_id on equal texts)
        full = containment_pairs(d, shingle_n=5)
        assert full.where(F.col("inner_id") < 100).count() == 20 * 19 // 2

        # report_skipped surfaces exactly the over-ceiling inner docs
        # (r03 VERDICT item 6: incompleteness observable, not silent)
        pairs, skipped = containment_pairs(
            d, shingle_n=5, max_block_df=10, on_overflow="skip",
            report_skipped=True,
        )
        assert {r["doc_id"] for r in skipped.collect()} == set(range(20))
        assert {(r["inner_id"], r["outer_id"]) for r in pairs.collect()} == got
        # and an un-ceilinged run reports an empty skip set
        _, none_skipped = containment_pairs(d, shingle_n=5, report_skipped=True)
        assert none_skipped.count() == 0

    def test_token_stats(self, spark):
        from datacapsule_spark.operators.text import token_stats

        import math

        d = spark.createDataFrame(
            [(1, "a a b"), (2, "a c"), (3, "b b b")],
            "doc_id long, text string",
        )
        out = {r["tok"]: r for r in token_stats(d).collect()}
        assert (out["a"]["tf"], out["a"]["df"]) == (3, 2)
        assert (out["b"]["tf"], out["b"]["df"]) == (4, 2)
        assert (out["c"]["tf"], out["c"]["df"]) == (1, 1)
        assert out["a"]["idf"] == pytest.approx(math.log(4 / 3) + 1, abs=1e-6)
        assert set(
            r["tok"] for r in token_stats(d, min_df=2).collect()
        ) == {"a", "b"}

    def test_near_dedup_surviving_corpus(self, spark, docs):
        from datacapsule_spark.operators.dedup import near_dedup

        # default: every LSH collision is a duplicate edge — doc 0's
        # cluster {0, 1, 2} keeps only min id 0
        kept = {r["doc_id"] for r in near_dedup(docs).collect()}
        assert 0 in kept and 2 not in kept and 1 not in kept
        assert {3, 4, 5, 6} <= kept
        # jaccard gate at 0.9: the 0.5-similar pair (0,1) survives,
        # only the exact dup is dropped
        gated = {r["doc_id"] for r in near_dedup(docs, min_jaccard=0.9).collect()}
        assert gated == {0, 1, 3, 4, 5, 6}

    def test_near_dedup_keep_best(self, spark):
        """keep_best_col keeps the highest-scoring cluster member (not
        min id); ties fall back to min id; singletons untouched."""
        from datacapsule_spark.operators.dedup import near_dedup

        base = "alpha beta gamma delta epsilon zeta eta theta " * 6
        rows = [
            (0, base, 1.0),
            (1, base, 9.0),            # same text, best score -> wins
            (2, base, 9.0),            # tie with 1 -> 1 wins (min id)
            (3, "totally different words entirely " * 8, 5.0),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, q double")
        kept = {
            r["doc_id"]
            for r in near_dedup(df, keep_best_col="q").collect()
        }
        assert kept == {1, 3}
        # default min-id rule unchanged
        kept_min = {r["doc_id"] for r in near_dedup(df).collect()}
        assert kept_min == {0, 3}

    def test_chunk_strip_roundtrip(self, spark):
        """With min_docs above the corpus size nothing is boilerplate:
        chunk(8,8) -> strip reassembles the whitespace-normalized text
        EXACTLY for 200 random word-soup docs (order preservation)."""
        import random

        from datacapsule_spark.operators.curation import boilerplate_strip
        from datacapsule_spark.operators.text import chunk_documents

        rng = random.Random(11)
        words = [f"w{i}" for i in range(30)]
        rows = [
            (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 40))))
            for i in range(200)
        ]
        d = spark.createDataFrame(rows, "doc_id long, text string")
        segs = chunk_documents(d, size=8, stride=8).select(
            "doc_id",
            F.col("chunk_idx").alias("seg_idx"),
            F.col("chunk").alias("seg"),
        )
        out = {
            r["doc_id"]: r["clean_text"]
            for r in boilerplate_strip(segs, min_docs=10**9).collect()
        }
        for i, t in rows:
            norm = " ".join(t.split())
            if norm:
                assert out[i] == norm
            else:
                assert i not in out  # zero-token docs produce no segments

    def test_sample_by_hash_partition_invariant(self, spark):
        from datacapsule_spark.operators.curation import sample_by_hash

        d = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        s1 = {
            r["doc_id"]
            for r in sample_by_hash(d.repartition(3), 0.3, "doc_id", "p").collect()
        }
        s2 = {
            r["doc_id"]
            for r in sample_by_hash(d.repartition(17), 0.3, "doc_id", "p").collect()
        }
        assert s1 == s2  # layout-independent membership


class TestSkew:
    def test_salted_collect_set_equals_direct(self, spark):
        from datacapsule_spark.operators.skew import salted_collect_set

        # hot key: 'h' carries 90% of rows, with heavy value repetition
        rows = [("h", f"v{i % 50}") for i in range(900)] + [
            (f"k{i % 5}", f"v{i}") for i in range(100)
        ]
        df = spark.createDataFrame(rows, "key string, val string")
        got = {
            r["key"]: r["values"]
            for r in salted_collect_set(df, ["key"], "val", n_salts=8).collect()
        }
        want = {
            r["key"]: sorted(r["direct"])
            for r in df.groupBy("key")
            .agg(F.collect_set("val").alias("direct"))
            .collect()
        }
        assert got == want
        # degenerate salt count behaves like the direct aggregation
        got1 = {
            r["key"]: r["values"]
            for r in salted_collect_set(df, ["key"], "val", n_salts=1).collect()
        }
        assert got1 == want
        with pytest.raises(ValueError):
            salted_collect_set(df, ["key"], "val", n_salts=0)

    def test_salted_collect_set_spreads_hot_key(self, spark):
        """Stage-1 groups for the hot key actually split across salts."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [("h", f"v{i}") for i in range(400)], "key string, val string"
        )
        n_groups = (
            df.groupBy(
                "key", F.pmod(F.xxhash64("val"), F.lit(8)).alias("_salt")
            )
            .count()
            .count()
        )
        assert n_groups == 8  # all 8 sub-groups populated


class TestCodeQuality:
    def test_code_quality_score(self, spark):
        from datacapsule_spark.operators.code_quality import code_quality_score

        rows = [
            ("r", "good.py", "c" * 40, "python",
             "# a comment\ndef f(x):\n    return x + 1\n"),
            ("r", "minified.js", "c" * 40, "javascript",
             "var a=1;" * 200),  # one 1600-char line
            ("r", "gen.py", "c" * 40, "python",
             "# AUTO-GENERATED by tool. DO NOT EDIT\nx = 1\n"),
            ("r", "packed.bin", "c" * 40, "python",
             "\x01\x02{}[]()!!$$%%^^&&**" * 50),
        ]
        d = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        out = {r["path"]: r for r in code_quality_score(d).collect()}
        assert out["good.py"]["code_quality"] >= 0.8
        assert out["good.py"]["comment_ratio"] > 0
        assert not out["good.py"]["is_autogen"]
        assert out["minified.js"]["max_line_len"] == 1600
        assert out["minified.js"]["code_quality"] < 0.5
        assert out["gen.py"]["is_autogen"]
        assert out["gen.py"]["code_quality"] == 0.0
        assert out["packed.bin"]["alnum_ratio"] == 0.0
        assert out["packed.bin"]["code_quality"] <= 0.7

    def test_quality_gate_filters_and_keeps_schema(self, spark):
        from datacapsule_spark.operators.code_quality import quality_gate

        rows = [
            ("r", "a.py", "c" * 40, "python", "x = 1\ny = 2\n"),
            ("r", "gen.py", "c" * 40, "python", "# generated by x. do not edit\n"),
        ]
        d = spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )
        kept = quality_gate(d, 0.5)
        assert kept.columns == d.columns
        assert [r["path"] for r in kept.collect()] == ["a.py"]

    def test_rebalance_by_source(self, spark):
        from datacapsule_spark.operators.curation import rebalance_by_source

        rows = [(i, "a" if i < 800 else "b") for i in range(1000)]
        d = spark.createDataFrame(rows, "doc_id long, source string")
        # target: a -> 20% of corpus (200 of 800 -> rate .25),
        #         b -> 40% (400 > 200 available -> rate capped at 1)
        out = rebalance_by_source(d, {"a": 0.2, "b": 0.4}, salt="t")
        by_src = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert by_src["b"] == 200  # capped at keep-everything
        assert 140 < by_src["a"] < 260  # ~0.25 * 800, hash-Bernoulli
        # deterministic + absent sources dropped
        again = {r["doc_id"] for r in
                 rebalance_by_source(d, {"a": 0.2, "b": 0.4}, salt="t").collect()}
        assert again == {r["doc_id"] for r in out.collect()}
        only_a = rebalance_by_source(d, {"a": 0.2}, salt="t")
        assert only_a.where(F.col("source") == "b").count() == 0


class TestGraphStats:
    def test_triangle_count_known_graphs(self, spark):
        from datacapsule_spark.operators.graph_stats import triangle_count

        def tc(edge_list):
            df = spark.createDataFrame(edge_list, "a long, b long")
            return triangle_count(df).collect()[0]["n_triangles"]

        # K4: C(4,3) = 4 triangles; input has duplicates + both directions
        k4 = [(i, j) for i in range(4) for j in range(4) if i != j]
        assert tc(k4) == 4
        # path graph: 0 triangles
        assert tc([(0, 1), (1, 2), (2, 3)]) == 0
        # one triangle + pendant; self-loop must be ignored
        assert tc([(0, 1), (1, 2), (2, 0), (2, 3), (3, 3)]) == 1
        # star (max-skew hub): 0 triangles, wedge fanout stays bounded
        assert tc([(0, i) for i in range(1, 50)]) == 0

    def test_triangle_count_matches_networkx(self, spark):
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import triangle_count

        rng = random.Random(5)
        edges = list({(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(300)})
        g = nx.Graph()
        g.add_edges_from((a, b) for a, b in edges if a != b)
        want = sum(nx.triangles(g).values()) // 3
        df = spark.createDataFrame(edges, "a long, b long")
        assert triangle_count(df).collect()[0]["n_triangles"] == want

    def test_link_prediction_matches_networkx(self, spark):
        """Common-neighbors / Jaccard / Adamic-Adar vs NetworkX on a
        seeded random graph: every candidate (non-adjacent, >=1 shared
        neighbor) pair present with matching scores."""
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import link_prediction

        rng = random.Random(11)
        edges = list({(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(120)})
        g = nx.Graph()
        g.add_edges_from((a, b) for a, b in edges if a != b)
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            (r["a"], r["b"]): r
            for r in link_prediction(df).collect()
        }

        want_jc = {
            tuple(sorted((u, v))): p
            for u, v, p in nx.jaccard_coefficient(g)
            if len(list(nx.common_neighbors(g, u, v))) > 0
        }
        want_aa = {
            tuple(sorted((u, v))): p
            for u, v, p in nx.adamic_adar_index(g)
            if len(list(nx.common_neighbors(g, u, v))) > 0
        }
        assert set(got) == set(want_jc)
        for pair, row in got.items():
            assert row["jaccard"] == pytest.approx(want_jc[pair], abs=1e-9)
            assert row["adamic_adar"] == pytest.approx(want_aa[pair], abs=1e-9)
            assert row["common_neighbors"] == len(
                list(nx.common_neighbors(g, *pair))
            )

    def test_link_prediction_hub_cap_and_existing(self, spark):
        """max_neighbor_degree drops hub wedges; exclude_existing=False
        scores adjacent pairs too (triangle closure)."""
        from datacapsule_spark.operators.graph_stats import link_prediction

        # star 0-{1,2,3} plus edge 1-2: hub 0 has degree 3
        df = spark.createDataFrame(
            [(0, 1), (0, 2), (0, 3), (1, 2)], "a long, b long"
        )
        base = {
            (r["a"], r["b"]): r for r in link_prediction(df).collect()
        }
        # non-adjacent pairs through the hub: (1,3), (2,3)
        assert set(base) == {(1, 3), (2, 3)}
        import math

        assert base[(1, 3)]["adamic_adar"] == pytest.approx(1 / math.log(3))

        # capping at degree 2 removes the hub's wedges entirely
        capped = link_prediction(df, max_neighbor_degree=2).collect()
        assert {(r["a"], r["b"]) for r in capped} == set()

        # scoring existing edges: (1,2) closes a triangle through 0
        withe = {
            (r["a"], r["b"]): r
            for r in link_prediction(df, exclude_existing=False).collect()
        }
        assert (1, 2) in withe and withe[(1, 2)]["common_neighbors"] == 1

    def test_shortest_paths_matches_networkx(self, spark):
        """BFS distances vs NetworkX, directed and undirected, with
        the hop budget cutting the reachable set."""
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import shortest_paths

        rng = random.Random(7)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 35), rng.randint(0, 35)) for _ in range(90)
            }
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        seed_node = min(a for a, _ in edges)
        seeds = df.agg(F.min("src").alias("s"))

        gd = nx.DiGraph(edges)
        for directed, g in ((True, gd), (False, gd.to_undirected())):
            for cap in (2, 10):
                want = {
                    n: d
                    for n, d in nx.single_source_shortest_path_length(
                        g, seed_node
                    ).items()
                    if d <= cap
                }
                got = {
                    r["node"]: r["dist"]
                    for r in shortest_paths(
                        df, seeds, max_hops=cap, directed=directed
                    ).collect()
                }
                assert got == want, (directed, cap)

    def test_random_walks_deterministic_replay(self, spark):
        """Hash-random walks replay exactly in pure Python (same md5
        choice rule); directed walks stop at dangling nodes."""
        import hashlib
        import random

        from datacapsule_spark.operators.graph_stats import random_walks

        rng = random.Random(13)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 20), rng.randint(0, 20)) for _ in range(60)
            }
            if a != b
        ]
        edges.append((0, 99))  # 99 is dangling in the directed graph
        df = spark.createDataFrame(edges, "src long, dst long")
        seeds_py = sorted({a for a, _ in edges})[:3] + [99]
        seeds = spark.createDataFrame([(s,) for s in seeds_py], "n long")

        for directed in (True, False):
            adj: dict = {}
            for a, b in set(edges):
                adj.setdefault(a, set()).add(b)
                if not directed:
                    adj.setdefault(b, set()).add(a)
            want = []
            for s in seeds_py:
                node = s
                want.append((s, 0, s))
                for step in range(1, 5):
                    nbrs = adj.get(node, set()) - {node}
                    if not nbrs:
                        break
                    node = min(
                        nbrs,
                        key=lambda v: (
                            hashlib.md5(f"w{s}:{step}:{v}".encode()).hexdigest(),
                            v,
                        ),
                    )
                    want.append((s, step, node))
            got = sorted(
                (r["walk_id"], r["step"], r["node"])
                for r in random_walks(
                    df, seeds, walk_len=4, directed=directed
                ).collect()
            )
            assert got == sorted(want), directed

    def test_closeness_matches_networkx(self, spark):
        """Closeness centrality vs NetworkX (wf_improved=False), both
        directed (incoming-distance convention) and undirected, on a
        seeded graph with a dangling node."""
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import closeness_centrality

        rng = random.Random(17)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 25), rng.randint(0, 25)) for _ in range(80)
            }
            if a != b
        ]
        edges.append((0, 99))  # 99: reachable, no out-edges
        df = spark.createDataFrame(edges, "src long, dst long")

        for directed, g in (
            (True, nx.DiGraph(edges)),
            (False, nx.Graph(edges)),
        ):
            want = nx.closeness_centrality(g, wf_improved=False)
            got = {
                r["node"]: r["closeness"]
                for r in closeness_centrality(df, directed=directed).collect()
            }
            assert set(got) == set(want)
            for n in want:
                assert got[n] == pytest.approx(want[n], abs=1e-9), (
                    directed,
                    n,
                )

    def test_hits_matches_power_iteration_and_networkx(self, spark):
        """HITS vs a pure-Python replica of the same update order at
        the same iteration count (1e-9), and vs NetworkX's converged
        fixed point (normalization conventions cancel at the fixed
        point)."""
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import hits

        rng = random.Random(23)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 20), rng.randint(0, 20)) for _ in range(70)
            }
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: (r["hub"], r["authority"])
            for r in hits(df, max_iter=40).collect()
        }

        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        n = len(nodes)
        h = {v: 1.0 / n for v in nodes}
        for _ in range(40):
            a_raw = {v: 0.0 for v in nodes}
            for u, v in set(edges):
                a_raw[v] += h[u]
            tot = sum(a_raw.values())
            a = {v: (a_raw[v] / tot if tot else 0.0) for v in nodes}
            h_raw = {v: 0.0 for v in nodes}
            for u, v in set(edges):
                h_raw[u] += a[v]
            tot = sum(h_raw.values())
            h = {v: (h_raw[v] / tot if tot else 0.0) for v in nodes}
        assert set(got) == set(nodes)
        for v in nodes:
            assert got[v][0] == pytest.approx(h[v], abs=1e-9)
            assert got[v][1] == pytest.approx(a[v], abs=1e-9)

        try:  # nx.hits needs scipy — absent in this container
            hn, an = nx.hits(nx.DiGraph(set(edges)), max_iter=2000, tol=1e-12)
        except ModuleNotFoundError:
            return
        for v in nodes:
            assert got[v][0] == pytest.approx(hn[v], abs=1e-4)
            assert got[v][1] == pytest.approx(an[v], abs=1e-4)

    def test_betweenness_sampled_sources(self, spark):
        """sources=all ≡ exact; a half sample is the Brandes-subset
        estimator scaled by n/|S| (top nodes stay top)."""
        import random

        from datacapsule_spark.operators.graph_stats import (
            betweenness_centrality,
        )

        rng = random.Random(37)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 15), rng.randint(0, 15)) for _ in range(40)
            }
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        all_src = spark.createDataFrame([(n,) for n in nodes], "n long")
        for directed in (False, True):
            exact = {
                r["node"]: r["betweenness"]
                for r in betweenness_centrality(df, directed=directed).collect()
            }
            # sources=all runs a DIFFERENT algorithm (Brandes backward
            # sweep vs the pair-dependency triple join) — equality is a
            # cross-implementation pin
            full = {
                r["node"]: r["betweenness"]
                for r in betweenness_centrality(
                    df, directed=directed, sources=all_src
                ).collect()
            }
            for n in nodes:
                assert full[n] == pytest.approx(exact[n], abs=1e-9), (
                    directed,
                    n,
                )
        exact = {
            r["node"]: r["betweenness"]
            for r in betweenness_centrality(df).collect()
        }

        half = spark.createDataFrame(
            [(n,) for n in nodes[::2]], "n long"
        )
        est = {
            r["node"]: r["betweenness"]
            for r in betweenness_centrality(df, sources=half).collect()
        }
        # unbiasedness is statistical; assert the estimator is sane:
        # non-negative, and the true top node scores well above the
        # sample's median
        assert all(v >= 0 for v in est.values())
        top = max(exact, key=lambda n: exact[n])
        med = sorted(est.values())[len(est) // 2]
        assert est[top] >= med

    def test_hits_self_loops_only_returns_empty(self, spark):
        """Non-empty edge input that is ALL self-loops leaves zero
        nodes after loop filtering — hits must return an empty frame,
        not ZeroDivisionError (ADVICE r05: graph_stats.py:583)."""
        from datacapsule_spark.operators.graph_stats import hits

        df = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")
        out = hits(df, max_iter=5)
        assert out.columns == ["node", "hub", "authority"]
        assert out.count() == 0

    def test_exact_centrality_guard_rails(self, spark):
        """VERDICT r05 #2: the all-pairs exact defaults REFUSE above
        max_exact_nodes with routing guidance; the sampled/subset scale
        paths still run under the same ceiling, and the closeness
        subset path equals the full run restricted to the subset."""
        import random

        from datacapsule_spark.operators.graph_stats import (
            betweenness_centrality,
            closeness_centrality,
        )

        rng = random.Random(53)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 15), rng.randint(0, 15)) for _ in range(40)
            }
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        assert len(nodes) > 5

        with pytest.raises(ValueError, match="max_exact_nodes"):
            closeness_centrality(df, max_exact_nodes=5).collect()
        with pytest.raises(ValueError, match="max_exact_nodes"):
            betweenness_centrality(df, max_exact_nodes=5).collect()

        sub = spark.createDataFrame([(n,) for n in nodes[:4]], "n long")
        # subset/sampled paths are exempt from the ceiling by design
        got = {
            r["node"]: r["closeness"]
            for r in closeness_centrality(
                df, nodes_subset=sub, max_exact_nodes=5
            ).collect()
        }
        full = {
            r["node"]: r["closeness"]
            for r in closeness_centrality(df).collect()
        }
        assert set(got) == set(nodes[:4])
        for n in got:
            assert got[n] == pytest.approx(full[n], abs=1e-9)
        est = betweenness_centrality(df, sources=sub, max_exact_nodes=5)
        assert est.count() == len(nodes)
        # ceiling=None forces the exact screen deliberately
        assert (
            closeness_centrality(df, max_exact_nodes=None).count()
            == len(nodes)
        )

    def test_linkpred_capped_jaccard_uses_capped_sets(self, spark):
        """ADVICE r05: with max_neighbor_degree set, jaccard must be
        |A'∩B'|/|A'∪B'| of the CAPPED neighbor sets (hub neighbors
        dropped from numerator AND denominator), cross-checked against
        a pure-Python replica."""
        from datacapsule_spark.operators.graph_stats import link_prediction

        # hub 0 adjacent to everyone; 1-2-3 a path; 4 hangs off 1
        edges = [(0, i) for i in range(1, 6)] + [(1, 2), (2, 3), (1, 4)]
        df = spark.createDataFrame(edges, "a long, b long")
        cap = 4  # drops hub 0 (degree 5) as a shared neighbor

        nbr = {}
        for a, b in edges:
            nbr.setdefault(a, set()).add(b)
            nbr.setdefault(b, set()).add(a)
        capped = {
            n: {z for z in zs if len(nbr[z]) <= cap} for n, zs in nbr.items()
        }
        rows = link_prediction(df, max_neighbor_degree=cap).collect()
        assert rows, "capped run still finds non-hub wedges"
        for r in rows:
            a, b = r["a"], r["b"]
            inter = capped[a] & capped[b]
            union = capped[a] | capped[b]
            assert r["common_neighbors"] == len(inter), (a, b)
            assert r["jaccard"] == pytest.approx(
                len(inter) / len(union), abs=1e-9
            ), (a, b)

    def test_weighted_shortest_paths_matches_dijkstra(self, spark):
        """Bellman-Ford with a generous hop budget equals NetworkX
        Dijkstra distances; a tight hop budget enforces the ≤k-edge
        semantics (hand-checked on a triangle-with-shortcut)."""
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import (
            weighted_shortest_paths,
        )

        rng = random.Random(41)
        edges = [
            (a, b, round(rng.uniform(0.1, 2.0), 3))
            for a, b in {
                (rng.randint(0, 20), rng.randint(0, 20)) for _ in range(70)
            }
            if a != b
        ]
        df = spark.createDataFrame(edges, "src long, dst long, weight double")
        seeds = df.agg(F.min("src").alias("s"))
        s0 = min(a for a, _, _ in edges)

        for directed in (True, False):
            g = nx.DiGraph() if directed else nx.Graph()
            for a, b, w in edges:
                # parallel/reverse duplicates: keep the cheapest, like
                # the operator
                if g.has_edge(a, b):
                    g[a][b]["weight"] = min(g[a][b]["weight"], w)
                else:
                    g.add_edge(a, b, weight=w)
            want = nx.single_source_dijkstra_path_length(g, s0)
            got = {
                r["node"]: r["dist"]
                for r in weighted_shortest_paths(
                    df, seeds, max_hops=30, directed=directed
                ).collect()
            }
            assert set(got) == set(want)
            for n in want:
                assert got[n] == pytest.approx(want[n], abs=1e-9), (directed, n)

        # hop budget: direct edge costs 10, two-hop detour costs 2 —
        # with max_hops=1 only the direct edge is reachable
        tri = spark.createDataFrame(
            [(0, 1, 10.0), (0, 2, 1.0), (2, 1, 1.0)],
            "src long, dst long, weight double",
        )
        seeds0 = spark.createDataFrame([(0,)], "s long")
        one = {
            r["node"]: r["dist"]
            for r in weighted_shortest_paths(tri, seeds0, max_hops=1).collect()
        }
        assert one[1] == 10.0 and one[2] == 1.0
        two = {
            r["node"]: r["dist"]
            for r in weighted_shortest_paths(tri, seeds0, max_hops=2).collect()
        }
        assert two[1] == 2.0

    def test_local_clustering_matches_networkx(self, spark):
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import local_clustering

        rng = random.Random(31)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 30), rng.randint(0, 30)) for _ in range(150)
            }
            if a != b
        ]
        g = nx.Graph(edges)
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["node"]: r
            for r in local_clustering(df).collect()
        }
        want_t = nx.triangles(g)
        want_c = nx.clustering(g)
        assert set(got) == set(want_t)
        for n in want_t:
            assert got[n]["triangles"] == want_t[n], n
            assert got[n]["lcc"] == pytest.approx(want_c[n], abs=1e-9), n

    def test_betweenness_matches_networkx(self, spark):
        """Exact betweenness (pair-dependency identity over the
        σ-table) vs NetworkX Brandes, directed and undirected, on a
        seeded random graph plus a dangling node."""
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import (
            betweenness_centrality,
        )

        rng = random.Random(29)
        edges = [
            (a, b)
            for a, b in {
                (rng.randint(0, 18), rng.randint(0, 18)) for _ in range(50)
            }
            if a != b
        ]
        edges.append((0, 99))
        df = spark.createDataFrame(edges, "src long, dst long")

        for directed, g in (
            (True, nx.DiGraph(set(edges))),
            (False, nx.Graph(set(edges))),
        ):
            want = nx.betweenness_centrality(g, normalized=False)
            got = {
                r["node"]: r["betweenness"]
                for r in betweenness_centrality(
                    df, directed=directed
                ).collect()
            }
            assert set(got) == set(want)
            for n in want:
                assert got[n] == pytest.approx(want[n], abs=1e-9), (
                    directed,
                    n,
                )

    def test_pagerank_matches_power_iteration(self, spark):
        import random

        from datacapsule_spark.operators.graph_stats import pagerank

        rng = random.Random(3)
        edges = list(
            {(rng.randint(0, 25), rng.randint(0, 25)) for _ in range(120)}
        )
        edges = [(a, b) for a, b in edges if a != b]
        # include a dangling node: 99 has an in-edge but no out-edge
        edges.append((0, 99))
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["rank"]
            for r in pagerank(df, max_iter=40).collect()
        }

        # pure-Python power-iteration oracle (same dangling handling)
        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        out = {v: [] for v in nodes}
        for a, b in edges:
            out[a].append(b)
        d, n = 0.85, len(nodes)
        want = {v: 1.0 / n for v in nodes}
        for _ in range(40):
            dangling = sum(want[v] for v in nodes if not out[v])
            nxt = {v: (1 - d) / n + d * dangling / n for v in nodes}
            for v in nodes:
                for w in out[v]:
                    nxt[w] += d * want[v] / len(out[v])
            want = nxt

        assert abs(sum(got.values()) - 1.0) < 1e-9  # probability mass
        for node, w in want.items():
            assert got[node] == pytest.approx(w, abs=1e-9), node

    def test_personalized_pagerank_matches_power_iteration(self, spark):
        """PPR == pure-Python power iteration where teleport AND
        dangling mass restart at the seed distribution; list-seed and
        DataFrame-seed paths agree; absent seeds raise."""
        import random

        from datacapsule_spark.operators.graph_stats import (
            personalized_pagerank,
        )

        rng = random.Random(7)
        edges = list(
            {(rng.randint(0, 25), rng.randint(0, 25)) for _ in range(120)}
        )
        edges = [(a, b) for a, b in edges if a != b]
        edges.append((0, 99))  # dangling node 99
        df = spark.createDataFrame(edges, "src long, dst long")
        seeds = [3, 99]
        got = {
            r["node"]: r["rank"]
            for r in personalized_pagerank(df, seeds, max_iter=40).collect()
        }

        nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
        out = {v: [] for v in nodes}
        for a, b in edges:
            out[a].append(b)
        d = 0.85
        p = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
        want = dict(p)
        for _ in range(40):
            dangling = sum(want[v] for v in nodes if not out[v])
            nxt = {v: (1 - d) * p[v] + d * dangling * p[v] for v in nodes}
            for v in nodes:
                for w in out[v]:
                    nxt[w] += d * want[v] / len(out[v])
            want = nxt

        assert abs(sum(got.values()) - 1.0) < 1e-9  # probability mass
        for node, w in want.items():
            assert got[node] == pytest.approx(w, abs=1e-9), node

        # DataFrame-seed path == list path
        sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
        got_df = {
            r["node"]: r["rank"]
            for r in personalized_pagerank(df, sdf, max_iter=40).collect()
        }
        for node in got:
            assert got_df[node] == pytest.approx(got[node], abs=1e-12)

        # a seed outside the graph would leak restart mass -> raise
        with pytest.raises(ValueError, match="not nodes of the graph"):
            personalized_pagerank(df, [3, 123456], max_iter=1)

    def test_label_propagation_communities(self, spark):
        """Two cliques joined by one bridge edge: every node converges
        to its clique's min label (the bridge can't outvote the
        clique); deterministic across runs; plus a hand-computed
        1-round example pinning the min-label tie-break."""
        from datacapsule_spark.operators.graph_stats import label_propagation

        cliques = []
        for base in (0, 10):
            ids = [base + i for i in range(4)]
            cliques += [(a, b) for a in ids for b in ids if a < b]
        cliques.append((3, 10))  # bridge
        df = spark.createDataFrame(cliques, "a long, b long")
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, max_iter=6).collect()
        }
        assert {got[i] for i in (0, 1, 2, 3)} == {0}
        assert {got[i] for i in (10, 11, 12, 13)} == {10}
        again = {
            r["node"]: r["label"]
            for r in label_propagation(df, max_iter=6).collect()
        }
        assert again == got  # deterministic

        # 1 round on a path 1-2-3: every neighbor label is unique, so
        # the tie-break picks the SMALLEST neighbor label
        path = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
        one = {
            r["node"]: r["label"]
            for r in label_propagation(path, max_iter=1).collect()
        }
        assert one == {1: 2, 2: 1, 3: 2}

    def test_k_core_matches_networkx(self, spark):
        """k_core (parallel peeling) == NetworkX's k_core node set on a
        random graph for k = 2 and 3, plus the empty-core edge case."""
        import random

        nx = pytest.importorskip("networkx")
        from datacapsule_spark.operators.graph_stats import k_core

        rng = random.Random(9)
        edges = list({(rng.randint(0, 40), rng.randint(0, 40)) for _ in range(160)})
        edges = [(a, b) for a, b in edges if a != b]
        g = nx.Graph()
        g.add_edges_from(edges)
        df = spark.createDataFrame(edges, "a long, b long")
        for k in (2, 3):
            want = set(nx.k_core(g, k).nodes())
            got = {r["node"] for r in k_core(df, k=k).collect()}
            assert got == want, k
        # a tree has no 2-core
        tree = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 3), (1, 4)], "a long, b long"
        )
        assert k_core(tree, k=2).count() == 0
        # path graph: peeling depth is O(n) (two endpoints per round)
        # — an insufficient max_iter must RAISE, never return the
        # unpeeled remainder as a fake core (review finding)
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "a long, b long"
        )
        with pytest.raises(RuntimeError, match="converge"):
            k_core(chain, k=2, max_iter=3)
        assert k_core(chain, k=2, max_iter=50).count() == 0

    def test_pack_sequences(self, spark):
        from datacapsule_spark.operators.curation import pack_sequences

        # one source: docs of 6, 5, 4, 10, 3 tokens; capacity 10
        # cum-before: 0, 6, 11, 15, 25 -> bins 0, 0, 1, 1, 2
        rows = [
            (1, "s", "a b c d e f"),
            (2, "s", "a b c d e"),
            (3, "s", "a b c d"),
            (4, "s", "a b c d e f g h i j"),
            (5, "s", "a b c"),
        ]
        d = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {
            r["bin_id"]: r for r in pack_sequences(d, capacity=10).collect()
        }
        assert (out[0]["n_docs"], out[0]["n_tokens"]) == (2, 11)
        assert (out[0]["first_doc"], out[0]["last_doc"]) == (1, 2)
        assert (out[1]["n_docs"], out[1]["n_tokens"]) == (2, 14)
        assert (out[2]["n_docs"], out[2]["n_tokens"]) == (1, 3)
        # bins are per-part streams: a second source restarts at bin 0
        d2 = d.unionByName(
            spark.createDataFrame(
                [(9, "t", "x y z")], "doc_id long, source string, text string"
            )
        )
        parts = {
            (r["part"], r["bin_id"])
            for r in pack_sequences(d2, capacity=10).collect()
        }
        assert ("t", 0) in parts
        with pytest.raises(ValueError):
            pack_sequences(d, capacity=0)

    def test_minhash_fast_hash_path(self, spark, docs):
        """xxhash64 signatures keep banding semantics: identical docs
        always collide, and the Jaccard-gated near-dedup output matches
        the md5 path exactly (the gate makes the final result
        hash-choice-independent for clear-cut duplicates)."""
        from datacapsule_spark.operators.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
            near_dedup,
        )

        sig = minhash_signatures(docs, hash_fn="xxhash64")
        assert dict(sig.dtypes)["sig"] == "array<bigint>"
        pairs = {
            (r["a"], r["b"])
            for r in minhash_lsh_pairs(sig, hash_fn="xxhash64").collect()
        }
        assert (0, 2) in pairs  # exact dup collides under any hash
        kept_md5 = {
            r["doc_id"] for r in near_dedup(docs, min_jaccard=0.9).collect()
        }
        kept_xx = {
            r["doc_id"]
            for r in near_dedup(docs, min_jaccard=0.9, hash_fn="xxhash64").collect()
        }
        assert kept_xx == kept_md5
        with pytest.raises(ValueError):
            minhash_signatures(docs, hash_fn="sha9")


class TestMotif:
    @pytest.fixture()
    def g(self, spark):
        # a -> b -> c, a -> c (closed wedge), c -> d (open tail),
        # x -> y isolated
        return spark.createDataFrame(
            [
                ("a", "knows", "b"),
                ("b", "knows", "c"),
                ("a", "likes", "c"),
                ("c", "knows", "d"),
                ("x", "knows", "y"),
            ],
            "src string, relation string, dst string",
        )

    def test_path_motif_with_named_edges(self, spark, g):
        from datacapsule_spark.operators.motif import find_motif

        got = {
            (r["u"], r["v"], r["w"], r["e1"], r["e2"])
            for r in find_motif(g, "(u)-[e1]->(v); (v)-[e2]->(w)").collect()
        }
        assert got == {
            ("a", "b", "c", "knows", "knows"),
            ("b", "c", "d", "knows", "knows"),
            ("a", "c", "d", "likes", "knows"),
        }

    def test_negation_open_wedges(self, spark, g):
        from datacapsule_spark.operators.motif import find_motif

        got = {
            (r["u"], r["v"], r["w"])
            for r in find_motif(
                g, "(u)-[]->(v); (v)-[]->(w); !(u)-[]->(w)"
            ).collect()
        }
        # a->b->c is CLOSED by a->c; the two wedges ending at d stay open
        assert got == {("b", "c", "d"), ("a", "c", "d")}

    def test_vertex_unification_and_anonymous(self, spark, g):
        from datacapsule_spark.operators.motif import find_motif

        # anonymous middle vertex: fresh variable, still a real join?
        # no — `()` never unifies, so this is out-edges × in-edges of
        # ANY pair (disconnected). Use a named middle to unify:
        fan_in = find_motif(g, "(u)-[]->(m); (v)-[]->(m)").where(
            F.col("u") < F.col("v")
        )
        got = {(r["u"], r["v"], r["m"]) for r in fan_in.collect()}
        assert got == {("a", "b", "c")}  # both a and b point at c

    def test_motif_matches_triangle_count(self, spark):
        """Cross-operator consistency on a random graph: directed
        triangle motif instances == 3! orientations-free triangle count
        from operators/graph_stats (each undirected triangle of the
        a<b DAG appears exactly once as a-b-c with a<b<c)."""
        import random

        from datacapsule_spark.operators.graph_stats import triangle_count
        from datacapsule_spark.operators.motif import find_motif

        rng = random.Random(11)
        edges = {
            (a, b)
            for a in range(20)
            for b in range(a + 1, 20)
            if rng.random() < 0.3
        }
        df = spark.createDataFrame(
            [(f"n{a}", "e", f"n{b}") for a, b in edges],
            "src string, relation string, dst string",
        )
        tri_motif = find_motif(
            df, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)"
        ).count()
        tri = triangle_count(
            df.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        ).collect()[0]["n_triangles"]
        assert tri_motif == tri > 0

    def test_relation_predicates(self, spark, g):
        """`[e:rel]` / `[:rel]` terms match only edges of that relation
        (r03 VERDICT item 7 — the reference's typed traversals, e.g.
        its 包含-only chains, as one motif term)."""
        from datacapsule_spark.operators.motif import find_motif

        # typed 2-path: knows then likes — only b-knows->c? no: need
        # u-knows->v-likes->w; the only likes edge is a->c, and nothing
        # knows a, so empty; knows-knows gives the two knows chains
        kk = {
            (r["u"], r["v"], r["w"])
            for r in find_motif(
                g, "(u)-[:knows]->(v); (v)-[:knows]->(w)"
            ).collect()
        }
        assert kk == {("a", "b", "c"), ("b", "c", "d")}
        # named + predicate: binds the (constant) relation column too
        named = find_motif(g, "(u)-[e:likes]->(v)").collect()
        assert {(r["u"], r["v"], r["e"]) for r in named} == {("a", "c", "likes")}
        # negation with predicate: a->b->c is closed by a-likes->c, so
        # requiring the ABSENCE of a likes-closure keeps only the
        # wedges ending at d; absence of a knows-closure keeps all 3
        open_likes = {
            (r["u"], r["v"], r["w"])
            for r in find_motif(
                g, "(u)-[]->(v); (v)-[]->(w); !(u)-[:likes]->(w)"
            ).collect()
        }
        assert open_likes == {("b", "c", "d"), ("a", "c", "d")}
        open_knows = {
            (r["u"], r["v"], r["w"])
            for r in find_motif(
                g, "(u)-[]->(v); (v)-[]->(w); !(u)-[:knows]->(w)"
            ).collect()
        }
        assert open_knows == {("a", "b", "c"), ("b", "c", "d"), ("a", "c", "d")}
        # multi-byte relation values work (value runs to the bracket)
        gz = spark.createDataFrame(
            [("s1", "包含", "o1"), ("s1", "related", "o2")],
            "src string, relation string, dst string",
        )
        zh = find_motif(gz, "(s)-[:包含]->(o)").collect()
        assert {(r["s"], r["o"]) for r in zh} == {("s1", "o1")}

    def test_pattern_validation(self, spark, g):
        from datacapsule_spark.operators.motif import find_motif

        with pytest.raises(ValueError, match="bad motif term"):
            find_motif(g, "(a)->(b)")
        with pytest.raises(ValueError, match="positive"):
            find_motif(g, "!(a)-[]->(b)")
        with pytest.raises(ValueError, match="bound"):
            find_motif(g, "(a)-[]->(b); !(a)-[]->(z)")
        with pytest.raises(ValueError, match="duplicate"):
            find_motif(g, "(a)-[a]->(b)")
        with pytest.raises(ValueError, match="edge name"):
            find_motif(g, "(a)-[e]->(b); !(b)-[f]->(a)")

    def test_varlen_paths(self, spark, g):
        """`[*lo..hi]` terms = bounded typed reachability, verified
        against a pure-Python BFS over the same edge list for every
        bound form; composes with fixed terms and negation."""
        import itertools

        from datacapsule_spark.operators.motif import find_motif

        edge_list = [(r["src"], r["relation"], r["dst"]) for r in g.collect()]

        def py_reach(lo, hi, rel=None):
            adj = {}
            for s, r, d in edge_list:
                if rel is None or r == rel:
                    adj.setdefault(s, set()).add(d)
            out = set()
            for start in {s for s, _, _ in edge_list} | {
                d for _, _, d in edge_list
            }:
                frontier = {start}
                for depth in range(1, hi + 1):
                    frontier = set(
                        itertools.chain.from_iterable(
                            adj.get(n, ()) for n in frontier
                        )
                    )
                    if depth >= lo:
                        out.update((start, t) for t in frontier)
            return out

        for pat, lo, hi, rel in [
            ("(a)-[*1..3]->(b)", 1, 3, None),
            ("(a)-[*..2]->(b)", 1, 2, None),
            ("(a)-[*2]->(b)", 2, 2, None),
            ("(a)-[*2..3]->(b)", 2, 3, None),
            ("(a)-[*1..3:knows]->(b)", 1, 3, "knows"),
        ]:
            got = {(r["a"], r["b"]) for r in find_motif(g, pat).collect()}
            assert got == py_reach(lo, hi, rel), pat

        # composes with a fixed term: nodes w one knows-hop after a
        # bounded walk from u
        got = {
            (r["u"], r["m"], r["w"])
            for r in find_motif(
                g, "(u)-[*1..2:knows]->(m); (m)-[:likes]->(w)"
            ).collect()
        }
        # likes edges: a->c only; walks of length 1-2 over knows ending
        # at a: none (nothing reaches a) -> empty
        assert got == set()
        got2 = {
            (r["u"], r["m"], r["w"])
            for r in find_motif(
                g, "(u)-[:likes]->(m); (m)-[*1..2:knows]->(w)"
            ).collect()
        }
        assert got2 == {("a", "c", "d")}  # a-likes->c, c-knows->d

        # negated var-length: pairs (u,v) 1 hop apart with NO knows-walk
        # of length <= 2 from v back to u (trivially all, no cycles) and
        # the d-tail NOT reaching anything 2 out
        no_back = find_motif(g, "(u)-[]->(v); !(v)-[*1..2]->(u)").count()
        assert no_back == g.count()  # DAG: nothing walks back

        # self-referential terms (first binding): '(a)-[]->(a)' is only
        # self-loops, '(a)-[*1..2]->(a)' only cycle members — without
        # the in-term src==dst constraint these would match everything
        gc = spark.createDataFrame(
            [("a", "e", "b"), ("b", "e", "a"), ("c", "e", "d"), ("s", "e", "s")],
            "src string, relation string, dst string",
        )
        loops = {r["n"] for r in find_motif(gc, "(n)-[]->(n)").collect()}
        assert loops == {"s"}
        cyc = {r["n"] for r in find_motif(gc, "(n)-[*1..2]->(n)").collect()}
        assert cyc == {"a", "b", "s"}
        assert find_motif(g, "(n)-[*1..3]->(n)").count() == 0  # DAG

        # validation: unbounded / zero bounds raise
        with pytest.raises(ValueError, match="upper bound"):
            find_motif(g, "(a)-[*1..]->(b)")
        with pytest.raises(ValueError, match="bad motif term|bounds"):
            find_motif(g, "(a)-[*]->(b)")
        with pytest.raises(ValueError, match="1 <= lo <= hi"):
            find_motif(g, "(a)-[*0..2]->(b)")
        with pytest.raises(ValueError, match="1 <= lo <= hi"):
            find_motif(g, "(a)-[*3..2]->(b)")


class TestRollup:
    def test_incremental_rollup_equals_full(self, spark, tmp_path):
        """Two delta refreshes == one full rollup, and the second
        refresh rewrites ONLY its affected hour partitions."""
        import os
        import time

        from pyspark.sql import functions as F

        from datacapsule_spark.operators.rollup import (
            hourly_rollup,
            read_rollup,
            refresh_hourly_rollup,
            with_avg,
        )

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # split by hour parity so delta 2 touches disjoint partitions
        hr = F.hour(F.col("ts").cast("timestamp"))
        d1 = events.where(hr % 2 == 0)
        d2 = events.where(hr % 2 == 1)
        rdir = str(tmp_path / "rollup")

        h1 = refresh_hourly_rollup(spark, rdir, d1)
        assert h1  # wrote the even-hour partitions
        mtimes1 = {
            e: os.path.getmtime(os.path.join(rdir, e))
            for e in os.listdir(rdir)
            if e.startswith("hour=")
        }
        time.sleep(1.1)
        h2 = refresh_hourly_rollup(spark, rdir, d2)
        assert set(h1).isdisjoint(h2)

        got = {
            (r["hour"], r["event_type"]): (r["n"], r["sum_value"], r["avg_value"])
            for r in with_avg(read_rollup(spark, rdir)).collect()
        }
        want = {
            (r["hour"], r["event_type"]): (r["n"], r["sum_value"], r["avg_value"])
            for r in with_avg(hourly_rollup(events)).collect()
        }
        assert got == want
        # untouched partitions kept their files (dynamic overwrite)
        for e, t in mtimes1.items():
            assert os.path.getmtime(os.path.join(rdir, e)) == t, e

    def test_rollup_merge_same_hours(self, spark, tmp_path):
        """A delta hitting EXISTING hours merges partials, not appends."""
        from datacapsule_spark.operators.rollup import refresh_hourly_rollup

        rows = [("2024-01-01 10:15:00", "click", 2.0),
                ("2024-01-01 10:45:00", "click", 4.0)]
        d1 = spark.createDataFrame(rows[:1], "ts string, event_type string, value double")
        d2 = spark.createDataFrame(rows[1:], "ts string, event_type string, value double")
        rdir = str(tmp_path / "r2")
        refresh_hourly_rollup(spark, rdir, d1)
        refresh_hourly_rollup(spark, rdir, d2)
        from datacapsule_spark.operators.rollup import read_rollup

        out = read_rollup(spark, rdir).collect()
        assert len(out) == 1
        assert (out[0]["n"], out[0]["sum_value"]) == (2, 6.0)
        # REPLAY of an already-applied batch is a no-op (idempotence
        # under at-least-once delivery): same delta, same derived id
        refresh_hourly_rollup(spark, rdir, d2)
        refresh_hourly_rollup(spark, rdir, d2, batch_id="b7")
        refresh_hourly_rollup(spark, rdir, d2, batch_id="b7")
        out = read_rollup(spark, rdir).collect()
        # one extra copy from the explicit NEW batch id b7, not three
        assert (out[0]["n"], out[0]["sum_value"]) == (3, 10.0)

    def test_corrected_replay_purges_vacated_hours(self, spark, tmp_path):
        """Re-submitting a batch_id with content covering FEWER hours
        must purge the batch's old rows in the hours the correction no
        longer touches — including deleting an hour directory the batch
        alone populated."""
        import os

        from datacapsule_spark.operators.rollup import (
            read_rollup, refresh_hourly_rollup,
        )

        schema = "ts string, event_type string, value double"
        rdir = str(tmp_path / "r3")
        other = spark.createDataFrame(
            [("2024-01-01 10:00:00", "view", 1.0)], schema
        )
        refresh_hourly_rollup(spark, rdir, other, batch_id="base")
        # batch b1 v1: hours 10 and 11 (11 populated ONLY by b1)
        v1 = spark.createDataFrame(
            [("2024-01-01 10:30:00", "click", 2.0),
             ("2024-01-01 11:30:00", "click", 8.0)], schema
        )
        refresh_hourly_rollup(spark, rdir, v1, batch_id="b1")
        # corrected b1: hour 10 only, different value
        v2 = spark.createDataFrame(
            [("2024-01-01 10:30:00", "click", 5.0)], schema
        )
        refresh_hourly_rollup(spark, rdir, v2, batch_id="b1")
        got = {
            (r["hour"], r["event_type"]): (r["n"], r["sum_value"])
            for r in read_rollup(spark, rdir).collect()
        }
        assert got == {
            ("2024-01-01-10", "view"): (1, 1.0),
            ("2024-01-01-10", "click"): (1, 5.0),
        }  # no 11-hour remnant, no double-count
        assert not os.path.isdir(os.path.join(rdir, "hour=2024-01-01-11"))

    def test_backfill_delta_refused_above_max_hours(self, spark, tmp_path):
        import pytest

        from datacapsule_spark.operators.rollup import refresh_hourly_rollup

        wide = spark.createDataFrame(
            [(f"2024-01-01 {h:02d}:00:00", "click", 1.0) for h in range(5)],
            "ts string, event_type string, value double",
        )
        with pytest.raises(ValueError, match="backfill"):
            refresh_hourly_rollup(
                spark, str(tmp_path / "r4"), wide, max_hours=3
            )

    def test_containment_token_boundary_semantics(self, spark):
        """Token-boundary containment: a char-level substring landing
        mid-token is NOT a match (the semantics under which the
        rarest-shingle blocking is provably complete)."""
        from datacapsule_spark.operators.dedup import containment_pairs

        d = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon"),
                (2, "prefixalpha beta gamma delta epsilon"),  # mid-token
                (3, "x alpha beta gamma delta epsilon y"),    # boundary
                (4, "alpha  beta   gamma delta epsilon"),     # ws-normalized dup
            ],
            "doc_id long, text string",
        )
        got = {
            (r["inner_id"], r["outer_id"])
            for r in containment_pairs(d, shingle_n=5).collect()
        }
        assert (1, 3) in got
        assert (1, 2) not in got  # 'prefixalpha' does not contain token 'alpha'
        assert (1, 4) in got and (4, 1) not in got  # normalized tie → a<b
        assert (4, 3) in got


class TestProfile:
    def test_profile_table(self, spark):
        from datacapsule_spark.operators.text import profile_table

        d = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "c"), (None, "a")],
            "k long, s string",
        )
        out = {r["column_name"]: r for r in profile_table(d).collect()}
        assert (out["k"]["n_nulls"], out["k"]["n_distinct"]) == (1, 2)
        assert (out["k"]["min_value"], out["k"]["max_value"]) == ("1", "2")
        assert (out["s"]["n_nulls"], out["s"]["n_distinct"]) == (1, 2)
        assert (out["s"]["min_value"], out["s"]["max_value"]) == ("a", "c")
        # approx path: same shape, distinct within HLL tolerance
        approx = {
            r["column_name"]: r["n_distinct"]
            for r in profile_table(d, exact=False).collect()
        }
        assert abs(approx["k"] - 2) <= 1


class TestRedactPII:
    def test_redact_and_count(self, spark):
        from datacapsule_spark.operators.curation import redact_pii

        d = spark.createDataFrame(
            [
                (1, "mail a.b+c@sub.example.org now"),
                (2, "hosts 10.0.0.1 and 192.168.255.254"),
                (3, "call 555-123-4567 or 555.987.6543"),
                (4, "clean text, no pii at all"),
                (5, "x@y.io on 1.2.3.4 tel 111-222-3333"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in redact_pii(d).collect()}
        assert out[1]["text"] == "mail <EMAIL> now"
        assert (out[1]["n_email"], out[1]["pii_total"]) == (1, 1)
        assert out[2]["text"] == "hosts <IP> and <IP>"
        assert out[2]["n_ip"] == 2
        assert out[3]["text"] == "call <PHONE> or <PHONE>"
        assert out[3]["n_phone"] == 2
        assert out[4]["text"] == "clean text, no pii at all"
        assert out[4]["pii_total"] == 0
        assert out[5]["text"] == "<EMAIL> on <IP> tel <PHONE>"
        assert out[5]["pii_total"] == 3

    def test_version_string_not_an_ip(self, spark):
        from datacapsule_spark.operators.curation import redact_pii

        # a 5-part dotted run is not an IPv4; \b keeps 3-part versions safe
        d = spark.createDataFrame(
            [(1, "pkg v1.2.3 ok"), (2, "10.0.0.1.5 odd")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r["text"] for r in redact_pii(d).collect()}
        assert out[1] == "pkg v1.2.3 ok"
        # greedy left-anchored match consumes the first 4 octets (documented)
        assert out[2] == "<IP>.5 odd"

    def test_zero_exchange_plan(self, spark):
        from datacapsule_spark.operators.curation import redact_pii
        from datacapsule_spark.plans.audit import explain_report

        d = spark.range(10).withColumn("text", F.lit("a@b.co"))
        rep = explain_report(redact_pii(d))
        assert rep.exchanges == 0

    def test_empty_patterns_rejected(self, spark):
        from datacapsule_spark.operators.curation import redact_pii

        d = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            redact_pii(d, patterns=[])


class TestProfileEdge:
    def test_empty_table(self, spark):
        from datacapsule_spark.operators.text import profile_table

        d = spark.createDataFrame([], "k long, s string")
        out = {r["column_name"]: r for r in profile_table(d).collect()}
        assert (out["k"]["n_nulls"], out["k"]["n_distinct"]) == (0, 0)
        assert out["k"]["min_value"] is None and out["k"]["max_value"] is None


class TestAssignSplits:
    def test_assignment_stable_under_growth(self, spark):
        from datacapsule_spark.operators.curation import assign_splits

        small = spark.range(0, 500).withColumnRenamed("id", "doc_id")
        big = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"]: r["split"]
             for r in assign_splits(small, "doc_id", salt="s").collect()}
        b = {r["doc_id"]: r["split"]
             for r in assign_splits(big, "doc_id", salt="s").collect()}
        assert all(b[k] == v for k, v in a.items())  # no row ever moves
        from collections import Counter
        shares = Counter(b.values())
        assert 0.85 < shares["train"] / 5000 < 0.95
        assert shares["val"] > 0 and shares["test"] > 0

    def test_consistent_with_sample_by_hash(self, spark):
        from datacapsule_spark.operators.curation import (
            assign_splits, sample_by_hash,
        )

        df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        train = {
            r["doc_id"]
            for r in assign_splits(df, "doc_id", salt="s").collect()
            if r["split"] == "train"
        }
        sampled = {r["doc_id"] for r in sample_by_hash(df, 0.9, "doc_id", "s").collect()}
        assert train == sampled  # same hash family, same threshold

    def test_weight_validation(self, spark):
        from datacapsule_spark.operators.curation import assign_splits

        df = spark.range(1).withColumnRenamed("id", "doc_id")
        with pytest.raises(ValueError):
            assign_splits(df, "doc_id", splits=[("a", 0.5), ("b", 0.4)])
        with pytest.raises(ValueError):
            assign_splits(df, "doc_id", splits=[])

    def test_zero_exchange_plan(self, spark):
        from datacapsule_spark.operators.curation import assign_splits
        from datacapsule_spark.plans.audit import explain_report

        df = spark.range(10).withColumnRenamed("id", "doc_id")
        assert explain_report(assign_splits(df, "doc_id")).exchanges == 0


class TestDsirSelect:
    def _corpora(self, spark):
        # 30 prose-vocab docs + 30 code-vocab docs; the target sample is
        # 10 prose docs, so selection should steer hard toward prose.
        rows = [
            (i, "the quick brown fox jumps over the lazy dog again " * 3)
            for i in range(30)
        ] + [
            (30 + i, "def foo bar return yield lambda class import self x " * 3)
            for i in range(30)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        target = spark.createDataFrame(rows[:10], "doc_id long, text string")
        return docs, target

    def test_planted_domain_dominates(self, spark):
        """Every selected doc is from the target-like half: the per-doc
        log-weight gap (~hundreds of nats for fully-disjoint vocab)
        dwarfs the bounded md5-Gumbel noise (< 25 nats)."""
        from datacapsule_spark.operators.curation import dsir_select

        docs, target = self._corpora(spark)
        out = dsir_select(docs, target, k=20, n_buckets=256).collect()
        assert len(out) == 20
        assert all(r["doc_id"] < 30 for r in out)
        assert all(r["log_weight"] > 0 for r in out)

    def test_deterministic_and_disjoint_target(self, spark):
        """Same draw every run (md5-Gumbel, not rand), and the target
        may be a separate corpus with its own id space — only its text
        shapes the target distribution."""
        from datacapsule_spark.operators.curation import dsir_select

        docs, target = self._corpora(spark)
        a = [tuple(r) for r in dsir_select(docs, target, k=15).collect()]
        b = [tuple(r) for r in dsir_select(docs, target, k=15).collect()]
        assert a == b
        foreign = target.withColumn("doc_id", F.col("doc_id") + 100000)
        c = [tuple(r) for r in dsir_select(docs, foreign, k=15).collect()]
        assert a == c

    def test_tokenless_doc_neutral_weight(self, spark):
        """A doc with no tokens keeps log w = 0 and still competes via
        its Gumbel key; k beyond the corpus returns the whole corpus."""
        from datacapsule_spark.operators.curation import dsir_select

        docs, target = self._corpora(spark)
        docs = docs.union(
            spark.createDataFrame([(999, "   ")], "doc_id long, text string")
        )
        out = {r["doc_id"]: r for r in dsir_select(docs, target, k=500).collect()}
        assert len(out) == 61
        assert out[999]["log_weight"] == 0.0

    def test_validation(self, spark):
        from datacapsule_spark.operators.curation import dsir_select

        docs, target = self._corpora(spark)
        with pytest.raises(ValueError):
            dsir_select(docs, target, k=0)
        with pytest.raises(ValueError):
            dsir_select(docs, target, k=5, n_buckets=0)
        with pytest.raises(ValueError):
            dsir_select(docs, target, k=5, smoothing=0.0)


class TestTrainLinearClassifier:
    def _labeled(self, spark):
        rows = [
            (i, "clean prose words flow nicely here today friend", 1)
            for i in range(20)
        ] + [
            (20 + i, "xx1 zz9 qq0 kk2 vv7 jj3 ww5 yy8", 0)
            for i in range(20)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, label int")

    def test_matches_numpy_gd(self, spark):
        """The distributed trainer replays full-batch logistic GD
        exactly: weights equal a numpy reimplementation of the same
        featurization and updates to float-accumulation noise."""
        import hashlib

        from datacapsule_spark.operators.text import train_linear_classifier

        nb, iters, lr, l2 = 64, 4, 0.7, 0.05
        labeled = self._labeled(spark)
        got = {
            r["bucket"]: r["weight"]
            for r in train_linear_classifier(
                labeled, n_buckets=nb, iters=iters, lr=lr, l2=l2
            ).collect()
        }

        rows = labeled.collect()
        feats, ys = [], []
        buckets = set()
        for r in rows:
            toks = [t for t in r["text"].strip().lower().split() if t]
            f = {-1: 1.0}
            for t in toks:
                b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % nb
                f[b] = f.get(b, 0.0) + 1.0 / len(toks)
            feats.append(f)
            ys.append(float(r["label"]))
            buckets |= f.keys()
        w = {b: 0.0 for b in buckets}
        n = float(len(rows))
        for _ in range(iters):
            g = {b: 0.0 for b in buckets}
            for f, y in zip(feats, ys):
                m = sum(x * w[b] for b, x in f.items())
                resid = 1.0 / (1.0 + np.exp(-m)) - y
                for b, x in f.items():
                    g[b] += resid * x / n
            w = {b: w[b] - lr * (g[b] + l2 * w[b]) for b in buckets}

        assert set(got) == set(w)
        for b in w:
            assert got[b] == pytest.approx(w[b], abs=1e-9)

    def test_trained_weights_separate_via_scorer(self, spark):
        """Round trip through the serving side: train, feed the weight
        table (and the bucket −1 intercept) to linear_quality_score,
        and the two planted domains separate cleanly."""
        from datacapsule_spark.operators.text import (
            linear_quality_score, train_linear_classifier,
        )

        labeled = self._labeled(spark)
        nb = 256
        w = train_linear_classifier(labeled, n_buckets=nb, iters=20, lr=2.0)
        intercept = w.where(F.col("bucket") == -1).collect()[0]["weight"]
        scored = {
            r["doc_id"]: r["quality_prob"]
            for r in linear_quality_score(
                labeled, w.where(F.col("bucket") >= 0),
                n_buckets=nb, intercept=intercept,
            ).collect()
        }
        assert min(scored[i] for i in range(20)) > max(
            scored[20 + i] for i in range(20)
        )
        assert all(scored[i] > 0.7 for i in range(20))
        assert all(scored[20 + i] < 0.3 for i in range(20))

    def test_validation_and_empty(self, spark):
        from datacapsule_spark.operators.text import train_linear_classifier

        labeled = self._labeled(spark)
        with pytest.raises(ValueError):
            train_linear_classifier(labeled, iters=0)
        with pytest.raises(ValueError):
            train_linear_classifier(labeled, lr=0.0)
        with pytest.raises(ValueError):
            train_linear_classifier(labeled, l2=-0.1)
        empty = labeled.where(F.lit(False))
        assert train_linear_classifier(empty, iters=1).count() == 0

    def test_null_labels_dropped(self, spark):
        """Rows with null labels must not deflate the gradient mean:
        training on (labeled + null-label noise) equals training on
        labeled alone."""
        from datacapsule_spark.operators.text import train_linear_classifier

        labeled = self._labeled(spark)
        noisy = labeled.unionByName(
            spark.createDataFrame(
                [(900, "some unlabeled doc", None)],
                "doc_id long, text string, label int",
            )
        )
        a = sorted(map(tuple, train_linear_classifier(labeled, n_buckets=64, iters=2).collect()))
        b = sorted(map(tuple, train_linear_classifier(noisy, n_buckets=64, iters=2).collect()))
        # null-label doc's tokens are absent entirely, so weight SUPPORT
        # may differ only by buckets unique to it — compare shared
        da, db = dict(a), dict(b)
        assert set(da) == set(db)
        for k in da:
            assert abs(da[k] - db[k]) < 1e-12


class TestDuplicateSpans:
    def test_planted_cross_doc_span(self, spark):
        """Two docs share a 6-token run; with min_len=4 the duplicated
        windows are exactly the 3 per doc covering that run, merging
        to one span each at the right offsets. The unique doc is
        span-free."""
        from datacapsule_spark.operators.dedup import duplicate_spans

        shared = "alpha beta gamma delta epsilon zeta"
        docs = spark.createDataFrame(
            [
                (1, f"u1 u2 {shared} u3 u4"),
                (2, f"v1 {shared} v2 v3 v4 v5"),
                (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in duplicate_spans(docs, min_len=4).collect()
        }
        assert 3 not in out and len(out) == 2
        # doc 1: shared run at tokens 2..7 -> windows at pos 2,3,4
        assert (out[1]["span_start"], out[1]["span_end"]) == (2, 7)
        assert out[1]["n_windows"] == 3
        # doc 2: shared run at tokens 1..6
        assert (out[2]["span_start"], out[2]["span_end"]) == (1, 6)

    def test_self_repeat_and_island_merge(self, spark):
        """A within-doc repeat counts (the paper's semantics), and two
        disjoint duplicated regions stay two spans."""
        from datacapsule_spark.operators.dedup import duplicate_spans

        rep = "p q r s"
        docs = spark.createDataFrame(
            [(1, f"{rep} x1 x2 x3 {rep} y1 y2")],
            "doc_id long, text string",
        )
        spans = sorted(
            (r["span_start"], r["span_end"])
            for r in duplicate_spans(docs, min_len=4).collect()
        )
        assert spans == [(0, 3), (7, 10)]

    def test_validation(self, spark):
        from datacapsule_spark.operators.dedup import duplicate_spans

        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError):
            duplicate_spans(docs, min_len=1)

    def test_keep_first_fixed_point(self, spark):
        """keep='first': the canonical occurrence survives, the rest
        cut — and cutting reaches the dedup fixed point (re-running
        finds nothing), while keep='none' would have removed the
        content everywhere."""
        from datacapsule_spark.operators.dedup import (
            duplicate_spans, strip_spans,
        )

        shared = "alpha beta gamma delta"
        docs = spark.createDataFrame(
            [(1, f"{shared} a1 a2"), (2, f"b1 {shared} b2"),
             (3, f"c1 c2 {shared}")],
            "doc_id long, text string",
        )
        spans = duplicate_spans(docs, min_len=4, keep="first")
        got = {r["doc_id"] for r in spans.collect()}
        assert got == {2, 3}  # doc 1 holds the canonical (min id, pos)
        cleaned = strip_spans(docs, spans)
        texts = {r["doc_id"]: r["text"] for r in cleaned.collect()}
        assert texts[1] == f"{shared} a1 a2"
        assert texts[2] == "b1 b2" and texts[3] == "c1 c2"
        assert duplicate_spans(
            cleaned.select("doc_id", "text"), min_len=4
        ).count() == 0

    def test_keep_validation(self, spark):
        from datacapsule_spark.operators.dedup import duplicate_spans

        docs = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        with pytest.raises(ValueError):
            duplicate_spans(docs, min_len=4, keep="last")

    def test_keep_first_string_and_wide_ids(self, spark):
        """The canonical-occurrence argmin is a lexicographic struct
        min, id-type-generic: string doc_ids (accepted everywhere else
        in the dedup family) and >2^32 numeric ids must pick the right
        keep-first occurrence — the old doc_id*2^31+pos packing failed
        both (ADVICE r06: ANSI error on strings, silent overflow on
        xxhash64-scale ids)."""
        from datacapsule_spark.operators.dedup import duplicate_spans

        shared = "alpha beta gamma delta"
        sdocs = spark.createDataFrame(
            [("a::1", f"{shared} x"), ("b::2", f"y {shared}")],
            "doc_id string, text string",
        )
        got = {r["doc_id"] for r in duplicate_spans(
            sdocs, min_len=4, keep="first"
        ).collect()}
        assert got == {"b::2"}  # 'a::1' holds the canonical occurrence

        big = 1 << 40  # far beyond the old 2^32 packing assumption
        ndocs = spark.createDataFrame(
            [(big + 7, f"{shared} x"), (big + 3, f"y {shared}")],
            "doc_id long, text string",
        )
        got = {r["doc_id"] for r in duplicate_spans(
            ndocs, min_len=4, keep="first"
        ).collect()}
        assert got == {big + 7}  # min id holds the canonical occurrence

    def test_random_corpora_match_bruteforce(self, spark):
        """3 seeded random corpora over a tiny alphabet (dense window
        collisions) against a pure-Python reference for BOTH keep
        modes, plus the keep-first fixed point."""
        import random

        from datacapsule_spark.operators.dedup import duplicate_spans

        def brute(texts, L, keep):
            wins = {}
            for d, t in texts.items():
                toks = t.strip().lower().split()
                for p in range(len(toks) - L + 1):
                    wins.setdefault(" ".join(toks[p:p+L]), []).append((d, p))
            marked = set()
            for occ in wins.values():
                if len(occ) > 1:
                    skip = min(occ) if keep == "first" else None
                    marked |= {o for o in occ if o != skip}
            spans = []
            for d in texts:
                ps = sorted(p for (dd, p) in marked if dd == d)
                i = 0
                while i < len(ps):
                    j = i
                    while j + 1 < len(ps) and ps[j+1] == ps[j] + 1:
                        j += 1
                    spans.append((d, ps[i], ps[j] + L - 1, j - i + 1))
                    i = j + 1
            return sorted(spans)

        for seed in range(3):
            rng = random.Random(seed)
            texts = {
                d: " ".join(
                    rng.choice("abcde") for _ in range(rng.randint(4, 30))
                )
                for d in range(12)
            }
            df = spark.createDataFrame(
                list(texts.items()), "doc_id long, text string"
            )
            for keep in ("none", "first"):
                got = sorted(
                    (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
                    for r in duplicate_spans(df, min_len=3, keep=keep).collect()
                )
                assert got == brute(texts, 3, keep), (seed, keep)


class TestStripSpans:
    def test_cut_rebuild_and_overlap(self, spark):
        """Spans cut exact token ranges; overlapping spans count each
        position once; span-free docs pass through (normalized to the
        family's tokenization: lowercased, single spaces); a fully
        covered doc rebuilds to empty text."""
        from datacapsule_spark.operators.dedup import strip_spans

        docs = spark.createDataFrame(
            [
                (1, "A b   C d e f"),
                (2, "keep me intact"),
                (3, "x y z"),
            ],
            "doc_id long, text string",
        )
        spans = spark.createDataFrame(
            [(1, 2, 3), (1, 3, 4), (3, 0, 2)],
            "doc_id long, span_start long, span_end long",
        )
        out = {r["doc_id"]: r for r in strip_spans(docs, spans).collect()}
        assert out[1]["text"] == "a b f" and out[1]["n_removed"] == 3
        assert out[1]["n_tokens"] == 6
        assert out[2]["text"] == "keep me intact" and out[2]["n_removed"] == 0
        assert out[3]["text"] == "" and out[3]["n_removed"] == 3

    def test_composes_with_duplicate_spans(self, spark):
        """find → cut leaves no duplicated min_len-window behind."""
        from datacapsule_spark.operators.dedup import (
            duplicate_spans, strip_spans,
        )

        shared = "alpha beta gamma delta"
        docs = spark.createDataFrame(
            [(1, f"a1 {shared} a2"), (2, f"b1 b2 {shared}")],
            "doc_id long, text string",
        )
        cleaned = strip_spans(docs, duplicate_spans(docs, min_len=4))
        again = duplicate_spans(
            cleaned.select("doc_id", "text"), min_len=4
        ).count()
        assert again == 0
        texts = {r["doc_id"]: r["text"] for r in cleaned.collect()}
        assert texts[1] == "a1 a2" and texts[2] == "b1 b2"


class TestHyperball:
    def _path(self, spark, n=8):
        rows = []
        for i in range(n - 1):
            rows += [(i, i + 1), (i + 1, i)]
        return spark.createDataFrame(rows, "a long, b long")

    def test_tracks_exact_neighborhood_function(self, spark):
        """On a path graph the exact N(r) is closed-form; the m=64
        estimate stays within HLL error (~13% at m=64; assert 25%)."""
        from datacapsule_spark.operators.graph_stats import hyperball

        n = 8
        out = {
            r["radius"]: r["nf_est"]
            for r in hyperball(
                self._path(spark, n), m=64, max_radius=3, early_stop=False
            ).collect()
        }
        exact = {
            r: sum(
                min(i + r, n - 1) - max(i - r, 0) + 1 for i in range(n)
            )
            for r in range(4)
        }
        for r in range(4):
            assert abs(out[r] - exact[r]) / exact[r] < 0.25
        assert out[0] < out[1] < out[2] < out[3]  # monotone growth

    def test_early_stop_at_diameter(self, spark):
        """Counters converge at the diameter: early_stop emits one
        repeated radius then cuts; fixed mode emits max_radius+1."""
        from datacapsule_spark.operators.graph_stats import hyperball

        g = self._path(spark, 4)  # diameter 3
        rows = hyperball(g, m=16, max_radius=10).collect()
        assert len(rows) <= 6  # 0..diameter(+1 repeat), far below 11
        fixed = hyperball(g, m=16, max_radius=6, early_stop=False).collect()
        assert len(fixed) == 7

    def test_validation(self, spark):
        from datacapsule_spark.operators.graph_stats import hyperball

        g = self._path(spark, 3)
        with pytest.raises(ValueError):
            hyperball(g, m=24)
        with pytest.raises(ValueError):
            hyperball(g, max_radius=-1)

    def test_effective_diameter(self, spark):
        """On the 8-path, N(r) is closed-form; the q=0.9 effective
        diameter from the m=64 estimate lands within ±1 of the exact
        value; q=1 reaches the last radius; validation raises."""
        from datacapsule_spark.operators.graph_stats import (
            effective_diameter, hyperball,
        )

        nf = hyperball(self._path(spark, 8), m=64, max_radius=7)
        d = effective_diameter(nf, q=0.9)
        # exact N(r) on the 8-path: target 0.9*64=57.6 between r=4 (56)
        # and r=5 (60) -> exact eff. diameter ~4.4
        assert 3.4 <= d <= 5.4
        assert effective_diameter(nf, q=1.0) <= 7.0
        with pytest.raises(ValueError):
            effective_diameter(nf, q=0.0)

    def test_empty_graph_returns_empty(self, spark):
        from datacapsule_spark.operators.graph_stats import hyperball

        e = spark.createDataFrame([], "a long, b long")
        out = hyperball(e, m=16, max_radius=3)
        assert out.count() == 0
        assert out.columns == ["radius", "nf_est"]


class TestSCC:
    def test_hand_graph(self, spark):
        """Two cycles, a feeding tail, a dangling branch, a disjoint
        path — every SCC labeled by its min member, singletons kept."""
        from datacapsule_spark.operators.graph_stats import (
            strongly_connected_components as scc,
        )

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (6, 1), (3, 7), (8, 9)],
            "src long, dst long",
        )
        # both execution tiers: driver Tarjan (default gate) and the
        # forced distributed trim/color/reach loop must agree
        for thr in (1_000_000, 0):
            got = sorted(
                (r["node"], r["component"])
                for r in scc(df, driver_threshold=thr).collect()
            )
            assert got == [
                (1, 1), (2, 1), (3, 1), (4, 4), (5, 4),
                (6, 6), (7, 7), (8, 8), (9, 9),
            ], f"driver_threshold={thr}"

    def test_dag_all_singletons_and_full_cycle(self, spark):
        from datacapsule_spark.operators.graph_stats import (
            strongly_connected_components as scc,
        )

        dag = spark.createDataFrame(
            [(i, j) for i in range(6) for j in range(i + 1, 6)],
            "src long, dst long",
        )
        got = {(r["node"], r["component"]) for r in scc(dag).collect()}
        assert got == {(i, i) for i in range(6)}

        n = 12
        ring = spark.createDataFrame(
            [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
        )
        got = {(r["node"], r["component"]) for r in scc(ring).collect()}
        assert got == {(i, 0) for i in range(n)}

    def test_nonconvergence_raises(self, spark):
        from datacapsule_spark.operators.graph_stats import (
            strongly_connected_components as scc,
        )

        # 3 chained 2-cycles with LARGER ids upstream: every downstream
        # color is overwritten by the upstream max, so exactly one SCC
        # is carved per phase — max_phases=1 must refuse, not return a
        # partial assignment
        df = spark.createDataFrame(
            [(9, 10), (10, 9), (10, 7), (7, 8), (8, 7), (8, 5), (5, 6), (6, 5)],
            "src long, dst long",
        )
        # the phase budget is a distributed-loop property; the driver
        # Tarjan tier (default) has no phases to exhaust
        with pytest.raises(RuntimeError):
            scc(df, max_phases=1, driver_threshold=0)
        got = sorted((r["node"], r["component"]) for r in scc(df).collect())
        assert got == [(5, 5), (6, 5), (7, 7), (8, 7), (9, 9), (10, 9)]

    def test_random_graphs_match_networkx(self, spark):
        """5 seeded random digraphs (n=24, p=0.08 — mixes multi-node
        SCCs with DAG fringe) against NetworkX's Tarjan-based SCC."""
        import random

        import networkx as nx

        from datacapsule_spark.operators.graph_stats import (
            strongly_connected_components as scc,
        )

        for seed in range(5):
            rng = random.Random(seed)
            n = 24
            edges = [
                (i, j)
                for i in range(n)
                for j in range(n)
                if i != j and rng.random() < 0.08
            ]
            if not edges:
                continue
            g = nx.DiGraph(edges)
            want = {}
            for comp in nx.strongly_connected_components(g):
                root = min(comp)
                for v in comp:
                    want[v] = root
            df = spark.createDataFrame(edges, "src long, dst long")
            for thr in (1_000_000, 0):
                got = {
                    r["node"]: r["component"]
                    for r in scc(df, driver_threshold=thr).collect()
                }
                assert got == want, f"seed {seed} driver_threshold={thr}"

    def test_tier_limit_counts_deduped_edges(self, spark, monkeypatch):
        """The limit is inclusive and counts distinct non-loop edges:
        exactly t edges (here with a duplicate and a self-loop on top)
        take the driver Tarjan, t+1 the distributed loop, and both
        equal NetworkX's SCCs (the self-loop-only node a singleton)."""
        import networkx as nx

        import datacapsule_spark.operators.graph_stats as gs

        tiers = []
        real = gs._driver_tarjan
        monkeypatch.setattr(
            gs, "_driver_tarjan", lambda *a: tiers.append("driver") or real(*a)
        )
        base = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (6, 1), (3, 7), (8, 9)]
        t = len(base)
        for edges, tier in (
            (base + [(1, 2), (10, 10)], ["driver"]),
            (base + [(9, 8)], []),
        ):
            tiers.clear()
            df = spark.createDataFrame(edges, "src long, dst long")
            got = {
                r["node"]: r["component"]
                for r in gs.strongly_connected_components(
                    df, driver_threshold=t
                ).collect()
            }
            assert tiers == tier
            g = nx.DiGraph(edges)
            want = {
                v: min(c) for c in nx.strongly_connected_components(g) for v in c
            }
            assert got == want

    def test_driver_tier_launches_at_most_five_jobs(self, spark):
        """Below the limit the tier choice is the collect itself: one
        capped collect of the deduped edges (which fills their lazy
        checkpoint) and one collect of the node set, no count and no
        eager pre-checkpoints (the count-gated form launched 9 jobs)."""
        from datacapsule_spark.operators.graph_stats import (
            strongly_connected_components as scc,
        )

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (6, 1), (3, 7), (8, 9)],
            "src long, dst long",
        )
        sc = spark.sparkContext
        sc.setJobGroup("scc-driver-tier", "scc job guard")
        try:
            out = scc(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("scc-driver-tier")) <= 5
        assert {r["component"] for r in out.collect()} == {1, 4, 6, 7, 8, 9}
