"""Tests: IVF ANN recall vs brute force; the Arrow kNN kernel vs the
HOF kernel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestIVF:
    def test_ivf_topk_matches_brute_force_at_full_probe(self, spark):
        from datacapsule_spark.vectorize import (
            cosine_topk,
            hash_embed_text,
            ivf_index,
            ivf_topk,
        )

        rows = [
            (f"e{i}", "entity", "t", f"name{i}", hash_embed_text(f"name{i}", 16).tolist())
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows,
            "id string, kind string, entity_type string, name string, "
            "embedding array<float>",
        )
        indexed, centroids = ivf_index(df, n_lists=8)
        q = hash_embed_text("name42", 16)
        exact = [r["id"] for r in cosine_topk(df, q, k=5).collect()]
        # full probe == brute force
        full = [r["id"] for r in ivf_topk(indexed, centroids, q, k=5, n_probe=8).collect()]
        assert full == exact
        # narrow probe still finds the identical vector (it lives in the
        # query's own nearest list by construction)
        narrow = [r["id"] for r in ivf_topk(indexed, centroids, q, k=1, n_probe=1).collect()]
        assert narrow == ["e42"]

    def test_ivf_topk_batch_matches_per_query_loop(self, spark):
        """ivf_topk_batch (one job for Q queries) returns per query the
        same (id, sim) rows as the per-query ivf_topk loop — at full
        probe AND at a narrow probe, so the batched probe-list
        selection itself is equivalent, not just the ranking."""
        from datacapsule_spark.vectorize import (
            hash_embed_text,
            ivf_index,
            ivf_topk,
            ivf_topk_batch,
        )

        rows = [
            (f"e{i}", "entity", "t", f"name{i}", hash_embed_text(f"name{i}", 16).tolist())
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows,
            "id string, kind string, entity_type string, name string, "
            "embedding array<float>",
        )
        indexed, centroids = ivf_index(df, n_lists=8)
        qvecs = {qi: hash_embed_text(f"name{qi}", 16) for qi in (3, 42, 117)}
        # qvec as array<double>: the per-query loop embeds the query as
        # double literals, so the batch path must score at the same
        # precision for bit-identical sims
        queries = spark.createDataFrame(
            [(qi, [float(x) for x in v]) for qi, v in qvecs.items()],
            "query_id int, qvec array<double>",
        )
        for n_probe in (8, 2):
            batch = ivf_topk_batch(
                indexed, centroids, queries, k=5, n_probe=n_probe
            )
            got = {
                (r["query_id"], r["id"], round(r["sim"], 9))
                for r in batch.collect()
            }
            want = set()
            for qi, v in qvecs.items():
                for r in ivf_topk(
                    indexed, centroids, v, k=5, n_probe=n_probe
                ).collect():
                    want.add((qi, r["id"], round(r["sim"], 9)))
            assert got == want, f"n_probe={n_probe}"

    def test_ann_recall_at_k_matches_python_and_hits_fixed_point(self, spark):
        """ann_recall_at_k's reported recall equals a Python-computed
        recall (collect both top-k sides, intersect, average) at a
        NARROW probe, and is exactly 1.0 at full probe."""
        from datacapsule_spark.vectorize import (
            ann_recall_at_k,
            cosine_topk_batch,
            hash_embed_text,
            ivf_index,
            ivf_topk_batch,
        )

        rows = [
            (f"e{i}", "entity", "t", f"name{i}",
             hash_embed_text(f"name{i}", 16).tolist())
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows,
            "id string, kind string, entity_type string, name string, "
            "embedding array<float>",
        )
        indexed, centroids = ivf_index(df, n_lists=8)
        queries = spark.createDataFrame(
            [(qi, [float(x) for x in hash_embed_text(f"name{qi}", 16)])
             for qi in (3, 42, 117, 200)],
            "query_id int, qvec array<double>",
        )

        full = ann_recall_at_k(
            indexed, centroids, queries, k=5, n_probe=8
        ).collect()[0]
        assert (full["k"], full["n_probe"], full["n_queries"]) == (5, 8, 4)
        assert full["recall"] == 1.0

        narrow = ann_recall_at_k(
            indexed, centroids, queries, k=5, n_probe=1
        ).collect()[0]["recall"]
        # python twin from the two top-k sides
        ap = {}
        for r in ivf_topk_batch(
            indexed, centroids, queries, k=5, n_probe=1
        ).collect():
            ap.setdefault(r["query_id"], set()).add(r["id"])
        ex = {}
        for r in cosine_topk_batch(
            indexed.drop("list_id"), queries, k=5
        ).collect():
            ex.setdefault(r["query_id"], set()).add(r["id"])
        want = sum(
            len(ap.get(q, set()) & s) / len(s) for q, s in ex.items()
        ) / len(ex)
        assert narrow == pytest.approx(round(want, 6), abs=1e-9)
        assert 0.0 < narrow <= 1.0

    def test_ivf_assigns_every_vector(self, spark):
        from datacapsule_spark.vectorize import hash_embed_text, ivf_index

        rows = [(f"e{i}", "k", "t", "n", hash_embed_text(str(i), 8).tolist()) for i in range(50)]
        df = spark.createDataFrame(
            rows,
            "id string, kind string, entity_type string, name string, "
            "embedding array<float>",
        )
        indexed, centroids = ivf_index(df, n_lists=4)
        assert indexed.where(F.col("list_id").isNull()).count() == 0
        assert indexed.count() == 50
        assert centroids.shape == (4, 8)


class TestArrowKNN:
    """cosine_topk_batch_arrow (BLAS kernel + map-side partial top-k) is
    the SAME operator as the JVM-HOF cosine_topk_batch — pinned row for
    row at dim 64 and at the reference's production width 1024."""

    def _corpus(self, spark, n, dim):
        from datacapsule_spark.vectorize import hash_embed_text

        rows = [(i, hash_embed_text(f"doc{i}", dim).tolist()) for i in range(n)]
        return spark.createDataFrame(rows, "id bigint, embedding array<double>")

    @pytest.mark.parametrize("dim", [16, 1024])
    def test_arrow_matches_hof(self, spark, dim):
        import numpy as np

        from datacapsule_spark.vectorize import (
            cosine_topk_batch,
            cosine_topk_batch_arrow,
        )

        df = self._corpus(spark, 200, dim).repartition(7)  # multi-batch merge
        queries = df.where(F.col("id") < 4).select(
            F.col("id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        corpus = df.where(F.col("id") >= 4)
        hof = {
            (r["query_id"], r["id"]): r["sim"]
            for r in cosine_topk_batch(corpus, queries, k=7).collect()
        }
        arrow = {
            (r["query_id"], r["id"]): r["sim"]
            for r in cosine_topk_batch_arrow(corpus, queries, k=7).collect()
        }
        assert set(hof) == set(arrow)
        assert np.allclose(
            [hof[k] for k in sorted(hof)], [arrow[k] for k in sorted(arrow)]
        )
        # rn is a dense 1..k per query
        rns = {}
        from datacapsule_spark.vectorize import cosine_topk_batch_arrow as a

        for r in a(corpus, queries, k=7).collect():
            rns.setdefault(r["query_id"], []).append(r["rn"])
        assert all(sorted(v) == list(range(1, 8)) for v in rns.values())

    def test_arrow_drops_zero_vectors_like_hof(self, spark):
        from datacapsule_spark.vectorize import cosine_topk_batch_arrow

        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5]), (3, [0.0, 1.0])],
            "id bigint, embedding array<double>",
        )
        queries = spark.createDataFrame(
            [(100, [1.0, 1.0]), (101, [0.0, 0.0])],
            "query_id bigint, qvec array<double>",
        )
        got = cosine_topk_batch_arrow(df, queries, k=10).collect()
        # zero-norm corpus row 1 and zero-norm query 101 both dropped,
        # matching the HOF path's NULL-sim semantics
        assert {r["query_id"] for r in got} == {100}
        assert {r["id"] for r in got} == {0, 2, 3}

    def test_ivf_arrow_kernel_matches_hof(self, spark):
        """ivf_topk_batch(kernel='arrow') ≡ kernel='hof' on the probed
        candidate set — partial probe (so the pruning path runs) and a
        duplicate-vector corpus (so the k-boundary TIE-BREAK is
        exercised: map-side top-k must prune in (sim desc, id asc)
        order or a tied lower id gets lost)."""
        from datacapsule_spark.vectorize import ivf_index, ivf_topk_batch

        base = self._corpus(spark, 40, 16)
        # clones of rows 20..29 under new ids → exact cosine ties
        clones = base.where((F.col("id") >= 20) & (F.col("id") < 30)).select(
            (F.col("id") + 1000).alias("id"), "embedding"
        )
        df = base.union(clones)
        queries = df.where(F.col("id") < 3).select(
            F.col("id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        corpus = df.where(F.col("id") >= 3)
        indexed, cents = ivf_index(corpus, n_lists=4, seed=7)
        for n_probe in (2, 4):
            hof = {
                (r["query_id"], r["id"], round(r["sim"], 9))
                for r in ivf_topk_batch(
                    indexed, cents, queries, k=8, n_probe=n_probe
                ).collect()
            }
            arrow = {
                (r["query_id"], r["id"], round(r["sim"], 9))
                for r in ivf_topk_batch(
                    indexed, cents, queries, k=8, n_probe=n_probe,
                    kernel="arrow",
                ).collect()
            }
            assert hof == arrow, (n_probe, hof ^ arrow)

    def test_arrow_empty_queries(self, spark):
        from datacapsule_spark.vectorize import cosine_topk_batch_arrow

        df = self._corpus(spark, 5, 8)
        queries = spark.createDataFrame(
            [], "query_id bigint, qvec array<double>"
        )
        out = cosine_topk_batch_arrow(df, queries, k=3)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "query_id", "id", "sim", "rn",
        ]

    def test_driver_query_collect_guarded(self, spark, monkeypatch):
        """The batch kernels collect the QUERY set driver-side by
        contract; a corpus-sized query DataFrame must raise with
        routing guidance (the max_exact_nodes pattern), not OOM the
        driver (VERDICT r06 #6). The limit-probe costs no extra
        action, so a compliant set still works at the ceiling."""
        import pytest as _pytest

        import datacapsule_spark.vectorize as V
        from datacapsule_spark.vectorize import (
            cosine_topk_batch_arrow, ivf_index, ivf_topk_batch,
        )

        df = self._corpus(spark, 30, 8)
        queries = df.select(
            F.col("id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        monkeypatch.setattr(V, "MAX_DRIVER_QUERIES", 10)
        with _pytest.raises(ValueError, match="max_queries"):
            cosine_topk_batch_arrow(df, queries, k=3)
        monkeypatch.setattr(V, "MAX_DRIVER_QUERIES", 30)
        assert (
            cosine_topk_batch_arrow(df, queries, k=1).count()
            == 30
        )
        indexed, cents = ivf_index(df, n_lists=2, seed=1)
        monkeypatch.setattr(V, "MAX_DRIVER_QUERIES", 10)
        with _pytest.raises(ValueError, match="max_queries"):
            ivf_topk_batch(
                indexed, cents, queries, k=2, n_probe=2,
                kernel="arrow",
            )

