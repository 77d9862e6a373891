"""Incremental LSH dedup index: every read equals the from-scratch
in-memory computation on the live corpus, across any build → upsert →
delete → compact history (the retrieval.py BM25 index contract,
applied to near-dup banding)."""

from __future__ import annotations

import pytest

from datacapsule_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_lsh_pairs_cross,
    minhash_signatures,
)
from datacapsule_spark.operators.dedup_index import (
    build_lsh_index,
    compact_lsh_index,
    delete_lsh_docs,
    lsh_index_pairs,
    lsh_index_probe,
    upsert_lsh_index,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_v0(spark):
    # 6 exact-dup clusters of 3 (identical text → identical signatures
    # → guaranteed band collisions) + 6 unique docs
    rows = []
    for g in range(6):
        for j in range(3):
            rows.append((g * 10 + j, f"group {g} shares this exact text body {g}"))
    for u in range(6):
        rows.append((100 + u, f"unique document {u} with its own words {u * 7}"))
    return _mk(spark, rows)


def _pairs_set(df, a="a", b="b"):
    return sorted((r[a], r[b]) for r in df.collect())


def _rebuild_pairs(docs):
    return _pairs_set(minhash_lsh_pairs(minhash_signatures(docs)))


class TestLshIndex:
    def test_history_equals_rebuild(self, spark, tmp_path):
        """build → upsert (changed docs) → delete: index pairs equal
        the in-memory pairs over the LIVE corpus at every step."""
        path = str(tmp_path / "lsh")
        v0 = _corpus_v0(spark)
        build_lsh_index(v0, path)
        assert _pairs_set(lsh_index_pairs(spark, path)) == _rebuild_pairs(v0)

        # v1: doc 1 leaves its cluster (new text joins cluster 5);
        # doc 100 (was unique) becomes a dup of cluster 2
        changed = _mk(
            spark,
            [
                (1, "group 5 shares this exact text body 5"),
                (100, "group 2 shares this exact text body 2"),
            ],
        )
        upsert_lsh_index(changed, path, version=1)
        live = v0.where(~v0.doc_id.isin(1, 100)).unionByName(changed)
        assert _pairs_set(lsh_index_pairs(spark, path)) == _rebuild_pairs(live)

        # v2: tombstone one member of cluster 0 and one unique doc
        delete_lsh_docs(spark, path, [0, 101], version=2)
        live2 = live.where(~live.doc_id.isin(0, 101))
        got = _pairs_set(lsh_index_pairs(spark, path))
        assert got == _rebuild_pairs(live2)
        assert all(0 not in p and 101 not in p for p in got)

    def test_probe_equals_cross_pairs(self, spark, tmp_path):
        """Probing a delta against the index equals the two-corpus
        banded join of (delta, live corpus) — O(delta) by construction."""
        path = str(tmp_path / "lsh")
        v0 = _corpus_v0(spark)
        build_lsh_index(v0, path)
        delete_lsh_docs(spark, path, [2], version=1)
        live = v0.where(v0.doc_id != 2)

        new = _mk(
            spark,
            [
                (500, "group 3 shares this exact text body 3"),
                (501, "a brand new never seen document"),
            ],
        )
        got = sorted(
            (r["new_id"], r["index_id"])
            for r in lsh_index_probe(new, path).collect()
        )
        want = sorted(
            (r["a"], r["b"])
            for r in minhash_lsh_pairs_cross(
                minhash_signatures(new), minhash_signatures(live)
            ).collect()
        )
        assert got == want
        assert got and all(n == 500 for n, _ in got)  # non-vacuous

    def test_compact_preserves_reads(self, spark, tmp_path):
        path = str(tmp_path / "lsh")
        v0 = _corpus_v0(spark)
        build_lsh_index(v0, path)
        upsert_lsh_index(
            _mk(spark, [(1, "group 4 shares this exact text body 4")]),
            path,
            version=1,
        )
        delete_lsh_docs(spark, path, [999, 101], version=2)  # 999 never existed
        before = _pairs_set(lsh_index_pairs(spark, path))
        n = compact_lsh_index(spark, path)
        assert n == len(_corpus_v0(spark).collect()) - 1  # only 101 was live
        assert _pairs_set(lsh_index_pairs(spark, path)) == before
        # post-compact writes keep working
        delete_lsh_docs(spark, path, [10], version=1)
        assert all(
            10 not in p for p in _pairs_set(lsh_index_pairs(spark, path))
        )

    def test_params_inherited_and_validated(self, spark, tmp_path):
        path = str(tmp_path / "lsh")
        with pytest.raises(ValueError):
            build_lsh_index(_corpus_v0(spark), path, n_hashes=16, n_bands=5)
        build_lsh_index(_corpus_v0(spark), path, n_hashes=8, n_bands=2)
        # upsert bands with the stored 8/2, not the 16/4 defaults: reads
        # stay consistent (a changed doc re-clusters correctly)
        upsert_lsh_index(
            _mk(spark, [(103, "group 0 shares this exact text body 0")]),
            path,
            version=1,
        )
        pairs = _pairs_set(lsh_index_pairs(spark, path))
        assert (0, 103) in pairs or (103, 0) in pairs

    def test_delete_empty_ids_noop(self, spark, tmp_path):
        path = str(tmp_path / "lsh")
        build_lsh_index(_corpus_v0(spark), path)
        before = _pairs_set(lsh_index_pairs(spark, path))
        delete_lsh_docs(spark, path, [], version=1)
        assert _pairs_set(lsh_index_pairs(spark, path)) == before
