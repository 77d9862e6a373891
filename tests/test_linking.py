"""Entity-linking tiers: exact normal form and the prefix-filtered
fuzzy similarity join (SURVEY J5), checked against brute-force
all-pairs Jaccard, plus the full pipeline's fuzzy tier."""

from __future__ import annotations

import itertools
import re

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


def test_lsh_alias_pairs_finds_near_names(spark):
    from datacapsule_spark.linking import fuzzy_alias_pairs

    names = spark.createDataFrame(
        [
            ("sym:HttpClientFactory",),
            ("sym:http_client_factory",),   # same normal form
            ("sym:HttpClientFactry",),      # typo — near-dup, different norm
            ("sym:StreamBufferWriter",),
            ("sym:CompletelyDifferent",),
        ],
        "name string",
    )
    pairs = {
        (r["a"], r["b"]): r["score"]
        for r in fuzzy_alias_pairs(names).collect()
    }
    flat = set()
    for a, b in pairs:
        flat.add(frozenset([a, b]))
    assert frozenset(["sym:HttpClientFactory", "sym:http_client_factory"]) in flat
    assert frozenset(["sym:HttpClientFactory", "sym:HttpClientFactry"]) in flat
    assert not any("sym:CompletelyDifferent" in p for p in flat)
    # scores are exact 3-gram Jaccard in (0, 1]
    assert all(0 < s <= 1 for s in pairs.values())


def _oracle_scores(raw):
    """Brute-force all pairs a < b with gram Jaccard >= LINK_JACCARD,
    scored by that Jaccard."""
    from datacapsule_spark.linking import LINK_JACCARD

    def norm(s):
        return re.sub(r"[^a-z0-9]", "", s.lower())

    # name → char-3-grams of its normal form (>= 3 normal chars only)
    dic = {
        n: {norm(n)[i : i + 3] for i in range(len(norm(n)) - 2)}
        for n in set(raw)
        if len(norm(n)) >= 3
    }
    out = {}
    for a, b in itertools.combinations(sorted(dic), 2):
        ga, gb = dic[a], dic[b]
        jac = len(ga & gb) / len(ga | gb)
        if jac >= LINK_JACCARD - 1e-9:
            out[(a, b)] = jac
    return out


@st.composite
def _name_sets(draw):
    """Random name dictionaries over a small alphabet (so grams collide),
    with duplicates, case/separator variants that share a normal form,
    one-character edits, and names whose normal form is < 3 chars."""
    out = []
    for base in draw(st.lists(st.text("abcd", max_size=10), min_size=1, max_size=14)):
        out.append(base)
        for kind in draw(st.lists(st.sampled_from("dusrix"), max_size=3)):
            i = draw(st.integers(0, len(base)))
            c = draw(st.sampled_from("abcd"))
            out.append({
                "d": base,
                "u": base.upper(),
                "s": base[:i] + "_" + base[i:],
                "r": base[:i] + c + base[i + 1 :],
                "i": base[:i] + c + base[i:],
                "x": base[:i] + base[i + 1 :],
            }[kind])
    return out


@pytest.mark.parametrize("threshold", [0.5, 0.6, 0.7, 0.9])
@settings(max_examples=15, deadline=None)
@given(raw=_name_sets())
def test_fuzzy_alias_pairs_equal_brute_force(spark, threshold, raw):
    """The prefix-filtered join emits exactly the brute-force pairs with
    Jaccard >= LINK_JACCARD, with the same scores, at any threshold:
    prefix length, length filter and verification all follow it."""
    from datacapsule_spark import linking

    names = spark.createDataFrame([(n,) for n in raw], "name string")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(linking, "LINK_JACCARD", threshold)
        got = {
            (r["a"], r["b"]): r["score"]
            for r in linking.fuzzy_alias_pairs(names).collect()
        }
        want = _oracle_scores(raw)
    # a score within float noise of the cut may land on either side
    sure = {p for p, v in want.items() if v >= threshold + 1e-9}
    assert sure <= set(got) <= set(want)
    for pair, score in got.items():
        assert score == pytest.approx(want[pair], abs=1e-9), pair


def test_pipeline_with_lsh_merges_typos(spark, tmp_path):
    """Integration: the fuzzy tier resolves near-miss aliases that the
    exact tier cannot (typo variants collapse to one canonical id)."""
    from datacapsule_spark.pipeline import run_pipeline

    content_a = "# year: 2000\ndef StreamBufferWriter(x):\n    return x\n" + "\n" * 18
    content_b = "# year: 2001\ny = StreamBufferWritter(1)\n" + "\n" * 18  # typo call
    repos = spark.createDataFrame(
        [
            ("o/r", "a.py", "c" * 40, "python", content_a),
            ("o/r", "b.py", "c" * 40, "python", content_b),
        ],
        "repo string, path string, commit string, lang string, content string",
    )
    out = run_pipeline(spark, repos, str(tmp_path / "fuzzywork"))
    syms = {
        r["obj"]
        for r in out["triples"].where(F.col("obj_type") == "symbol").collect()
    }
    # both surface forms map to ONE canonical symbol
    assert len(syms) == 1


def test_cosine_topk_batch(spark):
    from datacapsule_spark.vectorize import cosine_topk_batch, hash_embed_text

    items = spark.createDataFrame(
        [
            (f"e{i}", "entity", "t", f"n{i}", hash_embed_text(f"n{i}", 8).tolist())
            for i in range(30)
        ],
        "id string, kind string, entity_type string, name string, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(f"q{i}", hash_embed_text(f"n{i}", 8).tolist()) for i in range(3)],
        "query_id string, qvec array<float>",
    )
    out = cosine_topk_batch(items, queries, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["id"], r["sim"]))
    assert set(by_q) == {"q0", "q1", "q2"}
    for i in range(3):
        ranked = sorted(by_q[f"q{i}"], key=lambda t: -t[1])
        assert ranked[0][0] == f"e{i}"  # each query's own vector wins
        assert ranked[0][1] == pytest.approx(1.0)
        assert len(ranked) == 2
