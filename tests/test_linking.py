"""Entity linking (SURVEY J5): the normal-form and prefix-filtered fuzzy
joins on both tiers (plain Python on the driver, Spark jobs above the
limit), checked against brute-force all-pairs Jaccard; the tier gate;
and the full pipeline's fuzzy links."""

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


def _norm(s):
    """The normal form, written independently of normalize_name."""
    return re.sub(r"[^a-z0-9]", "", s.lower())


def _jvm_norms(spark, raw):
    """name → its normal form as the JVM computes it (normalize_name):
    Spark's lower follows the JVM default locale off the ASCII path."""
    from datacapsule_spark.linking import normalize_name

    df = spark.createDataFrame([(n,) for n in set(raw)], "name string")
    return {
        r["name"]: r["norm"]
        for r in df.select("name", normalize_name(F.col("name")).alias("norm")).collect()
    }


def _oracle_scores(raw, norm=_norm):
    """Brute-force all pairs a < b with gram Jaccard >= LINK_JACCARD,
    scored by that Jaccard."""
    from datacapsule_spark.linking import LINK_JACCARD

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


def _oracle_alias_pairs(raw, norm=_norm):
    """alias_pairs by brute force: every name of a non-empty normal form
    paired with its group's min name (score 1.0), plus the fuzzy pairs."""
    groups = {}
    for n in set(raw):
        if norm(n):
            groups.setdefault(norm(n), []).append(n)
    out = _oracle_scores(raw, norm)
    for members in groups.values():
        out.update({(min(members), b): 1.0 for b in members if b != min(members)})
    return out


def _assert_oracle(got, want, threshold):
    # a score within float noise of the cut may land on either side
    sure = {p for p, v in want.items() if v >= threshold + 1e-9}
    assert sure <= set(got) <= set(want)
    for pair, score in got.items():
        assert score == pytest.approx(want[pair], abs=1e-9), pair


def _pairs(df):
    rows = df.collect()
    assert len(rows) == len({(r["a"], r["b"]) for r in rows})  # each pair once
    assert all(r["a"] < r["b"] for r in rows)
    return {(r["a"], r["b"]): r["score"] for r in rows}


# letters whose lowercase is ASCII (Kelvin sign, dotted capital I) or not
# (capital sharp s, é), and fullwidth letters
_NON_ASCII = "\u212a\u0130\u1e9e\u00e9\uff21\uff42"


@st.composite
def _name_sets(draw):
    """Random name dictionaries over a small alphabet (so grams collide),
    with duplicates, case/separator variants that share a normal form,
    one-character edits, non-ASCII letters, and names whose normal form
    is < 3 chars."""
    letters = st.sampled_from("abcd" * 3 + "i" + _NON_ASCII)  # mostly abcd
    out = []
    for base in draw(st.lists(st.text(letters, max_size=10), min_size=1, max_size=14)):
        out.append(base)
        for kind in draw(st.lists(st.sampled_from("dusrix"), max_size=3)):
            i = draw(st.integers(0, len(base)))
            c = draw(letters)
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
    """At any threshold, the prefix-filtered join emits exactly the
    brute-force pairs with Jaccard >= LINK_JACCARD, with the same scores
    (prefix length, length filter and verification all follow it), and
    both tiers of alias_pairs, the Spark joins (LINK_DRIVER_NAMES = 0)
    and the driver's plain-Python joins (the default), equal the
    brute-force normal-form stars ∪ fuzzy pairs, and each other exactly,
    schema included."""
    from datacapsule_spark import linking

    # the oracle's normal form is the JVM's under the session locale
    assert _jvm_norms(spark, raw) == {n: _norm(n) for n in set(raw)}
    names = spark.createDataFrame([(n,) for n in raw], "name string")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(linking, "LINK_JACCARD", threshold)
        fuzzy = {
            (r["a"], r["b"]): r["score"]
            for r in linking.fuzzy_alias_pairs(names).collect()
        }
        _assert_oracle(fuzzy, _oracle_scores(raw), threshold)
        driver_tier = linking.alias_pairs(names)
        mp.setattr(linking, "LINK_DRIVER_NAMES", 0)
        spark_tier = linking.alias_pairs(names)
        got = _pairs(spark_tier)
        assert _pairs(driver_tier) == got
        _assert_oracle(got, _oracle_alias_pairs(raw), threshold)
    assert driver_tier.schema == spark_tier.schema


_GATE_NAMES = [
    "HttpClient", "http_client", "HttpClientX", "HTTP-CLIENT",
    "StreamBufferWriter", "StreamBufferWritter", "ab", "AB", "x",
]


def test_link_driver_tier_launches_at_most_two_jobs(spark):
    """Below the limit, linking is one capped collect of the name
    dictionary (its shuffle plus its result stage); the pairs come back
    as a local relation, so reading them launches no further job."""
    from datacapsule_spark.linking import alias_pairs

    names = spark.createDataFrame([(n,) for n in _GATE_NAMES], "name string")
    sc = spark.sparkContext
    sc.setJobGroup("link-driver-tier", "link job guard")
    try:
        got = _pairs(alias_pairs(names))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("link-driver-tier")) <= 2
    assert got == _oracle_alias_pairs(_GATE_NAMES)


def test_link_tier_limit_counts_distinct_names(spark, monkeypatch):
    """The limit is inclusive and counts distinct names: exactly t names
    (plus a duplicate) take the driver tier, t + 1 the Spark tier, and
    both equal the oracle."""
    from datacapsule_spark import linking

    tiers = []
    real = linking._driver_alias_pairs
    monkeypatch.setattr(
        linking, "_driver_alias_pairs", lambda rows: tiers.append("driver") or real(rows)
    )
    monkeypatch.setattr(linking, "LINK_DRIVER_NAMES", len(_GATE_NAMES))
    for raw, tier in (
        (_GATE_NAMES + ["HttpClient"], ["driver"]),
        (_GATE_NAMES + ["StreamBuferWriter"], []),
    ):
        tiers.clear()
        names = spark.createDataFrame([(n,) for n in raw], "name string")
        got = _pairs(linking.alias_pairs(names))
        assert tiers == tier
        assert got == pytest.approx(_oracle_alias_pairs(raw))


def test_link_tiers_take_the_norm_from_the_jvm(spark, monkeypatch):
    """Under a Turkish JVM default locale Spark lowercases 'I' in a
    non-ASCII string to dotless 'ı', which the normal form drops, where
    Python's str.lower gives 'i'. Both tiers follow the JVM: ÉFILE
    links to fle (norm fle), not to file."""
    from datacapsule_spark import linking

    Locale = spark.sparkContext._jvm.java.util.Locale
    default = Locale.getDefault()
    raw = ["\u00c9FILE", "fle", "file", "DATAFILE", "datafle"]
    names = spark.createDataFrame([(n,) for n in raw], "name string")
    Locale.setDefault(Locale.forLanguageTag("tr"))
    try:
        norms = _jvm_norms(spark, raw)
        tiers = []
        for limit in (0, len(raw)):
            monkeypatch.setattr(linking, "LINK_DRIVER_NAMES", limit)
            tiers.append(_pairs(linking.alias_pairs(names)))
    finally:
        Locale.setDefault(default)
    assert norms["\u00c9FILE"] == "fle"
    want = _oracle_alias_pairs(raw, norms.__getitem__)
    assert ("fle", "\u00c9FILE") in want
    assert tiers == [want, want]


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
