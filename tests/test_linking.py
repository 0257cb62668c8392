"""Entity-linking operators: the resolution map (priority fallback,
strain normalization) and the exact char-gram join behind MinHash-LSH
fuzzy linking (SURVEY J1/J2/J5/J7)."""

from __future__ import annotations

import re
from fractions import Fraction

from amr_kg_spark import vocab
from amr_kg_spark.operators.linking import (
    compound_vocab,
    fuzzy_link,
    link_compounds,
    link_pathogens,
)


def test_priority_fallback_chain(spark):
    mentions = spark.createDataFrame(
        [("Ciprofloxacin",), ("Colistin",), ("Linezolid",), ("Tigecycline",),
         ("NotACompound",)],
        "mention string",
    )
    got = {r.mention: r.curie for r in link_compounds(mentions).collect()}
    assert got == {
        "Ciprofloxacin": "chembl:CHEMBL8",      # chembl beats pubchem/spark/dc
        "Colistin": "pubchem:5311054",           # pubchem-only
        "Linezolid": "spark:SPK-303",            # spark-only
        "Tigecycline": "drug.central:2673",      # drugcentral-only
    }  # unlinkable mention dropped (reference 'continue')


def test_strain_normalization(spark):
    mentions = spark.createDataFrame(
        [("Escherichia coli K12",), ("Escherichia coli",), ("Novel bug",)],
        "mention string",
    )
    linked = {r.mention: (r.canonical, r.curie) for r in
              link_pathogens(mentions).collect()}
    # alias -> species; a species resolves to itself; unknown names drop
    assert linked == {
        "Escherichia coli K12": ("Escherichia coli", "ncbitaxon:562"),
        "Escherichia coli": ("Escherichia coli", "ncbitaxon:562"),
    }


def test_fuzzy_link_matches_dirty_mentions(spark):
    v = compound_vocab(spark)
    dirty = spark.createDataFrame(
        [("ciprofloxacin",), ("Meropenem ",), ("VANCOMYCIN",), ("mero penem",),
         ("totally unrelated string",)],
        "mention string",
    )
    got = fuzzy_link(dirty, v, threshold=0.55).collect()
    matched = {(r.mention, r.matched_name) for r in got}
    assert ("ciprofloxacin", "Ciprofloxacin") in matched
    assert ("Meropenem ", "Meropenem") in matched
    assert ("VANCOMYCIN", "Vancomycin") in matched
    assert ("mero penem", "Meropenem") in matched
    assert not any(m == "totally unrelated string" for m, _ in matched)


def _char_grams(s: str, n: int = 3) -> set[str]:
    """Python mirror of linking.char_ngrams_expr."""
    c = re.sub(r"\s+", " ", s.lower())
    return {c[i:i + n] for i in range(max(len(c) - n + 1, 1))}


def _exact_dist(a: str, b: str) -> Fraction:
    ga, gb = _char_grams(a), _char_grams(b)
    return 1 - Fraction(len(ga & gb), len(ga | gb))


def test_jaccard_threshold_boundary_is_inclusive(spark):
    """A pair at exactly Jaccard 1 - threshold is linked: char-3-grams of
    abcdef / abcdeg share 3 of 5, distance 2/5."""
    from amr_kg_spark.operators.canonicalize import canonicalize_kg

    assert _exact_dist("abcdef", "abcdeg") == Fraction(2, 5)
    got = fuzzy_link(
        spark.createDataFrame([("abcdef",)], "mention string"),
        spark.createDataFrame([("abcdeg",)], "pref_name string"),
        threshold=0.4,
    ).collect()
    assert [tuple(r) for r in got] == [("abcdef", "abcdeg", 0.4)]

    nodes = spark.createDataFrame(
        [(1, "ChEMBL", "abcdef", "chembl:1", {}), (2, "PubChem", "abcdeg", "pubchem:2", {})],
        "node_id long, label string, name string, curie string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [], "src_id long, dst_id long, rel_type string, props map<string,string>"
    )
    out = canonicalize_kg(nodes, edges, max_dist=0.4)["nodes"].collect()
    assert [(r.canonical_id, r.merged_from) for r in out] == [(1, 2)]


def test_fuzzy_link_equals_bruteforce_on_dirty_variants(spark):
    """On the kg_fuzzy_link dirty variants every returned row carries the
    exact char-gram Jaccard distance, within the threshold, and at
    threshold 0.4 no pair that brute force finds is missing."""
    names = [c[0] for c in vocab.COMPOUNDS]
    dirty = sorted({f(n) for n in names for f in (str.lower, str.upper, lambda s: s + " ")})
    v = compound_vocab(spark)
    mentions = spark.createDataFrame([(m,) for m in dirty], "mention string")
    for threshold in (0.4, 0.8):
        got = {
            (r.mention, r.matched_name): r.jaccard_dist
            for r in fuzzy_link(mentions, v, threshold=threshold).collect()
        }
        for (m, name), dist in got.items():
            exact = _exact_dist(m, name)
            assert exact <= Fraction(str(threshold)), (m, name)
            assert dist == float(exact), (m, name, dist)
        if threshold == 0.4:
            brute = {
                (m, name) for m in dirty for name in names
                if _exact_dist(m, name) <= Fraction(2, 5)
            }
            assert set(got) == brute
