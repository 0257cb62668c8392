"""Entity-linking operators: the resolution map (priority fallback,
strain normalization) and the exact prefix-filtered char-gram join behind
fuzzy linking and canonicalization (SURVEY J1/J2/J5/J7)."""

from __future__ import annotations

import itertools
import random
import re
import string
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
    """A pair at exactly Jaccard 1 - threshold is linked and merged:
    char-3-grams of abcdef / abcdeg share 3 of 5 (distance 2/5), of
    abcdefgh / abcdexyzw 3 of 10 (distance 7/10, where the float
    1 - 0.7 = 0.30000000000000004 would drop the pair)."""
    from amr_kg_spark.operators.canonicalize import canonicalize_kg

    edges = spark.createDataFrame(
        [], "src_id long, dst_id long, rel_type string, props map<string,string>"
    )
    for a, b, max_dist in [("abcdef", "abcdeg", 0.4), ("abcdefgh", "abcdexyzw", 0.7)]:
        assert _exact_dist(a, b) == Fraction(str(max_dist))
        got = fuzzy_link(
            spark.createDataFrame([(a,)], "mention string"),
            spark.createDataFrame([(b,)], "pref_name string"),
            threshold=max_dist,
        ).collect()
        assert [tuple(r) for r in got] == [(a, b, max_dist)]

        nodes = spark.createDataFrame(
            [(1, "ChEMBL", a, "chembl:1", {}), (2, "PubChem", b, "pubchem:2", {})],
            "node_id long, label string, name string, curie string, props map<string,string>",
        )
        out = canonicalize_kg(nodes, edges, max_dist=max_dist)["nodes"].collect()
        assert [(r.canonical_id, r.merged_from) for r in out] == [(1, 2)]


# the MinHash-LSH candidate filter this join replaced missed a pair at
# threshold 0.8 from 39 names on, and at 0.6 from 47
N_RANDOM_NAMES = 50


def _substitution_variants(n_names: int) -> tuple[list[str], list[str]]:
    """``n_names`` random 14-letter names and, for each, a variant with 1-3
    letters substituted: Jaccard spread over the whole (0, 1) range, where
    a candidate filter that is not exact misses pairs."""
    rng = random.Random(7)
    letters = string.ascii_lowercase
    names, variants = [], []
    for _ in range(n_names):
        name = "".join(rng.choice(letters) for _ in range(14))
        v = list(name)
        for i in rng.sample(range(14), rng.randint(1, 3)):
            v[i] = rng.choice(letters.replace(v[i], ""))
        names.append(name)
        variants.append("".join(v))
    return names, variants


def test_fuzzy_link_equals_bruteforce_on_dirty_variants(spark):
    """On the kg_fuzzy_link case variants plus random letter-substitution
    variants, fuzzy_link returns exactly the brute-force pair set, each row
    with its exact char-gram Jaccard distance, at thresholds 0.4, 0.6 and
    0.8; the char_ngram_lsh_pairs self-join equals a brute-force self-join
    at max_dist 0.35 and 0.5."""
    from amr_kg_spark.operators.dedup import char_ngram_lsh_pairs

    rand_names, rand_variants = _substitution_variants(N_RANDOM_NAMES)
    compounds = [c[0] for c in vocab.COMPOUNDS]
    names = compounds + rand_names
    dirty = sorted(
        {f(n) for n in compounds for f in (str.lower, str.upper, lambda s: s + " ")}
    ) + rand_variants
    v = spark.createDataFrame([(n,) for n in names], "pref_name string")
    mentions = spark.createDataFrame([(m,) for m in dirty], "mention string")
    for threshold in (0.4, 0.6, 0.8):
        got = {
            (r.mention, r.matched_name): r.jaccard_dist
            for r in fuzzy_link(mentions, v, threshold=threshold).collect()
        }
        brute = {
            (m, name): _exact_dist(m, name) for m in dirty for name in names
            if _exact_dist(m, name) <= Fraction(str(threshold))
        }
        assert set(got) == set(brute), (
            threshold, set(brute) - set(got), set(got) - set(brute)
        )
        for k, dist in got.items():
            assert dist == float(brute[k]), (k, dist)

    both = rand_names + rand_variants
    frame = spark.createDataFrame(list(enumerate(both)), "id long, name string")
    for max_dist in (0.35, 0.5):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in char_ngram_lsh_pairs(frame, "id", "name", max_dist=max_dist).collect()
        }
        brute = {
            (i, j): _exact_dist(a, b)
            for (i, a), (j, b) in itertools.combinations(enumerate(both), 2)
            if _exact_dist(a, b) <= Fraction(str(max_dist))
        }
        assert set(got) == set(brute), (
            max_dist, set(brute) - set(got), set(got) - set(brute)
        )
        for k, jac in got.items():
            assert jac == 1.0 - float(brute[k]), (k, jac)
