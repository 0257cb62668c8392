"""Unit tests for the gazetteer/pattern mention detector semantics."""

from __future__ import annotations

from amr_kg_spark.operators.mentions import compile_detectors


def _find(dets, cls, text):
    return [m.group(0) for m in dets[cls].finditer(text)]


def test_longest_match_wins_for_strains():
    dets = compile_detectors(
        {"pathogen": ["Escherichia coli", "Escherichia coli K12"]}
    )
    assert _find(dets, "pathogen", "seen Escherichia coli K12 today") == [
        "Escherichia coli K12"
    ]
    assert _find(dets, "pathogen", "plain Escherichia coli here") == [
        "Escherichia coli"
    ]


def test_word_boundaries():
    dets = compile_detectors({"compound": ["Meropenem"]})
    assert _find(dets, "compound", "xMeropenem Meropenemy Meropenem.") == [
        "Meropenem"
    ]
    assert _find(dets, "compound", "(Meropenem)") == ["Meropenem"]


def test_activity_value_pattern():
    dets = compile_detectors({})
    assert _find(dets, "activity", "MIC 12.5 nM and 7 uM and 3 ug/mL") == [
        "12.5 nM",
        "7 uM",
        "3 ug/mL",
    ]
    # no unit, no match; letter-adjacent digits don't fire
    assert _find(dets, "activity", "K12 strain at 37C") == []


def test_classes_are_independent():
    dets = compile_detectors({"a": ["alpha beta"], "b": ["beta"]})
    assert _find(dets, "a", "alpha beta") == ["alpha beta"]
    assert _find(dets, "b", "alpha beta") == ["beta"]


def test_jvm_detector_matches_udf_detector(spark):
    """``detect_mentions_jvm`` (regexp_extract_all, no Python) and the
    Arrow-UDF ``detect_mentions`` find the same mention multiset; only
    ``start`` differs (the JVM path reports -1)."""
    from collections import Counter

    from amr_kg_spark.fixtures import synth_transcripts
    from amr_kg_spark.operators.mentions import (
        detect_mentions,
        detect_mentions_jvm,
        explode_mentions,
    )

    edge = spark.createDataFrame(
        [
            ("edge", 0, "Helmholtz Centre Braunschweig and Uppsala Antibiotic"
             " Center grew Escherichia coli K12 and Escherichia coli"),
            ("edge", 1, "xCiprofloxacin Ciprofloxaciny (Ciprofloxacin) at"
             " 12.5 nM; K12 at 37C"),
            ("edge", 2, ""),
            ("edge", 3, None),
        ],
        "conv_id string, turn_idx int, text string",
    )
    turns = (
        synth_transcripts(spark, n_turns=3000, n_convs=30)
        .select("conv_id", "turn_idx", "text")
        .unionByName(edge)
    )

    def multiset(detect):
        rows = explode_mentions(detect(turns)).drop("start").collect()
        return Counter(tuple(r) for r in rows)

    udf = multiset(detect_mentions)
    assert sum(udf.values()) > 1000
    assert {c for _, _, c, _ in udf} == {
        "pathogen", "compound", "institution", "activity"
    }
    assert multiset(detect_mentions_jvm) == udf
