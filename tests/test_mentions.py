"""Unit tests for the gazetteer/pattern mention detector semantics, on the
Java regex engine that evaluates the detector in the plan."""

from __future__ import annotations

from amr_kg_spark.operators.mentions import compile_detectors


def test_longest_match_wins_for_strains(java_findall):
    dets = compile_detectors(
        {"pathogen": ["Escherichia coli", "Escherichia coli K12"]}
    )
    assert java_findall(dets["pathogen"], "seen Escherichia coli K12 today") == [
        "Escherichia coli K12"
    ]
    assert java_findall(dets["pathogen"], "plain Escherichia coli here") == [
        "Escherichia coli"
    ]


def test_word_boundaries(java_findall):
    dets = compile_detectors({"compound": ["Meropenem"]})
    assert java_findall(
        dets["compound"], "xMeropenem Meropenemy Meropenem."
    ) == ["Meropenem"]
    assert java_findall(dets["compound"], "(Meropenem)") == ["Meropenem"]


def test_activity_value_pattern(java_findall):
    dets = compile_detectors({})
    assert java_findall(
        dets["activity"], "MIC 12.5 nM and 7 uM and 3 ug/mL"
    ) == ["12.5 nM", "7 uM", "3 ug/mL"]
    # no unit, no match; letter-adjacent digits don't fire
    assert java_findall(dets["activity"], "K12 strain at 37C") == []


def test_classes_are_independent(java_findall):
    dets = compile_detectors({"a": ["alpha beta"], "b": ["beta"]})
    assert java_findall(dets["a"], "alpha beta") == ["alpha beta"]
    assert java_findall(dets["b"], "alpha beta") == ["beta"]


def test_detect_mentions_edge_rows(spark):
    """``detect_mentions`` on edge rows gives these exact mention arrays:
    longest strain alias first, word boundaries, classes in order, no
    value in fullwidth digits (Java's ``\\d`` is ASCII, as is the DuckDB
    oracle's RE2), and ``[]`` rather than NULL for empty and NULL text."""
    from amr_kg_spark.operators.mentions import detect_mentions

    turns = spark.createDataFrame(
        [
            ("edge", 0, "Helmholtz Centre Braunschweig and Uppsala Antibiotic"
             " Center grew Escherichia coli K12 and Escherichia coli"),
            ("edge", 1, "xCiprofloxacin Ciprofloxaciny (Ciprofloxacin) at"
             " 12.5 nM; K12 at 37C"),
            ("edge", 2, ""),
            ("edge", 3, None),
            ("edge", 4, "Ciprofloxacin at １２ nM"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    got = {
        r.turn_idx: [(m.entity_class, m.mention) for m in r.mentions]
        for r in detect_mentions(turns).collect()
    }
    assert got == {
        0: [
            ("pathogen", "Escherichia coli K12"),
            ("pathogen", "Escherichia coli"),
            ("institution", "Helmholtz Centre Braunschweig"),
            ("institution", "Uppsala Antibiotic Center"),
        ],
        1: [("compound", "Ciprofloxacin"), ("activity", "12.5 nM")],
        2: [],
        3: [],
        4: [("compound", "Ciprofloxacin")],
    }
