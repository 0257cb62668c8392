"""REAL-DATA parity: build the base subgraph from the reference repo's
actual input CSVs (/root/reference/data/AMR) with the Spark engine and
score triple P/R against the reference's PUBLISHED golden dump
(data/dump/v1.0.csv) — the north_rule's agreement claim on real artifacts,
not fixtures.

Scope note: the dump predates the current reference source (no curie
props, un-titlecased ChEMBL names) and its ChEMBL-side input
(MIC/data_dump_31.tsv) is not in the repo, so the stable, fully-derivable
comparison surface is the base families: Person/Institute/Project/
Pathogen/Skill nodes and their six edge types (436 dump edges)."""

from __future__ import annotations

import os

import pytest

from amr_kg_spark.realdata import (
    BASE_EDGE_TYPES,
    REF_DATA,
    build_base_graph,
    fix_mojibake,
    load_dump_base_triples,
)

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DATA),
    reason=f"reference checkout not present ({REF_DATA})",
)


def test_base_subgraph_matches_published_dump(spark):
    out = build_base_graph(spark)
    got = {
        (fix_mojibake(r.subj), r.pred, fix_mojibake(r.obj))
        for r in out["triples"].collect()
    }
    expected = {
        (fix_mojibake(s), t, fix_mojibake(o))
        for s, t, o in load_dump_base_triples()
    }
    assert expected, "dump must contain base edges"
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.3f} R={recall:.3f} "
        f"(got {len(got)}, expected {len(expected)})\n"
        f"spark-only={sorted(got - expected)[:8]}\n"
        f"dump-only={sorted(expected - got)[:8]}"
    )


def test_base_node_names_match_published_dump(spark):
    """Every base-family node name in the dump exists in our build and
    vice versa (per label)."""
    import csv

    out = build_base_graph(spark)
    ours = {}
    for r in out["nodes"].collect():
        ours.setdefault(r.label, set()).add(fix_mojibake(r.name))

    with open("/root/reference/data/dump/v1.0.csv", newline="") as f:
        rows = list(csv.reader(f))
    hdr = rows[0]
    ix = {c: i for i, c in enumerate(hdr)}
    dump = {}
    for r in rows[1:]:
        lbl = r[ix["_labels"]].lstrip(":")
        if lbl in ("Person", "Institute", "Project", "Pathogen", "Skill"):
            dump.setdefault(lbl, set()).add(
                fix_mojibake(r[ix["name"]] or r[ix["Name"]])
            )
    for lbl, names in dump.items():
        assert ours.get(lbl) == names, (
            f"{lbl}: ours-only={sorted((ours.get(lbl) or set()) - names)[:5]} "
            f"dump-only={sorted(names - (ours.get(lbl) or set()))[:5]}"
        )


def test_chembl_assay_edges_match_published_dump(spark):
    """The dump's largest family (1009 Pathogen->ChEMBL ASSAY-IN edges,
    67% of the graph) rebuilt from the real mic-data.tsv: P/R >= 0.95
    (names lowercased — the dump predates the .title() display rule)."""
    from amr_kg_spark.realdata import (
        build_chembl_assay_triples,
        load_dump_chembl_assay_triples,
    )

    got = {
        (r.subj, r.pred, (r.obj or "").lower())
        for r in build_chembl_assay_triples(spark).collect()
    }
    expected = load_dump_chembl_assay_triples()
    assert len(expected) > 500
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.3f} R={recall:.3f} "
        f"(got {len(got)}, expected {len(expected)})\n"
        f"spark-only={sorted(got - expected)[:6]}\n"
        f"dump-only={sorted(expected - got)[:6]}"
    )


def test_spark_assay_edges_match_published_dump(spark):
    """The FULL SPARK-sourced assay family rebuilt from the real
    processed_mic_data.tsv — including the REST-named endpoints, resolved
    through the vendored offline alias snapshot (the round-3 version could
    only score a REST-independent subset with an empty alias table).
    MIC-covered ChEMBL names are excluded on both sides (already scored by
    the chembl_assay test)."""
    from amr_kg_spark.realdata import (
        build_spark_assay_triples,
        load_dump_spark_assay_triples,
        load_reference_mic,
    )

    mic_names = {
        (r.pref_name or "").lower()
        for r in load_reference_mic(spark).select("pref_name").distinct().collect()
    }

    def keep(t):
        subj, pred, obj, fam = t
        return fam in ("SPARK", "PubChem") or obj not in mic_names

    got = {
        t
        for t in (
            (r.subj, r.pred, r.obj, r.dst_label)
            for r in build_spark_assay_triples(spark).collect()
        )
        if keep(t)
    }
    expected = {t for t in load_dump_spark_assay_triples() if keep(t)}
    assert expected, "dump must contain SPARK-side edges"
    assert any(fam == "PubChem" for *_, fam in expected), (
        "REST-named PubChem endpoints must be in scope now"
    )
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.95 and recall >= 0.95, (
        f"P={precision:.3f} R={recall:.3f} "
        f"(got {len(got)}, expected {len(expected)})\n"
        f"spark-only={sorted(got - expected)[:6]}\n"
        f"dump-only={sorted(expected - got)[:6]}"
    )


def test_offline_alias_join_is_exercised(spark):
    """The alias table must be non-empty and actually name nodes: the
    snapshot's iupac names surface on PubChem nodes and its synonyms on
    new-ChEMBL nodes (reference src/sources.py:105,117 done as a
    broadcast-joined vocabulary table instead of live REST)."""
    from amr_kg_spark.realdata import (
        build_spark_assay_triples,
        load_offline_pubchem_alias,
    )

    alias = load_offline_pubchem_alias(spark)
    rows = alias.collect()
    assert len(rows) >= 10
    iupacs = {r.iupac_name for r in rows if r.iupac_name}
    synonyms = {(r.synonym or "").lower() for r in rows if r.synonym}
    assert iupacs and synonyms

    objs = {
        (r.dst_label, r.obj)
        for r in build_spark_assay_triples(spark).collect()
    }
    named_pubchem = {o for l, o in objs if l == "PubChem"}
    assert named_pubchem and named_pubchem <= iupacs
    assert synonyms & {o for l, o in objs if l == "ChEMBL"}


def test_combined_dump_parity(spark):
    """The north_rule P/R claim over the ENTIRE published dump: every
    family (base six edge types + all 1062 ASSAY-IN edges, 1498 distinct
    identity-level triples) rebuilt from the reference's real inputs plus
    the offline alias snapshot. Round 3 reached P=1.000/R=0.984 with 53
    REST-named triples excluded; the alias closes that gap."""
    from amr_kg_spark.realdata import (
        build_base_graph,
        build_chembl_assay_triples,
        build_spark_assay_triples,
        load_dump_base_triples,
        load_dump_spark_assay_triples,
    )

    got = set()
    for r in build_base_graph(spark)["triples"].collect():
        got.add((fix_mojibake(r.subj), r.pred, fix_mojibake(r.obj), "base"))
    for r in build_chembl_assay_triples(spark).collect():
        got.add((r.subj, r.pred, (r.obj or "").lower(), "ChEMBL"))
    for r in build_spark_assay_triples(spark).collect():
        got.add((r.subj, r.pred, r.obj, r.dst_label))

    expected = {
        (fix_mojibake(s), t, fix_mojibake(o), "base")
        for s, t, o in load_dump_base_triples()
    }
    expected |= load_dump_spark_assay_triples()

    assert len(expected) >= 1400
    tp = len(got & expected)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(expected) if expected else 0.0
    assert precision >= 0.995 and recall >= 0.995, (
        f"P={precision:.4f} R={recall:.4f} "
        f"(got {len(got)}, expected {len(expected)})\n"
        f"spark-only={sorted(got - expected)[:6]}\n"
        f"dump-only={sorted(expected - got)[:6]}"
    )


BASE_LABELS = {":Person", ":Institute", ":Project", ":Pathogen", ":Skill"}
DUMP_PROP_COLS = [
    "ChEMBL ID", "Name", "PubChem ID", "SMILES", "SPARK ID", "Spark ID",
    "definition", "email", "info", "link", "name", "ncbi id", "orcid",
]
DUMP_EDGE_COLS = ["ChEMBL Assay", "DOI", "Literature", "MIC"]


def _render(cells: list[str | None]) -> str:
    """APOC line convention (see refgraph.apoc_dump_lines): quoted when
    non-null (quote-doubled), bare when null."""
    return ",".join(
        "" if c is None else '"' + c.replace('"', '""') + '"' for c in cells
    )


def _parse_dump_rows():
    import csv

    with open("/root/reference/data/dump/v1.0.csv", newline="", encoding="utf-8") as f:
        raw_lines = f.read().splitlines()
    rows = list(csv.reader(raw_lines))
    hdr = rows[0]
    ix = {c: i for i, c in enumerate(hdr)}
    out = []
    for raw, r in zip(raw_lines[1:], rows[1:]):
        kind = "node" if r[ix["_labels"]] else "edge"
        # null-vs-empty is decided by row kind (verified byte-for-byte below)
        if kind == "node":
            cells = [r[ix["_id"]], r[ix["_labels"]]]
            cells += [r[ix[c]] for c in DUMP_PROP_COLS]
            cells += [None, None, None] + [None] * len(DUMP_EDGE_COLS)
        else:
            cells = [None, None] + [None] * len(DUMP_PROP_COLS)
            cells += [r[ix["_start"]], r[ix["_end"]], r[ix["_type"]]]
            cells += [r[ix[c]] for c in DUMP_EDGE_COLS]
        out.append((kind, r, ix, raw, cells))
    return out


def test_dump_bytes_base_families(spark):
    """Byte-level dump diff (round-4 item 7): the engine's APOC-format
    writer reproduces the published dump's base-family rows EXACTLY, byte
    for byte, modulo three documented dump-era normalizations:

    1. node ids — the dump's ids are a dead Neo4j instance's internal
       counter; the writer takes the dump's own (label, name) -> id
       assignment as its id table (graph_dump's ``ids`` parameter);
    2. mojibake — person.csv's U+FFFD read as ISO-8859-1 (see
       fix_mojibake);
    3. Pathogen 'ncbi id' — the dump predates the current reference
       source, which carries the taxon id in a curie prop (absent from
       the dump's columns) instead of an 'ncbi id' prop; that one cell is
       cleared on the expected side;
    4. one Institute 'link' cell holding the literal string "NaN" — the
       reference sets link without a notna guard (src/amr.py:134-ish), so
       a missing institute.csv link cell becomes pandas float-NaN
       stringified; the engine keeps props null-free by design, so the
       cell is cleared on the expected side;
    5. INCLUDES direction — the dump carries skill -> group, the current
       reference source (src/amr.py:295) creates group -> skill, which
       this engine mirrors; expected-side _start/_end are swapped (same
       normalization as load_dump_base_triples).

    Step 1 proves the QUOTING convention itself is byte-exact: re-rendering
    every parsed base row under the row-kind rule reproduces its raw line.
    Step 2 then diffs the engine's rendered rows against the raw lines.
    """
    from collections import Counter

    import pyspark.sql.functions as F

    from amr_kg_spark.refgraph import apoc_dump_lines

    parsed = _parse_dump_rows()
    base_rows = [
        p for p in parsed
        if (p[0] == "node" and p[1][p[2]["_labels"]] in BASE_LABELS)
        or (p[0] == "edge" and p[1][p[2]["_type"]] in BASE_EDGE_TYPES)
    ]
    assert len(base_rows) > 600

    # -- step 1: the quoting convention is byte-exact on every base row
    for kind, r, ix, raw, cells in base_rows:
        assert _render(cells) == raw, f"convention mismatch: {raw[:80]}"

    # -- step 2: engine rows vs raw dump bytes
    out = build_base_graph(spark)
    dump_ids = {}
    for kind, r, ix, raw, cells in base_rows:
        if kind == "node":
            lbl = r[ix["_labels"]].lstrip(":")
            dump_ids[(lbl, fix_mojibake(r[ix["name"]]))] = r[ix["_id"]]
    ours = [(r.label, r.key) for r in out["nodes"].select("label", "key").collect()]
    ids_df = spark.createDataFrame(
        [(l, k, dump_ids[(l, fix_mojibake(k))]) for l, k in ours],
        "label string, key string, _id string",
    )
    got = Counter(
        fix_mojibake(r.line)
        for r in apoc_dump_lines(
            out["nodes"], out["edges"], DUMP_PROP_COLS, ids=ids_df
        ).collect()
    )

    expected = Counter()
    n_prop = len(DUMP_PROP_COLS)
    for kind, r, ix, raw, cells in base_rows:
        cells = list(cells)
        if kind == "node" and r[ix["_labels"]] == ":Pathogen":
            cells[2 + DUMP_PROP_COLS.index("ncbi id")] = ""  # norm 3
            expected[fix_mojibake(_render(cells))] += 1
        elif kind == "node" and cells[2 + DUMP_PROP_COLS.index("link")] == "NaN":
            cells[2 + DUMP_PROP_COLS.index("link")] = ""  # norm 4
            expected[fix_mojibake(_render(cells))] += 1
        elif kind == "edge" and r[ix["_type"]] == "INCLUDES":
            s, e = cells[2 + n_prop], cells[3 + n_prop]
            cells[2 + n_prop], cells[3 + n_prop] = e, s  # norm 5
            expected[fix_mojibake(_render(cells))] += 1
        else:
            expected[fix_mojibake(raw)] += 1

    only_got = list((got - expected).keys())[:3]
    only_exp = list((expected - got).keys())[:3]
    assert got == expected, (
        f"byte diff: ours-only={only_got}\ndump-only={only_exp}"
    )
