"""Controlled vocabularies for the KG-construction engine.

Shapes mirror the reference's curated inputs (pathogen list =
reference data/AMR/pathogen.csv; strain->species alias map =
reference src/constants.py:14-50 PATHOGEN_MAPPER; compound vocabulary =
reference data/MIC/mic-data.tsv + src/get_chembl_data.py id columns;
institutes = reference data/AMR/institute.csv). Values are rewritten, not
copied. Terms are chosen so that

  * no term is a substring of another term in the same or another class
    (except strain aliases, which by design CONTAIN their species name and
    are resolved longest-match-first), and
  * no term collides with the synthetic document word-salad (vocab terms
    are capitalized; documents are lowercase).

These constants are the single source of truth for both the Spark side
(broadcast DataFrames) and the DuckDB oracle SQL (VALUES clauses), so the
driver's side-by-side comparison is exact.
"""

from __future__ import annotations

# (canonical_name, ncbitaxon_id)
PATHOGENS: list[tuple[str, str]] = [
    ("Acinetobacter baumannii", "470"),
    ("Klebsiella pneumoniae", "573"),
    ("Pseudomonas aeruginosa", "287"),
    ("Staphylococcus aureus", "1280"),
    ("Escherichia coli", "562"),
    ("Enterococcus faecium", "1352"),
    ("Neisseria gonorrhoeae", "485"),
    ("Mycobacterium tuberculosis", "1773"),
]

# (strain_alias, canonical_species) — alias CONTAINS the species name, like
# the reference's PATHOGEN_MAPPER keys; exercises longest-match-first.
STRAIN_ALIASES: list[tuple[str, str]] = [
    ("Escherichia coli K12", "Escherichia coli"),
    ("Staphylococcus aureus MRSA252", "Staphylococcus aureus"),
    ("Klebsiella pneumoniae MGH78578", "Klebsiella pneumoniae"),
    ("Mycobacterium tuberculosis H37Rv", "Mycobacterium tuberculosis"),
]

# (pref_name, chembl_id, pubchem_id, spark_id, drugcentral_id)
# id-availability mix drives the priority fallback chain
# (reference src/relations.py:146-155,198-204): rows with chembl-only,
# pubchem-only, spark-only, drugcentral-only, and multi-id.
COMPOUNDS: list[tuple[str, str | None, str | None, str | None, str | None]] = [
    ("Ciprofloxacin", "CHEMBL8", "2764", "SPK-101", "743"),
    ("Meropenem", "CHEMBL127", "441130", None, None),
    ("Vancomycin", "CHEMBL262777", None, None, None),
    ("Colistin", None, "5311054", None, None),
    ("Rifampicin", "CHEMBL374478", None, "SPK-202", None),
    ("Linezolid", None, None, "SPK-303", None),
    ("Tigecycline", None, None, None, "2673"),
    ("Amikacin", "CHEMBL177", "37768", None, "129"),
    ("Fosfomycin", None, "446987", "SPK-404", None),
    ("Daptomycin", "CHEMBL367064", None, None, "852"),
]

# (id, institute, link, comma_joined_project_ids)
INSTITUTES: list[tuple[str, str, str, str]] = [
    ("1", "Helmholtz Centre Braunschweig", "https://example.org/hzi", "1,2"),
    ("2", "Uppsala Antibiotic Center", "https://example.org/uac", "2"),
    ("3", "Pasteur Institute Lille", "https://example.org/pil", "1,3"),
    ("4", "Fraunhofer ITMP Hamburg", "https://example.org/itmp", "3"),
    ("5", "Broad Institute Cambridge", "https://example.org/broad", "2,3"),
    ("6", "Sanger Centre Hinxton", "https://example.org/sanger", "1"),
]

ACTIVITY_UNITS = ["nM", "uM", "ug/mL"]

# regex for MIC/pChEMBL-style activity values planted in transcripts —
# value+unit shape per reference src/amr.py:396 (standard_value +
# standard_units) and data/MIC mic_val strings.
ACTIVITY_PATTERN = r"(\d+(?:\.\d+)?) (nM|uM|ug/mL)"

# curie prefixes, reference src/sources.py:39,95,103,123,179 & src/amr.py:186
CURIE_PREFIX = {
    "chembl": "chembl:",
    "pubchem": "pubchem:",
    "spark": "spark:",
    "drugcentral": "drug.central:",
    "ncbitaxon": "ncbitaxon:",
    "institute": "imi:",
}


def sql_values(rows: list[tuple], cols: list[str]) -> str:
    """Render rows as an ANSI 'VALUES (...), (...)' table for oracle SQL."""

    def lit(v: object) -> str:
        if v is None:
            return "NULL"
        return "'" + str(v).replace("'", "''") + "'"

    body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {body}) AS t({', '.join(cols)})"


def compound_sql() -> str:
    return sql_values(
        COMPOUNDS,
        ["pref_name", "chembl_id", "pubchem_id", "spark_id", "drugcentral_id"],
    )
