"""Every program function has a caller.

Parses every non-test ``.py`` file of the repo (jobs, tools, the
benchmark harness, ``bench*.py`` and ``__spark_entry__.py`` included) and
asserts that each top-level function and class defined in ``amr_kg_spark/``,
``jobs/`` and ``tools/`` is named somewhere outside its own ``def``.
Comments and docstrings hold no names in the syntax tree (names inside
f-strings do count), and test files do not count as callers, so an
operator that only its own tests reach fails here. A name that stays without a program caller needs a
``KEEP`` entry saying which SURVEY row or oracle role it serves.
"""

from __future__ import annotations

import ast
import functools
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CHECKED = ("amr_kg_spark", "jobs", "tools")

KEEP = {
    # S6 reference parity: rebuild the reference's graph and its dump
    # (tests/test_refparity.py)
    "build_reference_graph": "S6: the reference's graph build, compared with ours",
    "write_graph_dump": "S6: writes the rebuilt graph as a Neo4j-export dump",
    "apoc_dump_lines": "S6: the dump's APOC export lines, compared with the golden dump",
    # dump parity against the published graph (tests/test_realdump_parity.py)
    "build_base_graph": "dump parity: base graph from the reference's input files",
    "build_chembl_assay_triples": "dump parity: ChEMBL assay triples from the MIC file",
    "build_spark_assay_triples": "dump parity: SPARK assay triples from the SPARK TSVs",
    "fix_mojibake": "dump parity: normalizes the dump's double-encoded names",
    "load_dump_base_triples": "dump parity: base triples read from the golden dump",
    "load_dump_chembl_assay_triples": "dump parity: ChEMBL triples read from the golden dump",
    "load_dump_spark_assay_triples": "dump parity: SPARK triples read from the golden dump",
    # the reference's scan and sink surface (tests/test_sources.py, test_plans.py)
    "write_tsv": "S6/S7: TSV triple-dump and side-output sink",
    "read_jdbc_sqlite": "S4: ChEMBL SQLite scan, gated on its driver jar",
    "chembl_assay_query": "S4: the ChEMBL assay SQL run over the JDBC scan",
    "read_jsonl": "S2 scan family: JSON-lines scan with an enforced schema",
    "write_jsonl": "S7 sink family: JSON-lines side-output writer",
    "write_bucketed": "S5 table sinks: bucketed layout whose joins need no exchange",
    # oracle replica and the skew path
    "conversation_text_salted": "SURVEY conv_id hot-key skew: salted reconstruction",
    "spark_xxhash64_str_sql": "oracle replica of Spark's xxhash64 over strings",
}


def _program_files() -> list[Path]:
    out = []
    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT)
        if any(p.startswith(".") or p in ("tests", "__pycache__") for p in rel.parts):
            continue
        if rel.name.startswith("test_") or rel.name == "conftest.py":
            continue
        out.append(path)
    return out


@functools.cache
def _scan():
    """(definitions, uses): top-level defs of the checked packages as
    ``{name: [(file, first, last)]}`` and the count of each defined name's
    uses in program files, each def's own span excluded."""
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    sources = {}
    for path in _program_files():
        src = path.read_text()
        sources[path] = src
        if path.relative_to(ROOT).parts[0] not in CHECKED:
            continue
        for node in ast.parse(src).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs.setdefault(node.name, []).append((path, first, node.end_lineno))
    uses: Counter[str] = Counter()
    for path, src in sources.items():
        own = {
            name: (first, last)
            for name, spans in defs.items()
            for p, first, last in spans
            if p == path
        }
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            span = own.get(name)
            if name in defs and not (span and span[0] <= node.lineno <= span[1]):
                uses[name] += 1
    return defs, uses


def test_every_program_function_has_a_caller():
    defs, uses = _scan()
    orphans = sorted(
        f"{spans[0][0].relative_to(ROOT)}:{name}"
        for name, spans in defs.items()
        if not uses[name] and name not in KEEP
    )
    assert not orphans, (
        "top-level names with no caller outside tests, comments and "
        f"docstrings: {orphans}; add the caller or a KEEP entry with its reason"
    )


def test_keep_entries_are_live():
    defs, uses = _scan()
    stale = sorted(n for n in KEEP if n not in defs or uses[n])
    assert not stale, f"KEEP entries that are gone or now have a caller: {stale}"
