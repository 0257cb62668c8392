"""Every program function has a caller, and every default a setter.

Parses every non-test ``.py`` file of the repo (jobs, tools, the
benchmark harness, ``bench*.py`` and ``__spark_entry__.py`` included) and
asserts that each top-level function and class defined in ``amr_kg_spark/``,
``jobs/`` and ``tools/`` is named somewhere outside its own ``def``.
Comments and docstrings hold no names in the syntax tree (names inside
f-strings do count), and test files do not count as callers, so an
operator that only its own tests reach fails here. A name that stays without a program caller needs a
``KEEP`` entry saying which SURVEY row or oracle role it serves.

The same files must bind every defaulted parameter of every ``def`` in
those packages (nested defs and methods included) by keyword or by
position in some call; a default nothing overrides is a constant. Calls
match a ``def`` by name, as callers do above. A parameter that only
tests set needs a ``KEEP_PARAMS`` entry naming the test behaviour it
reaches.
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

# "<def name>.<parameter>" (the class name for ``__init__``)
KEEP_PARAMS = {
    # dump parity (tests/test_realdump_parity.py, skipped without the
    # reference checkout): deployment paths and the dump's export surface
    "build_base_graph.data_dir": "dump parity: the reference checkout's data path",
    "build_chembl_assay_triples.data_dir": "dump parity: the reference checkout's data path",
    "build_spark_assay_triples.data_dir": "dump parity: the reference checkout's data path",
    "build_spark_assay_triples.alias": "dump parity: the offline PubChem alias table",
    "load_dump_base_triples.path": "dump parity: the golden dump's path",
    "load_dump_chembl_assay_triples.path": "dump parity: the golden dump's path",
    "load_dump_spark_assay_triples.path": "dump parity: the golden dump's path",
    "load_offline_pubchem_alias.path": "dump parity: the offline PubChem alias file",
    "graph_dump.edge_prop_cols": "S6: the dump's edge properties, compared with the golden dump",
    "graph_dump.prop_keys": "S6: the dump's node property keys, compared with the golden dump",
    "graph_dump.ids": "S6: the dump's node ids, compared with the golden dump",
    "apoc_dump_lines.edge_prop_cols": "S6: the dump's edge properties, compared with the golden dump",
    "apoc_dump_lines.ids": "S6: the golden dump's node ids (test_realdump_parity)",
    # S4 ChEMBL scan: its test skips without the SQLite JDBC jar
    "read_jdbc_sqlite.partition_column": "S4: partitioned JDBC scan (test_sources)",
    "read_jdbc_sqlite.num_partitions": "S4: partitioned JDBC scan (test_sources)",
    "read_jdbc_sqlite.lower_bound": "S4: partitioned JDBC scan (test_sources)",
    "read_jdbc_sqlite.upper_bound": "S4: partitioned JDBC scan (test_sources)",
    "has_jdbc_driver.driver": "S4: the Derby driver that ships with Spark (test_sources)",
    # the reference's scan and sink surface
    "read_csv.usecols": "S1: the reference's CSV column projection (test_sources)",
    "write_bucketed.sort_col": "S5: sorted buckets in the exchange-free join plan (test_plans)",
    "write_bucketed.path": "S5: the bucketed table's location (test_plans)",
    # behaviour only tests reach
    "connected_components.max_iter": "the non-convergence raise (test_canonicalize)",
    "conversation_text_salted.bucket_size": "hot-key buckets at fixture size (test_reconstruct, test_skew)",
    "get_spark.shuffle_partitions": "the test session's shuffle width (tests/conftest.py)",
    "decontaminate.mode": "the flag-mode audit column (test_datapipe)",
    "dedup_lines.sep": "literal non-newline separators (test_datapipe)",
    "fit_quality_classifier.sample_per_class": "the bounded fit sample at fixture size (test_featurize)",
    "fit_dsir_weights.num_buckets": "DSIR bucket widths against the DuckDB replay (test_featurize)",
    "dsir_select.seed": "seeded Gumbel-max resampling (test_featurize)",
    "extract_features.fake_decode": "the real-decode path of the media UDF (test_datapipe)",
    "fit_unigram_lm.vocab_size": "the top-V vocabulary cut against DuckDB (test_datapipe)",
    "fit_unigram_lm.min_count": "the min-count cut against DuckDB (test_datapipe)",
    "normalize_text.nfc": "the NFC Arrow path (test_textprep)",
    "mix_to_token_budget.shards": "the hot-stratum sharded mix (test_textprep)",
    "corpus_stats.token_count_col": "stats over BPE token counts (test_tokenize)",
    "train_bpe.min_pair_count": "the merge-count floor against the rescan oracle (test_tokenize)",
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
def _trees() -> dict[Path, ast.Module]:
    return {path: ast.parse(path.read_text()) for path in _program_files()}


@functools.cache
def _scan():
    """(definitions, uses): top-level defs of the checked packages as
    ``{name: [(file, first, last)]}`` and the count of each defined name's
    uses in program files, each def's own span excluded."""
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    for path, tree in _trees().items():
        if path.relative_to(ROOT).parts[0] not in CHECKED:
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs.setdefault(node.name, []).append((path, first, node.end_lineno))
    uses: Counter[str] = Counter()
    for path, tree in _trees().items():
        own = {
            name: (first, last)
            for name, spans in defs.items()
            for p, first, last in spans
            if p == path
        }
        for node in ast.walk(tree):
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


def _defaulted_params() -> list[tuple[str, str, int | None]]:
    """``(location, "<def>.<param>", slot)`` for every defaulted parameter
    of every def in the checked packages. ``slot`` is the positional index
    a call binds it at (methods drop ``self``; None for keyword-only)."""
    out = []

    def visit(node, path, cls=None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, path, child.name)
                continue
            if not isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, path, cls)
                continue
            static = any(
                isinstance(d, ast.Name) and d.id == "staticmethod"
                for d in child.decorator_list
            )
            shift = 1 if cls and not static else 0
            name = cls if cls and child.name == "__init__" else child.name
            a = child.args
            slots = a.posonlyargs + a.args
            first = len(slots) - len(a.defaults)
            params = [(p.arg, i - shift) for i, p in enumerate(slots) if i >= first]
            params += [
                (p.arg, None)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            loc = f"{path.relative_to(ROOT)}:{child.lineno}"
            out.extend((loc, f"{name}.{p}", slot) for p, slot in params)
            visit(child, path)

    for path, tree in _trees().items():
        if path.relative_to(ROOT).parts[0] in CHECKED:
            visit(tree, path)
    return out


def _bound() -> set[str]:
    """``"<callee>.<param or slot>"`` for every argument some program call
    binds: by keyword, by position (``*args`` binds every slot from its
    own on) and, through ``functools.partial``, the partial's arguments.
    ``**kwargs`` binds every keyword (``"<callee>.**"``)."""
    out = set()
    for tree in _trees().values():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            name = getattr(func, "id", getattr(func, "attr", None))
            if name == "partial" and args:
                name = getattr(args[0], "id", getattr(args[0], "attr", None))
                args = args[1:]
            for i, arg in enumerate(args):
                star = "*" if isinstance(arg, ast.Starred) else ""
                out.add(f"{name}.{star}{i}")
            out.update(f"{name}.{k.arg or '**'}" for k in node.keywords)
    return out


def _unset_params() -> list[tuple[str, str]]:
    bound = _bound()

    def is_set(key: str, slot: int | None) -> bool:
        func = key.split(".")[0]
        if key in bound or f"{func}.**" in bound:
            return True
        if slot is None:
            return False
        slots = [str(slot)] + [f"*{j}" for j in range(slot + 1)]
        return any(f"{func}.{s}" in bound for s in slots)

    return [
        (loc, key) for loc, key, slot in _defaulted_params() if not is_set(key, slot)
    ]


def test_every_default_has_a_setter():
    orphans = sorted(
        f"{loc} {key}" for loc, key in _unset_params() if key not in KEEP_PARAMS
    )
    assert not orphans, (
        "defaulted parameters no program call sets (a default nothing "
        f"overrides is a constant): {orphans}; inline the default at its "
        "uses, or add a KEEP_PARAMS entry naming the test behaviour it reaches"
    )


def test_keep_params_are_live():
    unset = {key for _, key in _unset_params()}
    stale = sorted(k for k in KEEP_PARAMS if k not in unset)
    assert not stale, f"KEEP_PARAMS entries that are gone or now have a setter: {stale}"
