"""KG-construction queries + independent DuckDB oracles.

The Spark side runs the real engine (regexp_extract_all mention detection,
map-literal linking, higher-order-function pair building). The oracle side
recomputes the expected answer in pure SQL from the *planting arithmetic*
of :mod:`amr_kg_spark.transcripts` — a genuinely independent derivation, so
agreement means the extraction actually recovered what was planted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import vocab
from ..operators.linking import compound_vocab, link_compounds, link_pathogens
from ..operators.mentions import detect_mentions, explode_mentions
from ..operators.reconstruct import conversation_text, ordered_turns
from ..operators.triples import (
    build_nodes,
    build_edges,
    cooccurrence_pairs,
    export_undirected,
    extract_triples,
    resolve_pairs,
)
from ..session import scan_parquet
from ..transcripts import derive_transcripts, transcripts_oracle_cte
from ..vocab import sql_values

# ---------------------------------------------------------------------------
# oracle SQL building blocks (DuckDB dialect)
# ---------------------------------------------------------------------------

def _with_transcripts(body: str, extra_ctes: str = "") -> str:
    return f"WITH {transcripts_oracle_cte()}{extra_ctes}\n{body}"


def _species_shadow() -> dict[str, str]:
    """species -> alias that shadows it (longest-match-first emulation)."""
    return {canon: alias for alias, canon in vocab.STRAIN_ALIASES}


def _gazetteer_values() -> str:
    rows: list[tuple] = []
    shadow = _species_shadow()
    for p, _ in vocab.PATHOGENS:
        rows.append(("pathogen", p, shadow.get(p)))
    for a, _ in vocab.STRAIN_ALIASES:
        rows.append(("pathogen", a, None))
    for c in vocab.COMPOUNDS:
        rows.append(("compound", c[0], None))
    for i in vocab.INSTITUTES:
        rows.append(("institution", i[1], None))
    return sql_values(rows, ["entity_class", "term", "shadow"])


def _pathogen_pick_values() -> str:
    """idx 0..11 -> (term, canonical, ncbitaxon), matching the derivation."""
    taxon = dict(vocab.PATHOGENS)
    rows = []
    for i, (p, t) in enumerate(vocab.PATHOGENS):
        rows.append((i, p, p, t))
    for j, (a, canon) in enumerate(vocab.STRAIN_ALIASES):
        rows.append((8 + j, a, canon, taxon[canon]))
    return sql_values(rows, ["idx", "term", "canonical", "ncbitaxon"])


def _compound_pick_values() -> str:
    rows = [(i, *c) for i, c in enumerate(vocab.COMPOUNDS)]
    return sql_values(
        rows, ["idx", "pref_name", "chembl_id", "pubchem_id", "spark_id", "drugcentral_id"]
    )


def _institute_pick_values() -> str:
    rows = [(i, r[1]) for i, r in enumerate(vocab.INSTITUTES)]
    return sql_values(rows, ["idx", "institute"])


def _unit_pick_values() -> str:
    rows = [(i, u) for i, u in enumerate(vocab.ACTIVITY_UNITS)]
    return sql_values(rows, ["idx", "unit"])


_COMPOUND_CURIE = (
    "COALESCE('chembl:' || chembl_id, 'pubchem:' || pubchem_id, "
    "'spark:' || spark_id, 'drug.central:' || drugcentral_id)"
)

# the planted ground truth, recomputed from doc_id arithmetic
_PLANTED_CTE = f""",
pp AS (SELECT * FROM {_pathogen_pick_values()}),
cp AS (SELECT idx, pref_name, {_COMPOUND_CURIE} AS compound_curie FROM {_compound_pick_values()}),
ip AS (SELECT * FROM {_institute_pick_values()}),
up AS (SELECT * FROM {_unit_pick_values()}),
planted AS (
  SELECT d.doc_id,
         pp.term AS pathogen_term, pp.canonical AS pathogen,
         'ncbitaxon:' || pp.ncbitaxon AS pathogen_curie,
         cp.pref_name AS compound, cp.compound_curie,
         d.doc_id % 7 = 0 AS resistant,
         d.doc_id % 3 = 0 AS has_activity,
         CAST(d.doc_id % 64 AS VARCHAR) || '.' || CAST(d.doc_id % 10 AS VARCHAR)
           || ' ' || up.unit AS act_val,
         d.doc_id % 5 = 0 AS has_inst,
         ip.institute AS institution,
         'imi:' || lower(ip.institute) AS institution_curie
  FROM documents d
  JOIN pp ON pp.idx = CAST(d.doc_id % 12 AS INT)
  JOIN cp ON cp.idx = CAST(d.doc_id % 10 AS INT)
  JOIN ip ON ip.idx = CAST(d.doc_id % 6 AS INT)
  JOIN up ON up.idx = CAST(FLOOR(d.doc_id / 3) % 3 AS INT)
)"""

_TRIPLES_ORACLE_BODY = """
SELECT DISTINCT * FROM (
  SELECT pathogen AS subj, pathogen_curie AS subj_curie, 'resistantTo' AS pred,
         compound AS obj, compound_curie AS obj_curie
  FROM planted WHERE resistant
  UNION ALL
  SELECT compound, compound_curie, 'testedAgainst', pathogen, pathogen_curie
  FROM planted WHERE NOT resistant
  UNION ALL
  SELECT compound, compound_curie, 'hasActivity', act_val, CAST(NULL AS VARCHAR)
  FROM planted WHERE has_activity
  UNION ALL
  SELECT compound, compound_curie, 'studiedAt', institution, institution_curie
  FROM planted WHERE has_inst
)"""


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------

def q_reconstruct(spark: SparkSession, sf: str) -> DataFrame:
    return conversation_text(derive_transcripts(spark, sf))


def q_ordered_turns(spark: SparkSession, sf: str) -> DataFrame:
    return ordered_turns(derive_transcripts(spark, sf))


def q_mentions(spark: SparkSession, sf: str) -> DataFrame:
    t = derive_transcripts(spark, sf)
    return (
        explode_mentions(detect_mentions(t))
        .select("conv_id", "turn_idx", "entity_class", "mention")
        .distinct()
    )


def q_link_compounds(spark: SparkSession, sf: str) -> DataFrame:
    t = derive_transcripts(spark, sf)
    mentions = (
        explode_mentions(detect_mentions(t))
        .filter(F.col("entity_class") == "compound")
        .select("mention")
        .distinct()
    )
    return link_compounds(mentions).select("mention", "curie")


def q_link_pathogens(spark: SparkSession, sf: str) -> DataFrame:
    t = derive_transcripts(spark, sf)
    mentions = (
        explode_mentions(detect_mentions(t))
        .filter(F.col("entity_class") == "pathogen")
        .select("mention")
        .distinct()
    )
    return link_pathogens(mentions).select("mention", "canonical", "curie")


def q_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization over the events stream (real gap variance;
    the transcript derivation has uniform gaps). Same operator the KG path
    uses for conversation splitting."""
    from ..operators.reconstruct import sessionize

    e = (
        scan_parquet(spark, f"{sf}/events.parquet")
        .select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("turn_idx"),
            "ts",
        )
    )
    return sessionize(e, gap_minutes=60).select("conv_id", "turn_idx", "session_id")


def q_conversation_features(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.reconstruct import conversation_features

    return conversation_features(derive_transcripts(spark, sf))


def q_triples(spark: SparkSession, sf: str) -> DataFrame:
    return extract_triples(derive_transcripts(spark, sf))


def q_triples_undirected(spark: SparkSession, sf: str) -> DataFrame:
    return export_undirected(extract_triples(derive_transcripts(spark, sf)))


def q_nodes(spark: SparkSession, sf: str) -> DataFrame:
    t = derive_transcripts(spark, sf)
    resolved = resolve_pairs(cooccurrence_pairs(detect_mentions(t)))
    return build_nodes(resolved).select("label", "name", "curie")


def q_edge_counts(spark: SparkSession, sf: str) -> DataFrame:
    t = derive_transcripts(spark, sf)
    resolved = resolve_pairs(cooccurrence_pairs(detect_mentions(t)))
    return (
        build_edges(resolved)
        .groupBy("rel_type")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )


def _mic_doc_cte(dialect: str) -> str:
    """Deterministic mic-script-shaped table derived from documents by
    doc_id arithmetic (mirrors /root/reference/data/MIC/mic-data.tsv's
    usecols shape: strain, chembl_id, NAME, pIC50, assay_id, journal, year
    — all strings, comma decimals in pIC50, nullable journal/year/assay)."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return f""",
micdoc AS (
  SELECT pp.term AS strain,
         'CHEMBL' || CAST(d.doc_id % 10 + 100 AS {s}) AS chembl_id,
         cp2.pref_name AS name,
         CASE WHEN d.doc_id % 4 = 3 THEN NULL
              ELSE CAST(d.doc_id % 64 AS {s}) || ',' || CAST(d.doc_id % 10 AS {s}) END AS pic50,
         CASE WHEN d.doc_id % 11 = 0 THEN NULL
              ELSE 'ASSAY' || CAST(d.doc_id % 22 AS {s}) END AS assay_id,
         CASE WHEN d.doc_id % 3 = 0 THEN NULL
              ELSE 'Journal-' || CAST(d.doc_id % 5 AS {s}) END AS journal,
         CASE WHEN d.doc_id % 5 = 0 THEN NULL
              ELSE CAST(2010 + d.doc_id % 13 AS {s}) END AS year
  FROM documents d
  JOIN pp ON pp.idx = CAST(d.doc_id % 12 AS INT)
  JOIN cp2 ON cp2.idx = CAST(d.doc_id % 10 AS INT)
)"""


def derive_mic_doc(spark: SparkSession, sf: str) -> DataFrame:
    from ..session import fan_out

    fan_out(scan_parquet(spark, f"{sf}/documents.parquet")).createOrReplaceTempView(
        "documents"
    )
    cp2 = sql_values(
        [(i, c[0]) for i, c in enumerate(vocab.COMPOUNDS)], ["idx", "pref_name"]
    )
    cte = (
        f"WITH pp AS (SELECT * FROM {_pathogen_pick_values()}),\n"
        f"cp2 AS (SELECT * FROM {cp2})"
        + _mic_doc_cte("spark")
    )
    return spark.sql(f"{cte}\nSELECT * FROM micdoc")


def q_mic_edges(spark: SparkSession, sf: str) -> DataFrame:
    """The mic-script subgraph (HAS_pIC50 / FOUND_IN / IN_YEAR / ASSAY_IN
    edge families incl. the post-node-creation journal fillna) run through
    the real graph build — node registries + per-row edge multiset + node
    joins; the oracle recomputes the expected (subj, pred, obj) multiset
    directly from the planting arithmetic."""
    from ..refgraph import mic_graph

    return mic_graph(derive_mic_doc(spark, sf))["triples"]


def q_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative CC (pointer-jumping label propagation) over the
    nation–region bipartite graph — closed-form oracle: every node's
    component is the min nation key within its region."""
    from ..operators.canonicalize import connected_components

    n = scan_parquet(spark, f"{sf}/nation.parquet")
    edges = n.select(
        F.col("n_nationkey").cast("long").alias("src"),
        (F.col("n_regionkey").cast("long") + 1000).alias("dst"),
    )
    return connected_components(edges)


def q_fuzzy_link(spark: SparkSession, sf: str) -> DataFrame:
    """Exact char-gram fuzzy linking of dirty mention variants (the
    prefix-filtered join misses no pair; brute-force set equality is
    asserted in tests/test_linking.py). Dirty variants are derived
    deterministically from the vocabulary."""
    from ..operators.linking import fuzzy_link

    v = compound_vocab(spark)
    dirty = v.select(
        F.explode(
            F.array(
                F.lower("pref_name"),
                F.upper("pref_name"),
                F.concat(F.col("pref_name"), F.lit(" ")),
            )
        ).alias("mention")
    )
    return fuzzy_link(dirty, v, threshold=0.4).select("mention", "matched_name")


def q_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """KG canonicalization over deterministic multi-source name variants
    (rows-only: iterative CC + exact char-gram self-join)."""
    from ..operators.canonicalize import canonicalize_kg

    v = compound_vocab(spark)
    variants = (
        v.select(
            F.explode(
                F.array(
                    F.struct(F.lit("ChEMBL").alias("label"), F.col("pref_name").alias("name")),
                    F.struct(F.lit("PubChem").alias("label"), F.lower("pref_name").alias("name")),
                    F.struct(F.lit("SPARK").alias("label"), F.upper("pref_name").alias("name")),
                )
            ).alias("s")
        )
        .select(
            F.xxhash64("s.label", "s.name").alias("node_id"),
            F.col("s.label").alias("label"),
            F.col("s.name").alias("name"),
            F.lit(None).cast("string").alias("curie"),
            F.create_map(F.lit("src"), F.col("s.label")).alias("props"),
        )
    )
    edges = variants.limit(0).select(
        F.col("node_id").alias("src_id"),
        F.col("node_id").alias("dst_id"),
        F.lit("X").alias("rel_type"),
        "props",
    )
    out = canonicalize_kg(variants, edges, max_dist=0.4)
    return out["nodes"].select("label", "name", "merged_from").orderBy("name")


QUERIES = {
    "kg_cc_components": q_connected_components,
    "kg_fuzzy_link": q_fuzzy_link,
    "kg_canonicalize": q_canonicalize,
    "kg_reconstruct": q_reconstruct,
    "kg_ordered_turns": q_ordered_turns,
    "kg_mentions": q_mentions,
    "kg_sessionize": q_sessionize,
    "kg_conversation_features": q_conversation_features,
    "kg_link_compounds": q_link_compounds,
    "kg_link_pathogens": q_link_pathogens,
    "kg_triples": q_triples,
    "kg_triples_undirected": q_triples_undirected,
    "kg_nodes": q_nodes,
    "kg_edge_counts": q_edge_counts,
    "kg_mic_edges": q_mic_edges,
}


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _mentions_oracle() -> str:
    gaz = _gazetteer_values()
    return _with_transcripts(
        f"""
SELECT DISTINCT conv_id, turn_idx, entity_class, mention FROM (
  SELECT t.conv_id, t.turn_idx, g.entity_class, g.term AS mention
  FROM transcripts t JOIN {gaz.replace('AS t(', 'AS g(')}
    ON regexp_matches(t.text, '(^|[^A-Za-z0-9])' || g.term || '($|[^A-Za-z0-9])')
   AND (g.shadow IS NULL OR NOT contains(t.text, g.shadow))
  UNION ALL
  SELECT conv_id, turn_idx, 'activity' AS entity_class,
         unnest(regexp_extract_all(text, '\\d+(?:\\.\\d+)? (?:nM|uM|ug/mL)')) AS mention
  FROM transcripts
)"""
    )


def _compound_vocab_cte() -> str:
    return f"cv AS (SELECT * FROM {vocab.compound_sql()})"


def _duck_char_grams(expr: str) -> str:
    """DuckDB char-n-gram set, mirroring operators.linking.char_ngrams_expr
    (lowered, whitespace-collapsed, distinct)."""
    c = f"regexp_replace(lower({expr}),'\\s+',' ','g')"
    return (
        f"list_distinct(list_transform(generate_series(1, greatest(length({c})-2,1)), "
        f"i -> ({c})[i:i+2]))"
    )


def _fuzzy_link_oracle() -> str:
    """Exact char-3-gram Jaccard >= 0.6 between every dirty variant and every
    vocab name. Valid as the oracle for the LSH query because the fixture
    has a planted margin: true (variant, name) pairs sit at Jaccard >= 0.857
    (recall 1 — identical gram sets for case variants hash to identical
    MinHash signatures; trailing-space variants are missed with prob
    (1-0.857)^6 ≈ 9e-6) while every cross-name pair sits below 0.35."""
    g = _duck_char_grams
    return f"""
WITH {_compound_vocab_cte()},
variants AS (
  SELECT DISTINCT mention FROM (
    SELECT lower(pref_name) AS mention FROM cv
    UNION ALL SELECT upper(pref_name) FROM cv
    UNION ALL SELECT pref_name || ' ' FROM cv)
),
vg AS (SELECT mention, {g('mention')} AS g FROM variants),
ng AS (SELECT pref_name AS matched_name, {g('pref_name')} AS g FROM cv)
SELECT mention, matched_name FROM vg CROSS JOIN ng
WHERE len(list_intersect(vg.g, ng.g))
      / CAST(len(vg.g) + len(ng.g) - len(list_intersect(vg.g, ng.g)) AS DOUBLE) >= 0.6
"""


ORACLES = {
    "kg_fuzzy_link": _fuzzy_link_oracle(),
    # closed-form planted oracle: the fixture plants exactly 3 case variants
    # per compound (identical char-gram sets -> Jaccard 1.0 pairs, found by
    # MinHash with probability 1) and no cross-compound pair above 0.35, so
    # canonicalization provably merges each compound's variants under the
    # priority-0 (ChEMBL) node and nothing else. The engine runs real
    # LSH + exact rerank + iterative CC + priority election to get here.
    "kg_canonicalize": (
        f"WITH {_compound_vocab_cte()} "
        "SELECT 'ChEMBL' AS label, pref_name AS name, "
        "CAST(3 AS BIGINT) AS merged_from FROM cv"
    ),
    "kg_cc_components": """
WITH rmin AS (
  SELECT n_regionkey, CAST(min(n_nationkey) AS BIGINT) AS comp
  FROM nation GROUP BY n_regionkey
)
SELECT CAST(n_nationkey AS BIGINT) AS node, comp AS component
FROM nation JOIN rmin USING (n_regionkey)
UNION ALL
SELECT DISTINCT CAST(n_regionkey AS BIGINT) + 1000 AS node, comp AS component
FROM nation JOIN rmin USING (n_regionkey)
""",
    "kg_reconstruct": _with_transcripts(
        "SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS conv_text, "
        "count(*) AS n_turns FROM transcripts GROUP BY conv_id"
    ),
    "kg_ordered_turns": _with_transcripts(
        "SELECT conv_id, turn_idx, role, text, tool, ts, "
        "CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT) AS turn_seq "
        "FROM transcripts"
    ),
    "kg_mentions": _mentions_oracle(),
    "kg_conversation_features": _with_transcripts(
        """
SELECT conv_id,
       count(*) AS n_turns,
       count(*) FILTER (WHERE role = 'user') AS n_user,
       count(*) FILTER (WHERE role = 'assistant') AS n_assistant,
       count(*) FILTER (WHERE role = 'tool') AS n_tool,
       round(avg(length(coalesce(text, ''))), 6) AS mean_text_len,
       CAST(max(turn_idx) - min(turn_idx) AS INT) AS turn_span
FROM transcripts GROUP BY conv_id"""
    ),
    "kg_sessionize": """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS turn_idx,
         ts
  FROM events
)
SELECT conv_id, turn_idx,
       CAST(SUM(CASE WHEN gap IS NULL OR gap > 3600 THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx) AS INT) AS session_id
FROM (
  SELECT conv_id, turn_idx,
         CAST(epoch(ts) AS BIGINT) - lag(CAST(epoch(ts) AS BIGINT))
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gap
  FROM t
)""",
    "kg_link_compounds": (
        f"WITH {_compound_vocab_cte()} "
        f"SELECT pref_name AS mention, {_COMPOUND_CURIE} AS curie FROM cv"
    ),
    "kg_link_pathogens": (
        f"SELECT term AS mention, canonical, 'ncbitaxon:' || ncbitaxon AS curie "
        f"FROM {_pathogen_pick_values()}"
    ),
    "kg_triples": _with_transcripts(_TRIPLES_ORACLE_BODY, _PLANTED_CTE),
    "kg_triples_undirected": _with_transcripts(
        f"""
SELECT subj, subj_curie, pred, obj, obj_curie FROM ({_TRIPLES_ORACLE_BODY}) x
UNION ALL
SELECT obj AS subj, obj_curie AS subj_curie, pred, subj AS obj, subj_curie AS obj_curie
FROM ({_TRIPLES_ORACLE_BODY}) y""",
        _PLANTED_CTE,
    ),
    "kg_nodes": _with_transcripts(
        f"""
SELECT DISTINCT * FROM (
  SELECT 'Pathogen' AS label, pathogen AS name, pathogen_curie AS curie FROM planted
  UNION ALL
  SELECT 'Compound', compound, compound_curie FROM planted
  UNION ALL
  SELECT 'Activity', act_val, CAST(NULL AS VARCHAR) FROM planted WHERE has_activity
  UNION ALL
  SELECT 'Institution', institution, institution_curie FROM planted WHERE has_inst
)""",
        _PLANTED_CTE,
    ),
    "kg_edge_counts": _with_transcripts(
        """
SELECT rel_type, count(*) AS n_edges FROM (
  SELECT CASE WHEN resistant THEN 'resistantTo' ELSE 'testedAgainst' END AS rel_type FROM planted
  UNION ALL
  SELECT 'hasActivity' FROM planted WHERE has_activity
  UNION ALL
  SELECT 'studiedAt' FROM planted WHERE has_inst
) GROUP BY rel_type""",
        _PLANTED_CTE,
    ),
    "kg_mic_edges": (
        f"WITH pp AS (SELECT * FROM {_pathogen_pick_values()}),\n"
        f"cp2 AS (SELECT * FROM "
        + sql_values(
            [(i, c[0]) for i, c in enumerate(vocab.COMPOUNDS)], ["idx", "pref_name"]
        )
        + ")"
        + _mic_doc_cte("duckdb")
        + """
SELECT strain AS subj, 'ASSAY_IN' AS pred, name AS obj FROM micdoc WHERE assay_id IS NOT NULL
UNION ALL SELECT name, 'HAS_pIC50', pic50 FROM micdoc WHERE pic50 IS NOT NULL
UNION ALL SELECT name, 'FOUND_IN', coalesce(journal, 'Assay test') FROM micdoc
UNION ALL SELECT name, 'IN_YEAR', year FROM micdoc WHERE year IS NOT NULL"""
    ),
}
