"""Entity linking: each of the KG's two linking rules is stated once, here.

- **Resolution** (J1/J2/J5): :func:`entity_resolution_rows` is the one
  encoding of mention -> (label, canonical name, curie). It bakes in the
  reference's strain normalization (the ``PATHOGEN_MAPPER.get`` lambda,
  src/relations.py:181: a strain alias resolves to its species, a miss
  keeps its own name) and its id priority fallback (the nested try/except
  chains of src/relations.py:146-155,198-204, generalized to the first
  present curie in priority order chembl > pubchem > spark > drug.central;
  curie prefixes per src/sources.py:39,103,123,179). The vocabularies are
  a few dozen constants, so :func:`entity_resolution_map` renders the rows
  as one literal ``map(...)`` expression: every lookup
  (``triples.resolve_pairs``, :func:`link_compounds`,
  :func:`link_pathogens`) is a map access inside the fact-side projection,
  with no join.
- **Fuzzy name matching** (J7): :func:`fuzzy_link` turns names into
  sorted character n-gram sets (:func:`gram_sets`) and runs the engine's
  one exact prefix-filtered Jaccard join (``dedup._prefix_jaccard_join``,
  also behind ``dedup.char_ngram_lsh_pairs`` and through it
  ``canonicalize_kg``): the scale path the reference lacked (it made
  per-row PubChem REST calls instead, src/sources.py:105,117,166).
  Candidates come from shared prefix grams, so no pair within the
  threshold is missed, and an integer Jaccard test decides every pair.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import vocab
from .dedup import _jaccard_dist, _prefix_jaccard_join


def compound_vocab(spark: SparkSession) -> DataFrame:
    """The compound preferred names as a one-column ``pref_name`` frame (the
    fuzzy-linking and canonicalization fixtures derive their dirty variants
    from it)."""
    return spark.createDataFrame(
        [(c[0],) for c in vocab.COMPOUNDS], "pref_name string not null"
    )


def entity_resolution_rows() -> list[tuple[str, str, str, str | None]]:
    """(mention, label, canonical name, curie) rows from the controlled
    vocabularies — strain normalization (J2) and the compound id priority
    chain (J5, chembl > pubchem > spark > drug.central) baked in."""
    p = vocab.CURIE_PREFIX
    taxon = dict(vocab.PATHOGENS)
    rows: list[tuple[str, str, str, str | None]] = []
    for name, tax in vocab.PATHOGENS:
        rows.append((name, "Pathogen", name, p["ncbitaxon"] + tax))
    for alias, canon in vocab.STRAIN_ALIASES:
        rows.append((alias, "Pathogen", canon, p["ncbitaxon"] + taxon[canon]))
    for pref, *ids in vocab.COMPOUNDS:
        chain = zip(("chembl", "pubchem", "spark", "drugcentral"), ids)
        curie = next((p[src] + i for src, i in chain if i), None)
        rows.append((pref, "Compound", pref, curie))
    for _, inst, _, _ in vocab.INSTITUTES:
        rows.append((inst, "Institution", inst, p["institute"] + inst.lower()))
    return rows


def entity_resolution_map() -> Column:
    """:func:`entity_resolution_rows` as one literal
    ``map<string, struct<label, name, curie>>`` keyed by mention.

    ONE JVM-parsed map literal instead of 4*len(rows) py4j column
    constructions: the F.lit/F.struct/F.create_map form cost ~0.22 s of
    driver-side Python per query CONSTRUCTION (round-8 profiling); the SQL
    string builds in microseconds and parses JVM-side to the identical
    constant-folded map."""

    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

    kv = []
    for mention, label, name, curie in entity_resolution_rows():
        c = q(curie) if curie is not None else "CAST(NULL AS STRING)"
        kv.append(
            f"{q(mention)}, named_struct('label', {q(label)}, "
            f"'name', {q(name)}, 'curie', {c})"
        )
    return F.expr("map(" + ", ".join(kv) + ")")


def link_compounds(mentions: DataFrame) -> DataFrame:
    """Compound mentions -> priority-fallback curie (J1 + J5): adds
    ``curie``. Unlinkable mentions are dropped, matching the reference's
    ``continue`` on double KeyError."""
    hit = entity_resolution_map()[F.col("mention")]
    return mentions.withColumn("curie", hit["curie"]).filter(
        (hit["label"] == "Compound") & F.col("curie").isNotNull()
    )


def link_pathogens(mentions: DataFrame) -> DataFrame:
    """Pathogen mentions -> (canonical species, ncbitaxon curie) (J2 + J1):
    adds ``canonical`` and ``curie``; a strain alias resolves to its
    species. Unknown names are dropped."""
    hit = entity_resolution_map()[F.col("mention")]
    return (
        mentions.withColumn("canonical", hit["name"])
        .withColumn("curie", hit["curie"])
        .filter(hit["label"] == "Pathogen")
    )


# --------------------------------------------------------------------------
# Fuzzy linking on character n-grams (scale path for dirty mentions)
# --------------------------------------------------------------------------
GRAM_N = 3  # character n-gram width of every name join


def char_ngrams_expr(col_sql: str) -> str:
    """SQL for the distinct character-``GRAM_N``-gram set of a (lowered,
    whitespace-collapsed) string column — a pure Catalyst sliding window,
    no UDF."""
    c = f"regexp_replace(lower({col_sql}), '\\\\s+', ' ')"
    return (
        f"array_distinct(transform(sequence(1, greatest(length({c}) - {GRAM_N - 1}, 1)), "
        f"i -> substring({c}, i, {GRAM_N})))"
    )


def gram_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, hs)``: each row's char-n-gram set, sorted (the join's global
    order is plain string order; no hashing, so verification is
    collision-free), as the exact Jaccard join takes it."""
    return df.select(
        F.col(id_col).alias("id"),
        F.sort_array(F.expr(char_ngrams_expr(text_col))).alias("hs"),
    ).filter(F.size("hs") > 0)


def fuzzy_link(
    mentions: DataFrame,
    vocab_df: DataFrame,
    threshold: float = 0.4,
) -> DataFrame:
    """Exact similarity join mention~vocab on char-n-gram Jaccard.

    Both sides become sorted char-n-gram sets (:func:`gram_sets`) and meet
    in the prefix-filtered join (``dedup._prefix_jaccard_join``): only
    pairs sharing a prefix gram become candidates, never |mentions| x
    |vocab|, and no pair within the threshold is missed. Returns (mention, matched_name,
    jaccard_dist) for every exact char-gram Jaccard distance at or below
    ``threshold`` (tested as Jaccard >= 1 - ``Fraction(str(threshold))``,
    so a pair exactly at the threshold is kept).
    """
    m = gram_sets(mentions.select("mention").distinct(), "mention", "mention")
    v = gram_sets(vocab_df.select("pref_name").distinct(), "pref_name", "pref_name")
    pairs = _prefix_jaccard_join(m, v, 1 - Fraction(str(threshold)))
    return pairs.select(
        F.col("id_a").alias("mention"),
        F.col("id_b").alias("matched_name"),
        _jaccard_dist().alias("jaccard_dist"),
    )
