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
- **Fuzzy name matching** (J7): :func:`_char_gram_lsh_join` is the one
  filter-then-verify join over character n-gram sets. MinHash-LSH
  (``approxSimilarityJoin``) is a loose candidate filter, the scale path
  the reference lacked (it made per-row PubChem REST calls instead,
  src/sources.py:105,117,166); an exact Jaccard test in integer
  arithmetic decides every pair. :func:`fuzzy_link`,
  ``dedup.char_ngram_lsh_pairs`` and through it ``canonicalize_kg`` call it.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import vocab


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
# MinHash-LSH fuzzy linking (scale path for dirty mentions)
# --------------------------------------------------------------------------
def char_ngrams_expr(col_sql: str, n: int = 3) -> str:
    """SQL for the distinct character-n-gram set of a (lowered, whitespace-
    collapsed) string column — a pure Catalyst sliding window, no UDF."""
    c = f"regexp_replace(lower({col_sql}), '\\\\s+', ' ')"
    return (
        f"array_distinct(transform(sequence(1, greatest(length({c}) - {n - 1}, 1)), "
        f"i -> substring({c}, i, {n})))"
    )


def _char_gram_lsh_join(
    a: DataFrame, b: DataFrame, num_hash_tables: int, max_dist: float
) -> DataFrame:
    """Exact char-n-gram Jaccard join of two frames that carry a ``grams``
    column (char-n-gram sets, see :func:`char_ngrams_expr`), with MinHash-
    LSH blocking.

    Filter: both sides hash to binary 2^18-wide sparse vectors (HashingTF)
    and pyspark.ml's ``approxSimilarityJoin`` pairs rows that share a
    MinHash value, at distance bound 1.0 — it only drops pairs with no
    common hashed gram, which cannot pass the verifier. Verify: a pair is
    kept iff the exact Jaccard of its ``grams`` arrays is
    >= 1 - ``max_dist`` (boundary included), tested as
    ``q*|A∩B| >= p*|A∪B|`` with p/q = 1 - ``Fraction(str(max_dist))``.
    Returns ``(datasetA, datasetB, dist)`` with ``dist`` the exact Jaccard
    distance. Pass the same frame as ``a`` and ``b`` for a self-join —
    pyspark.ml recognizes it by identity, so it is hashed once."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    tf = HashingTF(inputCol="grams", outputCol="features", numFeatures=1 << 18, binary=True)
    fa = tf.transform(a)
    fb = fa if b is a else tf.transform(b)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    ).fit(fb)
    cand = model.approxSimilarityJoin(fa, fb, 1.0, distCol="est_dist")
    sim = 1 - Fraction(str(max_dist))
    inter = F.size(F.array_intersect("datasetA.grams", "datasetB.grams")).cast("long")
    union = F.size("datasetA.grams").cast("long") + F.size("datasetB.grams") - inter
    return cand.filter(inter * sim.denominator >= union * sim.numerator).select(
        "datasetA", "datasetB", ((union - inter) / union).alias("dist")
    )


def fuzzy_link(
    mentions: DataFrame,
    vocab_df: DataFrame,
    mention_col: str = "mention",
    vocab_col: str = "pref_name",
    threshold: float = 0.4,
    num_hash_tables: int = 6,
    n: int = 3,
) -> DataFrame:
    """MinHash-LSH similarity join mention~vocab on char-3-gram Jaccard.

    Both sides are hashed to fixed-width sparse vectors (HashingTF over
    n-gram sets); ``approxSimilarityJoin`` blocks by LSH band so the
    candidate pair set is ~linear, not |mentions| x |vocab|. Returns
    (mention, matched_name, jaccard_dist) for exact char-gram Jaccard
    distances at or below ``threshold`` (see :func:`_char_gram_lsh_join`).
    """

    def grams(df: DataFrame, col: str) -> DataFrame:
        return df.withColumn("grams", F.expr(char_ngrams_expr(col, n))).filter(
            F.size("grams") > 0
        )

    m = grams(mentions.select(mention_col).distinct(), mention_col)
    v = grams(vocab_df.select(vocab_col).distinct(), vocab_col)
    joined = _char_gram_lsh_join(m, v, num_hash_tables, threshold)
    return joined.select(
        F.col(f"datasetA.{mention_col}").alias("mention"),
        F.col(f"datasetB.{vocab_col}").alias("matched_name"),
        F.col("dist").alias("jaccard_dist"),
    )
