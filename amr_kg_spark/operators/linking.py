"""Entity linking: exact broadcast-alias joins + priority fallback + LSH.

Reproduces the reference's resolution semantics Spark-first:

- strain alias -> canonical species normalization = the reference's
  ``PATHOGEN_MAPPER.get`` lambda (src/relations.py:181) as a broadcast
  LEFT join (misses keep the original name);
- id priority fallback = the reference's nested try/except chains
  (src/relations.py:146-155: SPARK -> ChEMBL -> PubChem;
  src/relations.py:198-204: PubChem -> DrugCentral) generalized to one
  ``coalesce`` over curie candidates in priority order
  chembl > pubchem > spark > drug.central (curie prefixes per
  src/sources.py:39,103,123,179);
- fuzzy linking = MinHash-LSH blocking over character 3-gram sets
  (``approxSimilarityJoin``), the scale path the reference lacked (it made
  per-row PubChem REST calls instead, src/sources.py:105,117,166).

All dimension tables are broadcast explicitly — at 100 TB the fact side
never shuffles for these joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import vocab
from ..schemas import COMPOUND_VOCAB, PATHOGEN_VOCAB, STRAIN_ALIAS


def vocab_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Materialize the controlled vocabularies as DataFrames."""
    return {
        "pathogen": spark.createDataFrame(vocab.PATHOGENS, PATHOGEN_VOCAB),
        "strain_alias": spark.createDataFrame(vocab.STRAIN_ALIASES, STRAIN_ALIAS),
        "compound": spark.createDataFrame(
            [(c[0], c[1], c[2], c[3], c[4], None) for c in vocab.COMPOUNDS],
            COMPOUND_VOCAB,
        ),
        "institute": spark.createDataFrame(
            vocab.INSTITUTES, "id string, institute string, link string, projects string"
        ),
    }


def normalize_strains(mentions: DataFrame, strain_alias: DataFrame) -> DataFrame:
    """Alias-normalization join (J2): strain mention -> canonical species.

    LEFT broadcast join; non-aliases pass through unchanged. Adds
    ``canonical`` and ``is_strain``.
    """
    alias = F.broadcast(strain_alias)
    return (
        mentions.join(alias, mentions["mention"] == alias["alias"], "left")
        .withColumn("is_strain", F.col("canonical").isNotNull())
        .withColumn("canonical", F.coalesce("canonical", "mention"))
        .drop("alias")
    )


def link_compounds(mentions: DataFrame, compound_vocab: DataFrame) -> DataFrame:
    """Exact-name broadcast join + priority-fallback curie (J1 + J5).

    curie = coalesce(chembl:, pubchem:, spark:, drug.central:) — the
    declarative form of the reference's nested try/except
    (src/relations.py:146-155,198-204). Unlinkable mentions are dropped,
    matching the reference's ``continue`` on double KeyError.
    """
    cv = F.broadcast(compound_vocab)
    p = vocab.CURIE_PREFIX
    return (
        mentions.join(cv, mentions["mention"] == cv["pref_name"], "inner")
        .withColumn(
            "curie",
            F.coalesce(
                F.concat(F.lit(p["chembl"]), F.col("chembl_id")),
                F.concat(F.lit(p["pubchem"]), F.col("pubchem_id")),
                F.concat(F.lit(p["spark"]), F.col("spark_id")),
                F.concat(F.lit(p["drugcentral"]), F.col("drugcentral_id")),
            ),
        )
        .filter(F.col("curie").isNotNull())
    )


def link_pathogens(
    mentions: DataFrame, pathogen_vocab: DataFrame, strain_alias: DataFrame
) -> DataFrame:
    """Normalize strains then resolve to ncbitaxon curies (J2 + J1)."""
    norm = normalize_strains(mentions, strain_alias)
    pv = F.broadcast(pathogen_vocab)
    return (
        norm.join(pv, norm["canonical"] == pv["pathogen"], "inner")
        .withColumn(
            "curie", F.concat(F.lit(vocab.CURIE_PREFIX["ncbitaxon"]), F.col("ncbitaxon"))
        )
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
    """pyspark.ml MinHash-LSH similarity join of two frames that carry a
    ``grams`` column (char-n-gram sets, see :func:`char_ngrams_expr`):
    both sides hash to binary 2^18-wide sparse vectors (HashingTF), and
    ``approxSimilarityJoin`` keeps ``(datasetA, datasetB, dist)`` rows whose
    Jaccard distance over the hashed gram sets (exact up to hash
    collisions) is ``dist < max_dist``. Pass the same frame as
    ``a`` and ``b`` for a self-join — pyspark.ml recognizes it by identity,
    so it is hashed once."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    tf = HashingTF(inputCol="grams", outputCol="features", numFeatures=1 << 18, binary=True)
    fa = tf.transform(a)
    fb = fa if b is a else tf.transform(b)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    ).fit(fb)
    return model.approxSimilarityJoin(fa, fb, max_dist, distCol="dist")


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
    (mention, matched_name, jaccard_dist) for distances strictly below
    ``threshold`` (``approxSimilarityJoin`` drops a pair AT the
    threshold).
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
