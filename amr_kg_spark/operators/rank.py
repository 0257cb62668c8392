"""Keyword relevance ranking (BM25) over a document corpus — the search
primitive a training-data pipeline uses for query-driven curation:
pulling benchmark-adjacent documents for decontamination review, mining
topical subsets ("find me the k docs most about X"), and auditing what a
filter kept. Ref behavior: the reference engine has no ranking operator;
this is a beyond-reference capability in the same family as the
dedup/similarity stack (SURVEY.md §2 appendix).

Design: **exact-rational BM25**. Classic BM25 mixes an ``ln`` IDF with
float division, which is irreproducible bit-for-bit across engines (JVM
``Math.log`` vs C++ ``std::log`` may differ in the last ulp, flipping
near-tie ranks). A 100 TB curation pipeline wants the OPPOSITE property:
the same corpus and query must rank identically on every engine, every
rerun, every cluster width — rankings feed downstream sampling decisions
that must reproduce. So this operator defines the score as a pure
integer:

- ``k1 = 1.2 = 6/5`` and ``b = 0.75 = 3/4`` are kept as exact rationals;
- ``avgdl`` is floored to an integer (``total_dl div N``);
- the Robertson IDF ``(N - df + 0.5) / (df + 0.5)`` becomes the integer
  ratio ``(2N - 2df + 1) / (2df + 1)``;
- each term's contribution is one integer floor-division:

  ``score_term = (SCALE * (2N-2df+1) * 44 * tf * avgdl)
                 div ((2df+1) * (20*tf*avgdl + 6*avgdl + 18*dl))``

  (the 44/20/6/18 constants are ``tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))``
  cleared of denominators with the rationals above);
- the document score is the sum of per-term floors.

Every quantity is a positive integer, so ``div`` (Spark) and ``//``
(DuckDB) agree exactly and the driver's value gate hashes identical
scores. With ``SCALE = 100_000`` the products stay within int64 for any
corpus with ``SCALE * 2N * 44 * tf * avgdl < 2^63`` (≈ N·tf·avgdl <
2·10¹²; petabyte corpora should lift the arithmetic to decimal(38,0) —
the formula is unchanged). DuckDB raises on BIGINT overflow rather than
wrapping, so an out-of-range corpus fails loudly in the oracle, never
silently.

Scale shape: one explode→groupBy for term frequencies restricted to the
query terms (the filter ``tok IN terms`` is applied BEFORE the shuffle,
so only query-term hits move), document-frequency and corpus stats are
tiny aggregates broadcast back, and the final top-k is ``orderBy.limit``
— Spark executes that as TakeOrderedAndProject (per-partition heaps, no
global sort shuffle). The rank column is computed on the ≤ k survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import tokens_col

BM25_SCALE = 100_000


def bm25_rank_exact(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Top-``k`` documents for ``query_terms`` under exact-rational BM25.

    Returns ``(doc_id, score_micro, rank, dl, n_terms_hit)`` — ``rank``
    is 1-based by ``(score desc, id asc)`` (the integer tiebreak makes
    the ordering total and engine-independent).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens_col()
    # per-doc length table (dl); computed once, reused by tf join
    lengths = docs.select(F.col("doc_id"), F.size(toks).alias("dl"))
    # corpus stats: one tiny row, broadcast-cross-joined (stays in-plan —
    # no driver collect, so the operator composes lazily). This compiles
    # to a BroadcastNestedLoopJoin over a ONE-ROW broadcast aggregate:
    # Spark's idiomatic scalar-attach plan (a constant equi-join key
    # would be constant-folded straight back to it) — per-row cost
    # identical to a hash join against a single row. The driver-row plan
    # gate verifies structurally that every BNLJ in the merged plan is
    # exactly this shape.
    stats = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    ).select("n_docs", F.expr("total_dl div n_docs").alias("avgdl"))
    # term frequencies: explode only the matching tokens (filter BEFORE
    # the explode+shuffle — only query-term hits ever move)
    hits = docs.select(
        F.col("doc_id"),
        F.explode(
            F.filter(toks, lambda t: t.isin(*[F.lit(q) for q in query_terms]))
        ).alias("tok"),
    )
    tf = hits.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # document frequency per term: tiny (≤ |query_terms| rows), broadcast
    df_tbl = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored_terms = (
        tf.join(F.broadcast(df_tbl), "tok")
        # tf side holds only docs containing query terms; lengths is
        # corpus-sized — equi-join on the id, strategy left to AQE
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "term_score",
            F.expr(
                f"(CAST({BM25_SCALE} AS BIGINT) * (2*n_docs - 2*df + 1) * 44"
                " * tf * avgdl)"
                " div ((2*df + 1) * (20*tf*avgdl + 6*avgdl + 18*dl))"
            ),
        )
    )
    doc_scores = scored_terms.groupBy("doc_id").agg(
        F.sum("term_score").alias("score_micro"),
        F.first("dl").alias("dl"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    topk = doc_scores.orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    ).limit(k)
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "score_micro", "rank", "dl", "n_terms_hit"
    )
