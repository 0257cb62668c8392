"""Deterministic synthetic transcripts for pipeline tests (skew/resume).

Generated from ``spark.range`` + column expressions only (no Python row
loops, no RNG state): reproducible on any executor count. A configurable
hot conversation absorbs ``hot_frac`` of all turns to exercise the skew
path (SURVEY §5 test 5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import vocab


def synth_transcripts(
    spark: SparkSession,
    n_turns: int = 10_000,
    n_convs: int = 100,
    hot_frac: float = 0.3,
) -> DataFrame:
    """Turns 0..n-1; the first ``hot_frac`` of ids land in conversation
    'hot', the rest round-robin over n_convs normal conversations. Text
    plants pathogen/compound/activity mentions by id arithmetic (same
    vocabulary as the oracle-checked derivation)."""
    hot_cut = int(n_turns * hot_frac)
    pathogens = [p for p, _ in vocab.PATHOGENS]
    compounds = [c[0] for c in vocab.COMPOUNDS]
    pat = F.element_at(
        F.array(*[F.lit(p) for p in pathogens]),
        (F.col("id") % len(pathogens) + 1).cast("int"),
    )
    comp = F.element_at(
        F.array(*[F.lit(c) for c in compounds]),
        (F.col("id") % len(compounds) + 1).cast("int"),
    )
    df = spark.range(n_turns).select(
        F.when(F.col("id") < hot_cut, F.lit("hot"))
        .otherwise(F.concat(F.lit("c"), (F.col("id") % n_convs).cast("string")))
        .alias("conv_id"),
        F.when(F.col("id") < hot_cut, F.col("id"))
        .otherwise(F.floor((F.col("id") - hot_cut) / n_convs))
        .cast("int")
        .alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("role"),
        F.concat(
            F.lit("turn-7 body "),
            F.col("id").cast("string"),
            F.lit(" | Assay: "),
            pat,
            F.when(F.col("id") % 7 == 0, F.lit(" resistant to ")).otherwise(
                F.lit(" vs ")
            ),
            comp,
            F.when(
                F.col("id") % 3 == 0,
                F.concat(
                    F.lit(" MIC "),
                    (F.col("id") % 50).cast("string"),
                    F.lit(".5 nM"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
        F.when(F.col("id") % 5 == 0, F.lit("search")).otherwise(F.lit(None)).alias("tool"),
        F.timestamp_seconds(F.lit(1767225600) + F.col("id")).alias("ts"),
    )
    return df
