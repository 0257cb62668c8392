"""Conversation reconstruction: window-ordered turn grouping.

The per-row invariant (BASELINE.json input_hint) is *per-turn text equality
under stable turn ordering*: after any amount of shuffling, the turns of a
conversation must come back in turn_idx order with their text bit-identical.

Reference analogue: the reference regroups a person's row into its
multi-column entity family before emitting edges
(reference src/relations.py:15-28); here the regrouping key is conv_id and
the order key is turn_idx.

Scale notes (10^12 turns):
- ``ordered_turns`` keeps per-turn granularity — one shuffle on conv_id,
  no data blow-up; this is the form every downstream operator consumes.
- ``conversation_text`` materializes one row per conversation
  (sort_array over collect_list) — only safe because conversations are
  bounded; for hot conv_ids use ``conversation_text_salted`` which
  aggregates bounded turn-buckets first (two small shuffles instead of one
  skewed one), preserving order via (bucket, turn_idx) sort keys.
- AQE skew-join/partition splitting stays on (session.py) as backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ordered_turns(transcripts: DataFrame) -> DataFrame:
    """Stable turn ordering: row_number over (conv_id ORDER BY turn_idx).

    ``turn_seq`` is the dense per-conversation sequence; on contiguous
    input it equals turn_idx + 1, which tests assert as the ordering
    invariant.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn("turn_seq", F.row_number().over(w))


def conversation_text(transcripts: DataFrame) -> DataFrame:
    """One row per conversation: turns concatenated in turn_idx order.

    sort_array on struct(turn_idx, text) gives a deterministic order
    without a window — a single hash aggregation (partial map-side combine
    applies), cheaper than window + groupBy at scale.
    """
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("conv_text"),
            F.count("*").cast("long").alias("n_turns"),
        )
    )


def sessionize(
    transcripts: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Gap-based sessionization: a new session starts whenever the time gap
    to the previous turn (in turn order) exceeds ``gap_minutes``. Pure
    window functions (lag + conditional cumulative sum) — one shuffle on
    conv_id, no state store needed in batch."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    # TIMESTAMP_NTZ needs an intermediate cast (session TZ is UTC)
    secs = F.col("ts").cast("timestamp").cast("long")
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return transcripts.withColumn("_new", is_new).withColumn(
        "session_id", F.sum("_new").over(w).cast("int")
    ).drop("_new")


def conversation_text_salted(
    transcripts: DataFrame, bucket_size: int = 1024
) -> DataFrame:
    """Skew-safe reconstruction for hot conv_ids.

    Phase 1 groups by (conv_id, turn_bucket) so a conversation holding 30%
    of all turns is spread over ceil(n_turns/bucket_size) reducers; phase 2
    concatenates the (few) pre-sorted segments per conversation. Order is
    preserved because both phases sort by their bucket/turn keys.
    """
    bucketed = transcripts.withColumn(
        "turn_bucket", F.floor(F.col("turn_idx") / F.lit(bucket_size)).cast("int")
    )
    segments = bucketed.groupBy("conv_id", "turn_bucket").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("turn_idx", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("seg_text"),
        F.count("*").cast("long").alias("seg_turns"),
    )
    return (
        segments.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("turn_bucket", "seg_text"))),
                    lambda s: s["seg_text"],
                ),
                "\n",
            ).alias("conv_text"),
            F.sum("seg_turns").cast("long").alias("n_turns"),
        )
    )


def conversation_features(transcripts: DataFrame) -> DataFrame:
    """Per-conversation feature vector via Arrow ``applyInPandas`` (the
    grouped-map UDF surface): turn counts per role, mean text length,
    and turn-index span. Each group arrives as one pandas DataFrame —
    the pattern for per-conversation Python feature extractors that
    genuinely need the whole conversation in memory (bounded groups).
    """
    import pandas as pd

    schema = (
        "conv_id string, n_turns long, n_user long, n_assistant long, "
        "n_tool long, mean_text_len double, turn_span int"
    )

    def feats(pdf: pd.DataFrame) -> pd.DataFrame:
        roles = pdf["role"].value_counts()
        text_len = pdf["text"].fillna("").str.len()
        return pd.DataFrame(
            [
                (
                    pdf["conv_id"].iloc[0],
                    len(pdf),
                    int(roles.get("user", 0)),
                    int(roles.get("assistant", 0)),
                    int(roles.get("tool", 0)),
                    round(float(text_len.mean()), 6) if len(pdf) else 0.0,
                    int(pdf["turn_idx"].max() - pdf["turn_idx"].min()),
                )
            ],
            columns=[
                "conv_id", "n_turns", "n_user", "n_assistant", "n_tool",
                "mean_text_len", "turn_span",
            ],
        )

    return transcripts.groupBy("conv_id").applyInPandas(feats, schema)
