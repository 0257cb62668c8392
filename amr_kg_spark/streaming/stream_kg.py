"""Structured-Streaming ingestion for the KG pipeline.

The reference is batch-only and the north_rule is checkpoint-resumable
batch; this module covers the INCREMENTAL path: new transcript files (in
production: Iceberg incremental reads / Kafka) land continuously, mentions
are extracted per micro-batch with the SAME operators as batch (the
detect/pair/resolve plan is stream-safe: stateless projections + map-literal
lookups), and two sinks are offered:

- ``stream_triples``: append-mode triple stream (stateless — safe for
  unbounded input, dedup left to the downstream MERGE);
- ``stream_turn_rates``: watermarked sliding-window turn counts per role —
  the standard late-data-tolerant metrics stream.

Both run with ``trigger(availableNow=True)`` in tests (process whatever is
there, then stop) — the same code runs continuously with a processing-time
trigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mentions import detect_mentions
from ..operators.triples import build_triples, cooccurrence_pairs, resolve_pairs
from ..schemas import TRANSCRIPTS


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of transcript parquet drops (schema enforced)."""
    reader = (
        spark.readStream.schema(TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger or 10)
    )
    return reader.parquet(input_dir)


def stream_triples(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Stateless streaming triple extraction — identical operator chain to
    batch (mentions UDF -> pair arrays -> literal-map resolve). No
    aggregation, so append mode needs no watermark. NOTE: build_triples'
    distinct is NOT applied here (global dedup over an unbounded stream is
    unbounded state); dedup happens at the sink MERGE."""
    resolved = resolve_pairs(spark, cooccurrence_pairs(detect_mentions(stream)))
    return resolved.select("subj", "subj_curie", "pred", "obj", "obj_curie")


def stream_turn_rates(
    stream: DataFrame, window: str = "10 minutes", slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked sliding-window turn counts per role (late data within the
    watermark is incorporated; older is dropped)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )


def run_available_now(
    df: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Drain everything currently available to parquet, then stop — the
    test/backfill trigger; production uses .trigger(processingTime=...)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_dedup_turns(
    stream: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exactly-once turn dedup: drop replays of the same
    (conv_id, turn_idx) within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — state is GC'd once the event-time
    watermark passes, so state size is bounded by the horizon's turn
    volume, not the stream's history; the unbounded-state-safe form of
    streaming dedup at 10^12 turns). Upstream at-least-once sources
    (Kafka redeliveries, file-drop retries) become exactly-once turns for
    every downstream mention/triple stage."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def stream_conversation_state(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per
    conversation, maintain running state across micro-batches — turns seen,
    max turn_idx, and a monotonicity flag (per-turn ordering invariant
    enforced INCREMENTALLY as batches arrive out of order).

    Output: one row per (conv_id, micro-batch) with the updated totals.
    State: (n_turns, max_turn_idx, ordered) — bounded per conversation.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, n_turns long, max_turn_idx int, ordered boolean"
    )
    state_schema = "n_turns long, max_turn_idx int, ordered boolean"

    def update(key, pdfs, state: GroupState):
        (conv_id,) = key
        n, mx, ordered = (
            state.get if state.exists else (0, -1, True)
        )
        for pdf in pdfs:
            idxs = pdf["turn_idx"].sort_values().tolist()
            for i in idxs:
                # contiguity check against everything seen so far
                if i <= mx:
                    ordered = False  # duplicate / out-of-order turn id
                mx = max(mx, int(i))
                n += 1
        state.update((n, mx, ordered))
        yield pd.DataFrame(
            [(conv_id, n, mx, ordered)],
            columns=["conv_id", "n_turns", "max_turn_idx", "ordered"],
        )

    return (
        stream.groupBy("conv_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def run_available_now_foreach_batch(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain with update-mode semantics into parquet via foreachBatch
    (the file sink itself only supports append).

    foreachBatch is at-least-once: on failure/restart a micro-batch is
    replayed with the SAME batch_id. Each batch therefore overwrites its
    own ``batch_id=<id>`` partition directory — a replay rewrites the same
    files instead of appending duplicates, making the sink idempotent
    (the parquet stand-in for Iceberg's MERGE-by-batch-id pattern).

    READ CONTRACT: because the stream is update-mode, a key updated in
    several micro-batches appears once per batch directory, and a plain
    ``spark.read.parquet(out_dir)`` sees every historical version plus a
    ``batch_id`` partition column. Consumers must reduce to the latest
    batch per key — use :func:`read_drained`."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    q = (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_drained(
    spark: SparkSession, out_dir: str, key_cols: list[str]
) -> DataFrame:
    """Latest-batch-wins view over an update-mode foreachBatch sink: one row
    per key, from the highest ``batch_id`` that emitted it — the read-side
    half of :func:`run_available_now_foreach_batch`'s contract."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(F.col("batch_id").desc())
    return (
        spark.read.parquet(out_dir)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )
