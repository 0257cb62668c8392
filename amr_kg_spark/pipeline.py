"""End-to-end KG construction pipeline: transcripts -> node/edge/triple
tables, checkpoint-resumable with per-partition lineage (north_rule).

Stage graph (each stage a StageRunner checkpoint):

  transcripts            (input; in production an Iceberg table)
    -> mentions          detect + explode (regexp_extract_all, zero shuffle)
    -> pairs             per-turn co-occurrence (higher-order fns, zero shuffle)
    -> resolved          map-literal linking (strain aliases map to species)
    -> nodes / edges / triples   (dedup shuffles, deterministic ids)

Skew: no KG stage shuffles on conv_id (the mention/pair stages are
embarrassingly parallel), so a hot conv_id only matters for the
conversation-level queries outside this pipeline, which shuffle on it
unsalted: ``kg_reconstruct`` calls ``conversation_text``, and
``conversation_text_salted`` (operators/reconstruct.py) is its opt-in
skew-safe form. AQE skew-join splitting stays on for the dedup shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .lineage import StageRunner
from .operators.mentions import detect_mentions, explode_mentions
from .operators.triples import (
    build_edges,
    build_nodes,
    build_triples,
    cooccurrence_pairs,
    resolve_pairs,
)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    workdir: str | None = None,
    run_id: str | None = None,
    canonicalize: bool = False,
    runner=None,
) -> dict[str, DataFrame]:
    """Run (or resume) the full KG build; returns the materialized tables.

    With ``canonicalize=True`` a similarity-graph CC pass merges near-
    duplicate nodes and repoints edges before the final tables (north_star
    canonicalization stage; a no-op when the vocabulary is already clean).

    Stages commit through ``StageRunner(workdir)``. ``runner`` replaces
    it with a caller-built instance, e.g. a subclass that wraps
    ``run(stage, build)`` to time each stage.
    """
    if runner is None:
        if workdir is None:
            raise ValueError("need workdir (or pass a runner)")
        runner = StageRunner(spark, workdir, run_id)

    with_mentions = runner.run(
        "mentions",
        lambda: detect_mentions(transcripts).select(
            "conv_id", "turn_idx", "text", "mentions"
        ),
    )
    mentions_flat = runner.run(
        "mentions_flat", lambda: explode_mentions(with_mentions)
    )
    pairs = runner.run("pairs", lambda: cooccurrence_pairs(with_mentions))
    resolved = runner.run("resolved", lambda: resolve_pairs(pairs))
    nodes = runner.run("nodes", lambda: build_nodes(resolved))
    edges = runner.run("edges", lambda: build_edges(resolved))
    triples = runner.run("triples", lambda: build_triples(resolved))

    if canonicalize:
        from .operators.canonicalize import canonicalize_kg

        if not (
            runner.is_committed("nodes_canonical")
            and runner.is_committed("edges_canonical")
        ):
            # CC runs an eager driver loop — invoke once for both stages
            canon = canonicalize_kg(nodes, edges)
            nodes = runner.run("nodes_canonical", lambda: canon["nodes"])
            edges = runner.run("edges_canonical", lambda: canon["edges"])
        else:
            nodes = runner.run("nodes_canonical", lambda: nodes)
            edges = runner.run("edges_canonical", lambda: edges)

    return {
        "mentions": mentions_flat,
        "pairs": pairs,
        "resolved": resolved,
        "nodes": nodes,
        "edges": edges,
        "triples": triples,
        "lineage": runner.lineage(),
        "metrics": runner.metrics(),
        "_runner": runner,
    }
