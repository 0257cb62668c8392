"""Canonicalization: connected components over a similarity graph.

Duplicate node variants (case/whitespace/hyphen spellings, multi-source
ids) are merged by: (1) building similarity pairs with the one exact
char-gram Jaccard join of operators/dedup.py (prefix-filtered, exact
verify) plus a same-entity-group gate, (2) running connected components
over the pair graph, (3) electing the highest-priority node of each
component as canonical, (4) merging properties by source priority —
reproducing the reference's per-label upsert policies (last-wins
src/sources.py:46, first-wins src/sources.py:91-92,119-120) as explicit
ORDER BY choices.

CC is a hand-rolled driver loop of joins (hash-to-min label propagation,
cf. Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
— the same family as GraphFrames' implementation, without the dependency):
each iteration every node takes the min label among itself and its
neighbors. Iterations = graph diameter, which for near-dup clusters is tiny
(2-4). Each iteration localCheckpoints to cut the lineage (mandatory: plan
growth is exponential otherwise) and the loop stops on a converged AQE-
counted delta. At 10^12-turn scale the edge table is pre-partitioned on
``src`` so every iteration's join reuses the same hash partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import stable_checkpoint


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
) -> DataFrame:
    """Label propagation CC. Input: undirected ``(src, dst)`` edge list (any
    orientation).
    Output: (node, component) with component = min node id reachable.
    Raises RuntimeError when labels still change after ``max_iter``
    iterations, instead of returning unconverged components."""
    # The oriented edge list is materialized ONCE and the symmetrized
    # view is a lazy union over the checkpoint: written as
    # union(select(src,dst), select(dst,src)) over the raw `edges`, the
    # whole upstream pair-building plan (candidate join + exact rerank
    # for near-dup graphs) appears in BOTH union branches and executes
    # twice. No distinct() on the union either: a duplicate edge only
    # feeds the min-aggregate a redundant row (idempotent), while the
    # distinct costs a full shuffle + aggregate of the EDGE TABLE — the
    # largest frame a CC call touches — before the loop even starts
    # (callers' pair lists are `id_a < id_b`-oriented, so the two
    # orientations cannot collide anyway).
    e = stable_checkpoint(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # label init = the first propagation hop, for free: the node list
    # needs a distinct() — an aggregate on the same key — so aggregating
    # min(neighbor) instead of merely deduplicating seeds every label at
    # least(node, min direct neighbor). Identical fixpoint (monotone
    # min-propagation), one fewer loop iteration for every graph whose
    # diameter the free hop covers (near-dup pair/star clusters converge
    # in the INIT, leaving the loop only the no-change confirmation).
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.col("a"), F.min("b")).alias("component"))
    ).transform(stable_checkpoint)

    for _ in range(max_iter):
        # (1) min over direct neighbors — one hop of propagation
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # hop is materialized so the EDGE-sized join+aggregate above runs
        # once per iteration: left lazy, it is re-evaluated by both sides
        # of the pointer-jumping self-join below (the same multi-consumer
        # pattern as the minhash/span-dedup checkpoints). Convergence is
        # read off this SAME materialization, BEFORE pointer jumping:
        # labels decrease monotonically (new <= hop <= prev pointwise), so
        # hop == prev is exactly the iteration where the old post-jump
        # check fired — and at the one-hop fixpoint every label equals its
        # component minimum (labels are constant across a component and
        # the min node labels itself), making the jump the identity. The
        # confirming final iteration therefore skips the self-join
        # entirely, and non-final iterations trade a node-sized
        # materialization for an edge-sized re-evaluation.
        hop = (
            labels.join(
                neighbor_min, labels["node"] == F.col("node2"), "left"
            ).select(
                "node",
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
        ).transform(stable_checkpoint)
        changed = (
            hop.filter(F.col("component") != F.col("prev")).limit(1).count()
        )
        if changed == 0:
            labels = hop.select("node", "component")
            break
        # (2) pointer jumping: component := label(component) — doubles the
        # propagation distance each iteration (O(log diameter) total).
        parent = hop.select(
            F.col("node").alias("pnode"), F.col("component").alias("pcomp")
        )
        labels = (
            hop.join(parent, hop["component"] == parent["pnode"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("pcomp", F.col("component"))
                ).alias("component"),
            )
        ).transform(stable_checkpoint)
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter}"
            " iterations; raise max_iter"
        )
    return labels


def canonicalize_nodes(nodes: DataFrame, cc: DataFrame) -> DataFrame:
    """Merge duplicate nodes: canonical id = the highest-priority node of
    each component; properties merged with ``map_concat`` in ascending
    priority order so the highest-priority source wins key collisions (the
    reference's A4 last-wins dict update).

    nodes must carry ``node_id``, a ``priority`` int column (lower = higher
    priority, e.g. chembl=0 < pubchem=1 < spark=2 < drugcentral=3) and a
    ``props`` map column. ``cc`` is the (node, component) output of
    :func:`connected_components` over the similarity pairs, computed once
    by the caller; nodes absent from it stay singleton components.
    """
    with_comp = nodes.join(
        cc, nodes["node_id"] == cc["node"], "left"
    ).withColumn("component", F.coalesce("component", F.col("node_id")))

    # order rows within a component by DESCENDING priority value so that the
    # highest-priority source's props land LAST in map_concat (last-wins)
    merged = (
        with_comp.groupBy("component")
        .agg(
            F.min(F.struct("priority", "node_id", "label", "name", "curie")).alias("best"),
            F.aggregate(
                F.reverse(
                    F.array_sort(
                        F.collect_list(F.struct("priority", "node_id", "props")),
                        # comparator on scalar fields only: structs holding
                        # maps have no natural ordering in Spark
                        lambda l, r: F.when(l["priority"] < r["priority"], -1)
                        .when(l["priority"] > r["priority"], 1)
                        .when(l["node_id"] < r["node_id"], -1)
                        .when(l["node_id"] > r["node_id"], 1)
                        .otherwise(0)
                        .cast("int"),
                    )
                ),
                F.create_map().cast("map<string,string>"),
                lambda acc, s: F.map_concat(
                    F.map_filter(acc, lambda k, _: ~F.map_contains_key(s["props"], k)),
                    s["props"],
                ),
            ).alias("props"),
            F.count("*").cast("long").alias("merged_from"),
        )
        .select(
            "component",
            F.col("best.node_id").alias("canonical_id"),
            F.col("best.label").alias("label"),
            F.col("best.name").alias("name"),
            F.col("best.curie").alias("curie"),
            "props",
            "merged_from",
        )
    )
    return merged


def rewrite_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Repoint edge endpoints at canonical ids via two broadcast-able joins
    (mapping: node -> canonical_id)."""
    m_src = mapping.select(
        F.col("node").alias("_s"), F.col("component").alias("_cs")
    )
    m_dst = mapping.select(
        F.col("node").alias("_d"), F.col("component").alias("_cd")
    )
    return (
        edges.join(m_src, edges["src_id"] == F.col("_s"), "left")
        .join(m_dst, edges["dst_id"] == F.col("_d"), "left")
        .select(
            F.coalesce("_cs", F.col("src_id")).alias("src_id"),
            F.coalesce("_cd", F.col("dst_id")).alias("dst_id"),
            "rel_type",
            "props",
        )
    )


# default source-priority per label: the reference's id-priority chain
# (chembl > pubchem > spark > drug.central, src/relations.py:146-155,198-204)
DEFAULT_LABEL_PRIORITY = {
    "ChEMBL": 0,
    "PubChem": 1,
    "SPARK": 2,
    "DrugCentral": 3,
    "Compound": 0,
}

# labels allowed to merge with each other (entity-type groups)
DEFAULT_LABEL_GROUPS = {
    "ChEMBL": "compound",
    "PubChem": "compound",
    "SPARK": "compound",
    "DrugCentral": "compound",
    "Compound": "compound",
    "Pathogen": "pathogen",
    "Institution": "institution",
    "Institute": "institution",
}


def canonicalize_kg(
    nodes: DataFrame, edges: DataFrame, max_dist: float = 0.35
) -> dict[str, DataFrame]:
    """Full KG canonicalization (north_star): exact char-3-gram Jaccard
    self-join on node names (``dedup.char_ngram_lsh_pairs``: the
    prefix-filtered join, whose candidates are only pairs sharing a
    prefix gram, the 'salted self-join' scale path; every pair with
    distance <= ``max_dist`` is found and decided exactly), restricted to
    nodes of the same entity group (:data:`DEFAULT_LABEL_GROUPS`);
    connected components; canonical node election by source priority
    (:data:`DEFAULT_LABEL_PRIORITY`); edges repointed at canonical ids.

    nodes: (node_id, label, name, curie, props); edges: (src_id, dst_id,
    rel_type, props). Returns {nodes, edges, mapping}.
    """
    from .dedup import char_ngram_lsh_pairs

    grp_map = F.create_map(
        *[x for k, v in DEFAULT_LABEL_GROUPS.items() for x in (F.lit(k), F.lit(v))]
    )
    prio_map = F.create_map(
        *[x for k, v in DEFAULT_LABEL_PRIORITY.items() for x in (F.lit(k), F.lit(v))]
    )
    # only labels with an explicit entity group are mergeable — literal-
    # valued labels (Activity "3.5 nM" vs "6.5 nM") must never fuzzy-merge
    named = (
        nodes.filter(F.col("name").isNotNull())
        .withColumn("grp", grp_map[F.col("label")])
        .filter(F.col("grp").isNotNull())
    )
    # exact-Jaccard name pairs, then the group gate (same entity type only)
    grp = named.select("node_id", "grp")
    pairs = (
        char_ngram_lsh_pairs(named, "node_id", "name", max_dist=max_dist)
        .join(grp.toDF("id_a", "g_a"), "id_a")
        .join(grp.toDF("id_b", "g_b"), "id_b")
        .filter(F.col("g_a") == F.col("g_b"))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )

    with_prio = nodes.withColumn(
        "priority", F.coalesce(prio_map[F.col("label")], F.lit(9)).cast("int")
    ).withColumn(
        "props",
        F.coalesce(F.col("props"), F.create_map().cast("map<string,string>")),
    )
    # CC runs exactly ONCE per canonicalization: the labels feed both the
    # canonical-node election and the edge-rewrite mapping. localCheckpoint
    # inside connected_components materializes the similarity pairs, so the
    # name self-join above is also evaluated exactly once.
    cc = connected_components(pairs)
    canonical = canonicalize_nodes(with_prio, cc)

    # node -> canonical_id mapping (MUST use the elected canonical id, not
    # the component min — edges and nodes have to agree on identity)
    mapping = cc.join(
        canonical.select("component", "canonical_id"), "component"
    ).select("node", F.col("canonical_id").alias("component"))
    new_edges = rewrite_edges(edges, mapping)
    return {
        "nodes": canonical.drop("component"),
        "edges": new_edges,
        "mapping": mapping.withColumnRenamed("component", "canonical_id"),
    }
