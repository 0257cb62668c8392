"""Connected components + node canonicalization semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amr_kg_spark.operators.canonicalize import (
    canonicalize_nodes,
    connected_components,
    rewrite_edges,
)


def test_cc_basic_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == 20


def test_cc_long_chain_converges(spark):
    n = 40  # diameter > default naive expectations; still < max_iter
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    comp = connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    assert comp.agg(F.min("component")).first()[0] == 0


def test_canonicalize_merges_props_by_priority(spark):
    nodes = spark.createDataFrame(
        [
            (1, "Compound", "ciprofloxacin", "chembl:8", {"a": "x", "k": "chembl"}, 0),
            (2, "Compound", "Ciprofloxacin ", "pubchem:2764", {"b": "y", "k": "pubchem"}, 1),
            (3, "Compound", "CIPROFLOXACIN", "spark:101", {"c": "z"}, 2),
            (9, "Compound", "Unrelated", "x:1", {"q": "s"}, 1),
        ],
        "node_id long, label string, name string, curie string, "
        "props map<string,string>, priority int",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    cc = connected_components(pairs)
    out = {r.canonical_id: r for r in canonicalize_nodes(nodes, cc).collect()}
    assert set(out) == {1, 9}
    merged = out[1]
    assert merged.merged_from == 3
    # all keys survive; priority-0 source wins the 'k' collision
    assert merged.props == {"a": "x", "b": "y", "c": "z", "k": "chembl"}
    assert merged.curie == "chembl:8"
    assert out[9].merged_from == 1


def test_rewrite_edges_repoints_endpoints(spark):
    edges = spark.createDataFrame(
        [(2, 9, "REL", {"p": "1"})],
        "src_id long, dst_id long, rel_type string, props map<string,string>",
    )
    mapping = spark.createDataFrame([(2, 1)], "node long, component long")
    out = rewrite_edges(edges, mapping).collect()
    assert out[0].src_id == 1 and out[0].dst_id == 9


def test_canonicalize_kg_merges_name_variants(spark):
    """Multi-source spelling variants of one compound collapse to the
    highest-priority source node; edges repoint to it; unrelated and
    cross-group nodes stay separate."""
    from amr_kg_spark.operators.canonicalize import canonicalize_kg

    nodes = spark.createDataFrame(
        [
            (10, "ChEMBL", "Ciprofloxacin", "chembl:8", {"s": "chembl"}),
            (20, "PubChem", "ciprofloxacin", "pubchem:2764", {"s": "pubchem"}),
            (30, "SPARK", "CIPROFLOXACIN ", "spark:101", {"s": "spark"}),
            (40, "ChEMBL", "Meropenem", "chembl:127", {"s": "chembl"}),
            # same-ish name, different entity group: must NOT merge
            (50, "Pathogen", "Ciprofloxacin", "ncbitaxon:999", {"s": "x"}),
        ],
        "node_id long, label string, name string, curie string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(20, 40, "ASSAY_IN", {"e": "1"}), (30, 50, "TESTED", {"e": "2"})],
        "src_id long, dst_id long, rel_type string, props map<string,string>",
    )
    out = canonicalize_kg(nodes, edges, max_dist=0.4)
    canon = {r.canonical_id: r for r in out["nodes"].collect()}
    # 10/20/30 merged under the ChEMBL node (priority 0); 40, 50 singletons
    assert set(canon) == {10, 40, 50}
    assert canon[10].merged_from == 3
    assert canon[10].props["s"] == "chembl"  # highest priority wins collision
    got_edges = {(r.src_id, r.dst_id, r.rel_type) for r in out["edges"].collect()}
    assert got_edges == {(10, 40, "ASSAY_IN"), (10, 50, "TESTED")}


def test_canonicalize_kg_runs_cc_exactly_once(spark, monkeypatch):
    """The iterative CC driver loop is the most expensive canonicalization
    stage — canonicalize_kg must invoke it exactly once (the labels feed
    both the node election and the edge-rewrite mapping)."""
    from amr_kg_spark.operators import canonicalize as C

    calls = []
    real_cc = C.connected_components

    def counted(*args, **kwargs):
        calls.append(1)
        return real_cc(*args, **kwargs)

    monkeypatch.setattr(C, "connected_components", counted)
    nodes = spark.createDataFrame(
        [
            (10, "ChEMBL", "Ciprofloxacin", "chembl:8", {"s": "chembl"}),
            (20, "PubChem", "ciprofloxacin", "pubchem:2764", {"s": "pubchem"}),
        ],
        "node_id long, label string, name string, curie string, props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(20, 10, "X", {})],
        "src_id long, dst_id long, rel_type string, props map<string,string>",
    )
    out = C.canonicalize_kg(nodes, edges, max_dist=0.4)
    assert out["nodes"].count() == 1
    assert len(calls) == 1


def test_cc_iterations_logarithmic_in_diameter(spark, monkeypatch):
    """Pointer jumping must converge in O(log diameter) rounds — the
    property that makes CC viable at 10^12-node scale (a naive one-hop
    propagation needs O(diameter) shuffles). Counted via the per-iteration
    checkpoint."""
    import math

    import amr_kg_spark.operators.canonicalize as C

    calls = {"n": 0}
    orig = C.stable_checkpoint

    def counting(df):
        calls["n"] += 1
        return orig(df)

    monkeypatch.setattr(C, "stable_checkpoint", counting)
    n = 512  # path graph of diameter n
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    comp = C.connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    # two checkpoints before the loop; each non-final iteration checkpoints
    # hop + jumped labels, the confirming final iteration hop only
    iters = (calls["n"] - 2 + 1) // 2
    bound = math.ceil(math.log2(n)) + 4  # doubling + convergence-confirm slack
    assert iters <= bound, f"{iters} iterations for diameter {n} (bound {bound})"


def test_cc_raises_when_not_converged(spark):
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)
