"""Physical-plan quality gates: these queries must not merely be correct —
the plan must be the one we'd want at 100 TB (pushed filters, pruned
columns, broadcast dims, whole-stage codegen)."""

from __future__ import annotations

import re

import pytest

from amr_kg_spark.queries import relational as R

from tests.conftest import SF_SMALL


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_projection_prunes_columns(spark):
    # plain projected scan (P1): only selected columns reach the parquet scan
    df = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "ReadSchema" in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_quantity" in read
    assert "l_extendedprice" not in read


def test_filters_are_pushed_down(spark):
    plan = _plan(R.q_filters(spark, SF_SMALL))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "event_type" in pushed[0] and "ts" in pushed[0]
    # the merged query must also prune the scan to the referenced columns
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "props" not in read


def test_dims_are_broadcast(spark):
    plan = _plan(R.q_broadcast_lookup(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_wholestage_codegen_covers_agg(spark):
    df = R.q_tpch_q1(spark, SF_SMALL)
    plan = _plan(df)
    # agg must be partial (map-side combine) before the shuffle
    assert "partial_sum" in plan
    # codegen spans only appear on the executed (AQE-finalized) plan
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in executed or "*(1)" in executed


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the join key SMJ-join with
    ZERO Exchange operators — the write-once-shuffle-never pattern for
    repeatedly-joined fact tables at 100 TB."""
    from amr_kg_spark.sources.files import write_bucketed

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    write_bucketed(
        docs, "b_docs", 4, "doc_id", sort_col="doc_id", path=str(tmp_path / "d")
    )
    write_bucketed(
        emb.withColumnRenamed("vec_id", "doc_id"), "b_emb", 4, "doc_id",
        sort_col="doc_id", path=str(tmp_path / "e"),
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_docs").join(spark.table("b_emb"), "doc_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_emb")


def test_kg_pipeline_has_no_python_row_udfs(spark):
    """The KG path runs no Python at all: no row-at-a-time
    BatchEvalPython, no Arrow pandas UDF, no mapInPandas."""
    from amr_kg_spark.operators.triples import extract_triples
    from amr_kg_spark.transcripts import derive_transcripts

    plan = _plan(extract_triples(derive_transcripts(spark, SF_SMALL)))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan


@pytest.mark.parametrize(
    "query", ["kg_mentions", "kg_triples", "kg_link_compounds", "kg_link_pathogens"]
)
def test_mention_udf_runs_once_above_fan_out(spark, query):
    """Every ``regexp_extract_all`` of the mention detector sits in ONE
    node of the physical plan, above the round-robin fan-out exchange: a
    filter pushed below it would make the optimizer clone the regex scan
    onto the un-fanned (serial) scan side."""
    from amr_kg_spark.queries.kg import QUERIES

    plan = _plan(QUERIES[query](spark, SF_SMALL))
    tree = plan.split("\n\n", 1)[0].splitlines()
    ids = set(re.findall(r"^\((\d+)\) .*\n(?:.+\n)*?.*regexp_extract_all", plan, re.M))
    assert len(ids) == 1, plan
    (node,) = ids
    fan_out = re.search(
        r"^\((\d+)\) Exchange\n.*\n.*RoundRobinPartitioning", plan, re.M
    )
    assert fan_out, plan

    def depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1

    (top,) = [i for i, line in enumerate(tree) if line.endswith(f" ({node})")]
    subtree = []
    for line in tree[top + 1:]:
        if depth(line) <= depth(tree[top]):
            break
        subtree.append(line)
    assert any(
        line.endswith(f"- Exchange ({fan_out.group(1)})") for line in subtree
    ), plan


def test_emb_neardup_plan_is_blocked_not_cartesian(spark):
    """The near-dup self-join must join on the block key — a cartesian
    product here is the all-pairs blow-up the operator exists to avoid."""
    from amr_kg_spark.queries import datapipe as D

    plan = _plan(D.q_emb_neardup(spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_pretrained_plan_is_pure_catalyst(spark):
    """Fixed-centroid assignment + probe filter + cosine rerank must stay
    JVM-side: no Python eval nodes anywhere in the ANN plan."""
    from amr_kg_spark.queries import datapipe as D

    plan = _plan(D.q_ivf_topk(spark, SF_SMALL))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_corpus_filter_is_single_pass(spark):
    """Round-3 anti-pattern fix: the corpus quality filter must be ONE
    projection over ONE scan — no Join, no Exchange anywhere in the plan
    (the old version joined three derived frames back on doc_id: four
    scans + three shuffles of the full corpus at 100 TB)."""
    from amr_kg_spark.operators.text import corpus_filter

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = corpus_filter(docs, langs=["en", "de"])
    plan = _plan(df)
    for node in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct",
    ):
        assert node not in plan, "corpus filter must not self-join"
    assert "Exchange" not in plan, "corpus filter must not shuffle"
    # exactly one parquet scan of the documents table (formatted explain
    # prints each node once in the tree and once in the detail section)
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_top_token_ratio_bounded_on_long_doc(spark):
    """The round-3 top-token expression was O(distinct x total) per doc in
    interpreted HOF lambdas (~10^9 comparisons for a 100k-token doc). The
    sorted-run-length rewrite is O(n log n): a 100k-token document must
    finish in seconds, with the exact expected ratio."""
    import time

    from amr_kg_spark.operators.text import with_signals

    # 100k tokens, 20k distinct, each appearing 5x except one appearing 6x
    words = [f"w{i % 20000}" for i in range(100000)] + ["w7"]
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    t0 = time.monotonic()
    row = with_signals(docs).select(
        "doc_id", "dup_ngram_ratio", "dup_token_ratio", "top_token_ratio"
    ).collect()[0]
    wall = time.monotonic() - t0
    assert row["top_token_ratio"] == round(6 / 100001, 6)
    assert row["dup_token_ratio"] == round(1 - 20000 / 100001, 6)
    assert wall < 60, f"quadratic regression: {wall:.1f}s for a 100k-token doc"


def test_aqe_empty_relation_early_exit(spark):
    """P8: with AQE on (session default), a join against a
    provably-empty side collapses at runtime — the executed plan carries
    AQE's empty-relation propagation instead of running the full join."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    empty = docs.filter("doc_id < 0")  # statically unknown, empty at runtime
    j = docs.join(empty.select("doc_id"), "doc_id")
    assert j.collect() == []  # finalizes THIS df's adaptive plan
    executed = j._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in executed or "EmptyRelation" in executed, (
        "AQE should have replaced the join with an empty relation"
    )


def test_bm25_plan_topk_and_no_cartesian(spark):
    """bm25_rank_exact: the final top-k must execute as
    TakeOrderedAndProject (per-partition heaps, no global sort shuffle),
    the one-row stats cross-join must be a broadcast, never a cartesian,
    and the whole score pipeline stays JVM-side (no Python eval)."""
    from amr_kg_spark.operators.rank import bm25_rank_exact

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = bm25_rank_exact(docs, ["vector", "spark", "customer"], k=25)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_span_dedup_plan_shape(spark):
    """remove_duplicate_spans: the whole pipeline stays JVM-side (token
    fingerprints are Catalyst xxhash64, no Python eval), nothing goes
    cartesian, the duplicate-detection aggregate is a hash aggregate on
    the gram hash (map-side combinable — not a row_number window over
    the hottest keys), and the corpus is exploded exactly once (the
    rebuild is slice arithmetic, not a second Generate over the docs)."""
    from amr_kg_spark.operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    df = remove_duplicate_spans(docs, k=8)
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "EvalPython" not in final
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert "HashAggregate" in final
    # round 9: tokens and gram fingerprints are eagerly materialized
    # (stable_checkpoint), so the O(total-tokens) posexplode runs exactly
    # ONCE — inside the grams materialization job — and both branches of
    # the detection/marking self-join read the checkpointed RDD (round 8
    # had 2 Generate nodes + 3 corpus scans in THIS plan: the two
    # exchanges hashed the same key but had different inputs, so
    # ReuseExchange could not fire). The query plan itself therefore
    # carries NO Generate and exactly one parquet scan of the docs (the
    # outer join that re-attaches the original columns); every other
    # input is a checkpoint scan.
    tree = final.split("\n\n")[0]
    assert tree.count("Generate") == 0
    assert tree.count("Scan parquet") == 1
    assert "ExistingRDD" in final
