"""Checkpoint/resume + lineage (SURVEY §5 test 4): kill after stage k,
resume, identical triple set; lineage rows recorded per partition."""

from __future__ import annotations

import os
import tempfile
import uuid

import pytest

from amr_kg_spark.fixtures import synth_transcripts
from amr_kg_spark.lineage import StageRunner
from amr_kg_spark.pipeline import run_pipeline


def _triple_set(d):
    return {(r.subj, r.pred, r.obj) for r in d["triples"].collect()}


def test_resume_after_partial_run_yields_identical_triples(spark):
    t = synth_transcripts(spark, n_turns=2000, n_convs=50)
    with tempfile.TemporaryDirectory() as w1, tempfile.TemporaryDirectory() as w2:
        full = run_pipeline(spark, t, w1, run_id="full")
        expected = _triple_set(full)

        # simulate a crash: run only the first stages, then "resume"
        partial = StageRunner(spark, w2, run_id="crashed")
        from amr_kg_spark.operators.mentions import detect_mentions
        from amr_kg_spark.operators.triples import cooccurrence_pairs

        partial.run(
            "mentions",
            lambda: detect_mentions(t).select(
                "conv_id", "turn_idx", "text", "mentions"
            ),
        )
        partial.run(
            "pairs",
            lambda: cooccurrence_pairs(
                spark.read.parquet(f"{w2}/stages/mentions")
            ),
        )
        assert partial.is_committed("pairs")
        assert not partial.is_committed("triples")

        resumed = run_pipeline(spark, t, w2, run_id="resumed")
        assert _triple_set(resumed) == expected

        # committed stages were NOT recomputed on resume: lineage for
        # 'mentions'/'pairs' carries only the crashed run's id
        lin = resumed["lineage"].collect()
        by_stage = {}
        for r in lin:
            by_stage.setdefault(r.stage, set()).add(r.run_id)
        assert by_stage["mentions"] == {"crashed"}
        assert by_stage["pairs"] == {"crashed"}
        assert by_stage["triples"] == {"resumed"}


STAGES = (
    "mentions", "mentions_flat", "pairs", "resolved", "nodes", "edges",
    "triples", "nodes_canonical", "edges_canonical",
)


def test_lineage_partition_counts_sum_to_rows(spark):
    t = synth_transcripts(spark, n_turns=1000, n_convs=20)
    with tempfile.TemporaryDirectory() as w:
        d = run_pipeline(spark, t, w, run_id="r1", canonicalize=True)
        lin = d["lineage"]
        got = {
            r.stage: r.total
            for r in lin.groupBy("stage").sum("rows").withColumnRenamed("sum(rows)", "total").collect()
        }
        assert set(got) == set(STAGES)
        for stage in STAGES:
            stored = spark.read.parquet(f"{w}/stages/{stage}").count()
            assert got[stage] == stored, stage
        assert got["triples"] == d["triples"].count()
        assert got["nodes_canonical"] == d["nodes"].count()
        m = {r.stage: r.rows_per_sec for r in d["metrics"].collect()}
        assert all(v is not None for v in m.values())


def test_stage_read_back_schema_equals_inferred(spark):
    """The committed frame is read back under the built frame's schema
    (no inference job); it must be exactly what inference would give."""
    returned = {}

    class Recording(StageRunner):
        def run(self, stage, build):
            returned[stage] = super().run(stage, build)
            return returned[stage]

    t = synth_transcripts(spark, n_turns=400, n_convs=10)
    with tempfile.TemporaryDirectory() as w:
        run_pipeline(
            spark, t, runner=Recording(spark, w, "r1"), canonicalize=True
        )
        assert set(returned) == set(STAGES)
        for stage, df in returned.items():
            inferred = spark.read.parquet(f"{w}/stages/{stage}")
            assert df.schema == inferred.schema, stage


def test_empty_stage_commits_and_reads_back(spark):
    with tempfile.TemporaryDirectory() as w:
        runner = StageRunner(spark, w, run_id="e")
        out = runner.run(
            "empty", lambda: spark.range(0, 10).selectExpr("id", "'x' AS tag").limit(0)
        )
        assert runner.is_committed("empty")
        assert out.count() == 0
        assert out.schema == spark.read.parquet(f"{w}/stages/empty").schema
        rows = [r.rows for r in runner.lineage().filter("stage = 'empty'").collect()]
        assert sum(rows) == 0


def test_lineage_reads_old_and_footer_files_under_schema(spark):
    """A lineage dir written by the earlier Spark-aggregate commit path
    and by the footer-derived path reads as one frame under LINEAGE."""
    from pyspark.sql import functions as F

    from amr_kg_spark.schemas import LINEAGE

    with tempfile.TemporaryDirectory() as w:
        runner = StageRunner(spark, w, run_id="new")
        spark.range(0, 30, numPartitions=3).groupBy(
            F.spark_partition_id().alias("partition_id")
        ).agg(F.count("*").cast("long").alias("rows")).select(
            F.lit("old").alias("run_id"),
            F.lit("legacy").alias("stage"),
            "partition_id",
            "rows",
            F.lit(5).cast("long").alias("wall_ms"),
            F.lit("legacy").alias("snapshot"),
        ).write.mode("append").parquet(f"{w}/lineage")
        runner.run("ids", lambda: spark.range(0, 20, numPartitions=2))

        lin = runner.lineage()
        assert [(f.name, f.dataType) for f in lin.schema] == [
            (f.name, f.dataType) for f in LINEAGE
        ]
        got = {
            (r.run_id, r.stage): r.rows
            for r in lin.groupBy("run_id", "stage").sum("rows")
            .withColumnRenamed("sum(rows)", "rows").collect()
        }
        assert got == {("old", "legacy"): 30, ("new", "ids"): 20}
        parts = {r.partition_id for r in lin.filter("stage = 'ids'").collect()}
        assert parts == {0, 1}, "partition_id is the writing task's partition"
        m = {r.stage: r.partitions for r in runner.metrics().collect()}
        assert m == {"legacy": 3, "ids": 2}


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_stage_commit_is_one_spark_job(spark):
    """Commit = the stage write only: footer-derived lineage and the
    schema-known read-back add no Spark job."""
    with tempfile.TemporaryDirectory() as w:
        runner = StageRunner(spark, w, run_id="jobs")
        jobs = _jobs_in_group(
            spark,
            f"commit-{uuid.uuid4().hex}",
            lambda: runner.run("ids", lambda: spark.range(0, 1000, numPartitions=4)),
        )
        assert len(jobs) == 1, jobs


# jobs a 500-turn run_pipeline(canonicalize=False) took with one-job
# commits: the stage writes plus the shuffle stages adaptive execution
# submits as jobs of their own. The earlier commit path took 39.
PIPELINE_JOBS_500 = 9


def test_pipeline_job_count_guard(spark):
    t = synth_transcripts(spark, n_turns=500, n_convs=20)
    with tempfile.TemporaryDirectory() as w:
        jobs = _jobs_in_group(
            spark,
            f"pipeline-{uuid.uuid4().hex}",
            lambda: run_pipeline(spark, t, w, run_id="jobs"),
        )
        assert len(jobs) <= PIPELINE_JOBS_500, len(jobs)


def test_pipeline_with_canonicalization_stage(spark):
    t = synth_transcripts(spark, n_turns=600, n_convs=15)
    with tempfile.TemporaryDirectory() as w:
        d = run_pipeline(spark, t, w, run_id="canon", canonicalize=True)
        # clean vocabulary -> canonicalization is an identity pass
        assert d["nodes"].count() > 0
        assert {"canonical_id", "label", "name", "curie", "props", "merged_from"} <= set(
            d["nodes"].columns
        )
        assert d["nodes"].filter("merged_from > 1").count() == 0
        assert d["edges"].count() > 0


def test_register_stage_tables_one_table_per_committed_stage(spark):
    """``build_kg.py --catalog-db``: every committed stage directory of
    the workdir becomes the external table ``<db>.<stage>``; a second
    registration is a no-op."""
    from jobs.build_kg import register_stage_tables

    t = synth_transcripts(spark, n_turns=800, n_convs=10)
    db = "kg_tables_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    with tempfile.TemporaryDirectory() as w:
        d = run_pipeline(spark, t, w, run_id="tables")
        # a crash between write and publish leaves an uncommitted dir
        tmp = os.path.join(w, "stages", "pairs.inprogress")
        os.makedirs(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        stages = sorted(r.stage for r in d["metrics"].collect())
        tables = register_stage_tables(spark, w, db)
        assert tables == [f"{db}.{s}" for s in stages]
        def listed():
            return sorted(
                r.name for r in spark.catalog.listTables(db) if not r.isTemporary
            )

        assert listed() == stages
        assert spark.table(f"{db}.triples").count() == d["triples"].count()

        assert register_stage_tables(spark, w, db) == tables
        assert listed() == stages
        spark.sql(f"DROP DATABASE {db} CASCADE")
        # dropping external tables leaves the stage data in place
        assert spark.read.parquet(os.path.join(w, "stages", "triples")).count() > 0


_TURN = (
    "Ciprofloxacin was tested against Escherichia coli K12 at 4 ug/mL "
    "in Uppsala Antibiotic Center"
)
_TURN_TRIPLES = {
    ("Ciprofloxacin", "testedAgainst", "Escherichia coli"),
    ("Ciprofloxacin", "hasActivity", "4 ug/mL"),
    ("Ciprofloxacin", "studiedAt", "Uppsala Antibiotic Center"),
}
_EDGE_INPUTS = {
    "empty": ([], set()),
    "one_turn": ([_TURN], _TURN_TRIPLES),
    "identical_30": ([_TURN] * 30, _TURN_TRIPLES),
    "null_text": ([None, _TURN], _TURN_TRIPLES),
}


@pytest.mark.parametrize("case", sorted(_EDGE_INPUTS))
def test_pipeline_edge_inputs(spark, case):
    """Empty, single-turn, all-duplicate and NULL-text transcripts build
    through all nine stages with canonicalization: the expected triple
    set, and no NULL node id."""
    from amr_kg_spark.schemas import TRANSCRIPTS

    texts, expected = _EDGE_INPUTS[case]
    t = spark.createDataFrame(
        [("c1", i, "user", text, None, None) for i, text in enumerate(texts)],
        TRANSCRIPTS,
    )
    with tempfile.TemporaryDirectory() as w:
        d = run_pipeline(spark, t, w, run_id="edge", canonicalize=True)
        runner = d["_runner"]
        assert all(runner.is_committed(s) for s in STAGES)
        assert _triple_set(d) == expected
        nodes = spark.read.parquet(f"{w}/stages/nodes")
        assert nodes.filter("node_id IS NULL").count() == 0
        assert d["nodes"].filter("canonical_id IS NULL").count() == 0
        assert d["edges"].filter("src_id IS NULL OR dst_id IS NULL").count() == 0
        assert nodes.count() == d["nodes"].count() == (4 if expected else 0)
