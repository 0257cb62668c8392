"""Checkpoint/resume + lineage (SURVEY §5 test 4): kill after stage k,
resume, identical triple set; lineage rows recorded per partition."""

from __future__ import annotations

import tempfile
import uuid

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


def test_catalog_runner_resume_and_partition_overwrite(spark):
    """S5 on the session catalog: commit-log resume semantics, crash-before-
    commit recovery, and idempotent overwrite-by-partition with version
    bumps (the Iceberg snapshot protocol on the sandbox catalog)."""
    import pyspark.sql.functions as F

    from amr_kg_spark.lineage import CatalogStageRunner

    t = synth_transcripts(spark, n_turns=800, n_convs=10)
    db = "amr_stages_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    with tempfile.TemporaryDirectory() as loc:
        runner = CatalogStageRunner(spark, database=db, run_id="r1", location=loc)

        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return t.withColumn("part", (F.col("turn_idx") % 3).cast("int"))

        out1 = runner.run("turns", build, partition_by=["part"])
        n1 = out1.count()
        assert calls["n"] == 1 and runner.is_committed("turns")
        assert runner.committed_version("turns") == 1

        # resume: committed stage read back, never recomputed
        out2 = runner.run("turns", build, partition_by=["part"])
        assert calls["n"] == 1 and out2.count() == n1

        # crash-before-commit: data written, no commit row -> the stage is
        # NOT committed; a resumed run recomputes idempotently (partition
        # overwrite replaces, never appends)
        crashed = CatalogStageRunner(
            spark, database=db, run_id="crash", location=loc
        )
        assert crashed.is_committed("uncommitted_stage") is False
        build().write.mode("overwrite").format("parquet").saveAsTable(
            f"{db}.orphan"
        )
        calls["n"] -= 1  # that write was the simulated crash, not a build
        assert spark.catalog.tableExists(f"{db}.orphan")
        assert not crashed.is_committed("orphan"), (
            "table existence must never imply committed"
        )

        # force: re-materialize a committed stage as a NEW version; dynamic
        # partition overwrite keeps the row count stable (no duplicates)
        out3 = runner.run("turns", build, partition_by=["part"], force=True)
        assert calls["n"] == 2
        assert out3.count() == n1, "partition overwrite must not duplicate rows"
        assert runner.committed_version("turns") == 2

        # lineage rows carry the snapshot version they audited
        lin = runner.lineage()
        vers = {r.version for r in lin.filter(F.col("stage") == "turns").collect()}
        assert vers == {1, 2}
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_catalog_runner_column_order_and_orphan_lineage(spark):
    """Round-4 audit fixes:

    1. insertInto matches columns by POSITION and saveAsTable(partitionBy)
       moves the partition column to the END of the table schema — a
       build() whose partition column is NOT last must still land aligned
       on the force/resume path (name-based realignment in run()).
    2. lineage rows are appended before the commit row; a crash between
       the two leaves orphan audit rows tagged with a version the
       recovery re-run mints again — lineage()/metrics() must not see
       them (commit-gated semi-join)."""
    import tempfile

    import pyspark.sql.functions as F

    from amr_kg_spark.lineage import CatalogStageRunner

    db = "amr_stages_order_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    with tempfile.TemporaryDirectory() as loc:
        runner = CatalogStageRunner(spark, database=db, run_id="r1", location=loc)

        # partition column 'part' FIRST, a value column after it
        def build():
            return spark.range(0, 30).select(
                (F.col("id") % 3).cast("int").alias("part"),
                (F.col("id") * 10).alias("val"),
            )

        out1 = runner.run("ordered", build, partition_by=["part"])
        expect = {(r.part, r.val) for r in build().collect()}
        assert {(r.part, r.val) for r in out1.collect()} == expect

        # force re-run takes the insertInto path: values must stay aligned
        # (positional insert would write val into part and vice versa)
        out2 = runner.run("ordered", build, partition_by=["part"], force=True)
        assert {(r.part, r.val) for r in out2.collect()} == expect
        assert runner.committed_version("ordered") == 2

        # orphan lineage: simulate the crash window by appending audit rows
        # for a version that never got its commit row
        orphan = spark.createDataFrame(
            [("ghost", "ordered", 7, 999, 1, 3)],
            "run_id string, stage string, partition_id int, rows long,"
            " wall_ms long, version long",
        ).select(  # match the lineage table column order
            "run_id", "stage", "partition_id", "rows", "wall_ms", "version"
        )
        orphan.write.mode("append").format("parquet").saveAsTable(
            runner._lineage()
        )
        lin = runner.lineage()
        assert lin.filter("run_id = 'ghost'").count() == 0, (
            "uncommitted audit rows must be invisible"
        )
        m = {r.stage: r.rows for r in runner.metrics().collect()}
        assert m["ordered"] == 30, "metrics must not double-count versions"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
