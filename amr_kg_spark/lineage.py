"""Checkpoint-resumable stage runner with per-partition lineage + metrics.

Production target is Iceberg (stage outputs as snapshots, resume by
snapshot id, idempotent overwritePartitions). The sandbox has no Iceberg
catalog jar, so the same contract is implemented on parquet directories:

- each stage writes ``<workdir>/stages/<stage>/`` atomically (parquet
  _SUCCESS marker = committed snapshot);
- resume: a committed stage is read back, never recomputed — re-running
  the pipeline after a crash redoes only uncommitted stages;
- every commit appends per-partition rows to ``<workdir>/lineage/``:
  (run_id, stage, partition_id, rows, wall_ms, snapshot) — the audit
  trail the north_rule requires. ``rows`` comes from the committed
  files' parquet footers (metadata only, as Iceberg reads per-file
  counts from its manifests) and ``partition_id`` is the partition of
  the task that wrote the file, so a commit costs exactly one Spark job:
  the stage write itself.

Stage outputs are deterministic (engine rule: deterministic xxhash64 ids,
no monotonically_increasing_id / Date.now in plans), so kill+resume yields
a bit-identical triple set — asserted in tests/test_resume.py.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .schemas import LINEAGE

_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def _footer_rows(path: str) -> dict[int, int]:
    """Rows per writing task of a committed parquet directory, from the
    file footers alone (no Spark job). Spark names each data file
    ``part-<task partition>-...``; a task that rolled over into several
    files contributes their sum."""
    rows: dict[int, int] = {}
    for name in sorted(os.listdir(path)):
        m = _PART_FILE.match(name)
        if m:
            pid = int(m.group(1))
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return rows


class StageRunner:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        run_id: str | None = None,
        params: dict | None = None,
    ):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(os.path.join(workdir, "stages"), exist_ok=True)
        if params is not None:
            self._check_params(params)

    def _check_params(self, params: dict) -> None:
        """Bind the workdir to the parameters its committed stages were
        computed under. Stage keys are NAMES (``is_committed`` checks only
        ``stages/<name>/_SUCCESS``), so resuming with the same dir but
        different parameters would silently read back stale outputs while
        all downstream counts look fresh. First run writes
        ``<workdir>/params.json``; later runs must match it exactly or the
        runner REFUSES to resume (delete the dir or pick a new one to
        proceed — never silent reuse)."""
        import json

        marker = os.path.join(self.workdir, "params.json")
        canon = json.dumps(params, sort_keys=True, default=str)
        if os.path.exists(marker):
            with open(marker) as fh:
                prev = fh.read()
            if prev != canon:
                old = json.loads(prev)
                new = json.loads(canon)
                diff = {
                    k: (old.get(k), new.get(k))
                    for k in sorted(set(old) | set(new))
                    if old.get(k) != new.get(k)
                }
                raise ValueError(
                    f"stage dir {self.workdir!r} was committed under "
                    f"different parameters; refusing to resume (changed: "
                    f"{diff}). Use a fresh --stage-dir or delete this one."
                )
        else:
            tmp = marker + ".tmp"
            with open(tmp, "w") as fh:
                fh.write(canon)
            os.rename(tmp, marker)

    # -- paths ---------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.workdir, "stages", stage)

    def _lineage_dir(self) -> str:
        return os.path.join(self.workdir, "lineage")

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._stage_dir(stage), "_SUCCESS"))

    # -- core ----------------------------------------------------------------
    def run(self, stage: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Return the stage output, computing + committing it only if no
        committed copy exists (checkpoint/resume semantics)."""
        out = self._stage_dir(stage)
        if self.is_committed(stage):
            return self.spark.read.parquet(out)

        t0 = time.monotonic()
        df = build()
        tmp = out + ".inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        wall_ms = int((time.monotonic() - t0) * 1000)

        # atomic publish FIRST, lineage append second: a crash in between
        # leaves a committed snapshot with a missing audit row (resume is
        # still correct — the stage is not recomputed), whereas the reverse
        # order would record lineage for a snapshot that never committed and
        # then double-count the stage after the resumed re-run.
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
        self._append_lineage(stage, out, wall_ms)
        # the built frame's schema is the written one: passing it skips
        # the schema-inference job a bare read would run
        return self.spark.read.schema(df.schema).parquet(out)

    def _append_lineage(self, stage: str, out: str, wall_ms: int) -> None:
        """One small parquet file of per-partition rows for this commit,
        written beside the data without Spark. It lands under a dot name
        (Spark skips those) and is renamed into place, so a crash never
        leaves a partial file that ``lineage()`` would read."""
        rows = _footer_rows(out)
        n = len(rows)
        table = pa.Table.from_pydict(
            {
                "run_id": [self.run_id] * n,
                "stage": [stage] * n,
                "partition_id": list(rows),
                "rows": list(rows.values()),
                "wall_ms": [wall_ms] * n,
                "snapshot": [os.path.basename(out)] * n,
            },
            schema=to_arrow_schema(LINEAGE),
        )
        lin = self._lineage_dir()
        os.makedirs(lin, exist_ok=True)
        name = f"{self.run_id}-{stage}-{uuid.uuid4().hex[:8]}.parquet"
        tmp = os.path.join(lin, "." + name)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(lin, name))

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(LINEAGE).parquet(self._lineage_dir())

    def metrics(self) -> DataFrame:
        """Stage-level rollup: rows, partitions, wall time, rows/sec."""
        lin = self.lineage()
        return (
            lin.groupBy("run_id", "stage")
            .agg(
                F.sum("rows").alias("rows"),
                F.count("*").alias("partitions"),
                F.max("wall_ms").alias("wall_ms"),
            )
            .withColumn(
                "rows_per_sec",
                F.round(F.col("rows") / (F.col("wall_ms") / 1000.0), 2),
            )
        )

    def invalidate(self, stage: str) -> None:
        out = self._stage_dir(stage)
        if os.path.exists(out):
            shutil.rmtree(out)


class CatalogStageRunner:
    """S5 on the session catalog: stage outputs are CATALOG TABLES, commits
    are rows in a commit-log table — the Iceberg snapshot protocol mapped
    onto what this sandbox ships (no Iceberg runtime jar, no network to
    vendor one; with the jar, ``saveAsTable`` on an iceberg-format table
    and the catalog's own snapshot log replace the two pieces 1:1,
    reference persistence sites: /root/reference/src/connection.py:15-45,
    tx.create in src/amr.py:118-220).

    Protocol (write-then-commit, exactly Iceberg's):
      1. stage data is written with ``saveAsTable`` (overwrite) — for
         partitioned stages, ``insertInto`` under dynamic partition
         overwrite, so re-runs replace ONLY the partitions they produce
         (idempotent overwritePartitions);
      2. a (run_id, stage, version, wall_ms) row is appended to
         ``<db>.__commits`` — a stage is committed IFF a commit row
         exists. A crash between 1 and 2 leaves a table the resume path
         treats as uncommitted and rewrites idempotently; table existence
         alone is never trusted.
      3. per-partition lineage rows land in ``<db>.__lineage`` with the
         committed ``version``, tying every audit row to a snapshot.

    ``version`` is a per-stage monotonically increasing integer (the
    snapshot id stand-in).
    """

    def __init__(
        self,
        spark: SparkSession,
        database: str = "amr_stages",
        run_id: str | None = None,
        location: str | None = None,
    ):
        """``location`` pins the database directory (recommended: the
        in-memory session catalog forgets databases across sessions while
        their warehouse directories persist, and a later CREATE TABLE
        over such an orphan location fails — an explicit, per-deployment
        location makes the layout deliberate)."""
        self.spark = spark
        self.db = database
        self.run_id = run_id or uuid.uuid4().hex[:12]
        loc = f" LOCATION '{location}'" if location else ""
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.db}{loc}")

    def _table(self, stage: str) -> str:
        return f"{self.db}.{stage}"

    def _commits(self) -> str:
        return f"{self.db}.__commits"

    def _lineage(self) -> str:
        return f"{self.db}.__lineage"

    def committed_version(self, stage: str) -> int | None:
        if not self.spark.catalog.tableExists(self._commits()):
            return None
        row = (
            self.spark.table(self._commits())
            .filter(F.col("stage") == stage)
            .agg(F.max("version").alias("v"))
            .first()
        )
        return None if row is None or row["v"] is None else int(row["v"])

    def is_committed(self, stage: str) -> bool:
        return self.committed_version(stage) is not None

    def run(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        partition_by: list[str] | None = None,
        force: bool = False,
    ) -> DataFrame:
        """Return the stage output, computing + committing only when no
        commit-log row exists (checkpoint/resume on the catalog).
        ``force=True`` re-materializes even a committed stage as a NEW
        version (scheduled re-snapshot; partitioned stages replace only
        the partitions they produce)."""
        tbl = self._table(stage)
        if self.is_committed(stage) and not force:
            return self.spark.table(tbl)

        t0 = time.monotonic()
        df = build()
        if partition_by and self.spark.catalog.tableExists(tbl):
            # idempotent overwrite-by-partition: replace exactly the
            # partitions this run produces, leave the rest untouched
            with _conf(
                self.spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
            ):
                # insertInto matches columns by POSITION; saveAsTable with
                # partitionBy moves partition columns to the END of the
                # table schema, so align by NAME against the live table
                # schema first — otherwise any build() whose partition
                # column isn't already last silently writes shifted data.
                df.select(*self.spark.table(tbl).columns).write.mode(
                    "overwrite"
                ).insertInto(tbl)
        else:
            w = df.write.mode("overwrite").format("parquet")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.saveAsTable(tbl)
        wall_ms = int((time.monotonic() - t0) * 1000)

        version = (self.committed_version(stage) or 0) + 1
        committed = self.spark.table(tbl)
        lineage = (
            committed.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count("*").cast("long").alias("rows"))
            .select(
                F.lit(self.run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                F.col("partition_id"),
                "rows",
                F.lit(wall_ms).cast("long").alias("wall_ms"),
                F.lit(version).cast("long").alias("version"),
            )
        )
        lineage.write.mode("append").format("parquet").saveAsTable(
            self._lineage()
        )
        # the commit record makes the snapshot visible — LAST, atomically
        commit = self.spark.createDataFrame(
            [(self.run_id, stage, version, wall_ms)],
            "run_id string, stage string, version long, wall_ms long",
        )
        commit.write.mode("append").format("parquet").saveAsTable(
            self._commits()
        )
        return self.spark.table(tbl)

    def lineage(self) -> DataFrame:
        """Committed lineage only. Audit rows are appended BEFORE the
        commit record (the commit stays the last, atomic write), so a
        crash between the two can leave orphan lineage rows tagged with a
        version number the recovery re-run will mint again. Gating reads
        through a semi-join with ``__commits`` on (run_id, stage,
        version) makes those uncommitted rows invisible instead of
        double-counting a version in metrics(). The commit side is tiny
        (one row per stage-version) — broadcast."""
        lin = self.spark.table(self._lineage())
        commits = self.spark.table(self._commits()).select(
            "run_id", "stage", "version"
        )
        return lin.join(
            F.broadcast(commits), ["run_id", "stage", "version"], "left_semi"
        )

    def metrics(self) -> DataFrame:
        """Stage-level rollup: rows, partitions, wall time, rows/sec —
        same shape as StageRunner.metrics (runner-interchangeable).
        Rolls up the LATEST committed version per (run_id, stage): a
        force-re-snapshot replaces the table, so summing across versions
        would double-count the live rows.

        Contract: assumes build() produces the FULL stage output each
        version (the runner's overwrite-by-partition is crash-recovery
        within one version, not incremental versioning). If a forced
        re-run ever rebuilt only a subset of partitions, the live table
        would mix versions and this latest-version rollup would
        under-report it — roll up max-version per (stage, partition)
        instead if that mode is ever added."""
        from pyspark.sql import Window

        lin = self.lineage().withColumn(
            "__vmax",
            F.max("version").over(Window.partitionBy("run_id", "stage")),
        )
        lin = lin.filter(F.col("version") == F.col("__vmax")).drop("__vmax")
        return (
            lin.groupBy("run_id", "stage")
            .agg(
                F.sum("rows").alias("rows"),
                F.count("*").alias("partitions"),
                F.max("wall_ms").alias("wall_ms"),
            )
            .withColumn(
                "rows_per_sec",
                F.round(F.col("rows") / (F.col("wall_ms") / 1000.0), 2),
            )
        )

    def invalidate(self, stage: str) -> None:
        """Drop the stage's commit rows (and table) — forces recompute."""
        if self.spark.catalog.tableExists(self._commits()):
            remaining = (
                self.spark.table(self._commits())
                .filter(F.col("stage") != stage)
                .localCheckpoint()
            )
            remaining.write.mode("overwrite").format("parquet").saveAsTable(
                self._commits()
            )
        self.spark.sql(f"DROP TABLE IF EXISTS {self._table(stage)}")


class _conf:
    """Scoped SQL-conf override (restores the previous value on exit)."""

    def __init__(self, spark: SparkSession, key: str, value: str):
        self.spark, self.key, self.value = spark, key, value

    def __enter__(self):
        self.old = self.spark.conf.get(self.key, None)
        self.spark.conf.set(self.key, self.value)

    def __exit__(self, *exc):
        if self.old is None:
            self.spark.conf.unset(self.key)
        else:
            self.spark.conf.set(self.key, self.old)
