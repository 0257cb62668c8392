"""Checkpoint-resumable stage runner with per-partition lineage + metrics.

This is the engine's one stage-commit protocol. Production target is
Iceberg (stage outputs as snapshots, resume by snapshot id); without an
Iceberg catalog jar the same contract is implemented on parquet
directories:

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
a bit-identical triple set — asserted in tests/test_resume.py. Resume
needs only the workdir, so it survives JVM restarts. To query committed
stages through a catalog, register the stage directories as external
tables (``jobs/build_kg.py --catalog-db``).
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
