"""spark-submit entry point for the KG construction pipeline.

Cluster deployment (north_rule: spark-submit --py-files on multi-executor
clusters):

    cd /root/repo && zip -r /tmp/amr_kg_spark.zip amr_kg_spark
    spark-submit --master <cluster> \
        --py-files /tmp/amr_kg_spark.zip \
        jobs/build_kg.py \
        --input  <transcripts parquet/Iceberg path> \
        --workdir <checkpoint/output dir> \
        [--canonicalize] [--run-id RID] [--catalog-db DB]

Local smoke:
    spark-submit --master 'local[8]' --py-files /tmp/amr_kg_spark.zip \
        jobs/build_kg.py --synthetic 10000 --workdir /tmp/kg_out

The job is resumable: re-submitting with the same --workdir skips committed
stages (lineage in <workdir>/lineage). Output tables land under
<workdir>/stages/{nodes,edges,triples}.

Catalog tables (--catalog-db DB): after the build, every committed stage
directory is registered as the external parquet table DB.<stage>, so SQL
clients can query the graph by name. The tables point at the stage
directories; with a persistent catalog (e.g. Spark's Derby-backed Hive
metastore) they outlive the JVM:

    spark-submit --master 'local[8]' --py-files /tmp/amr_kg_spark.zip \
        --conf spark.sql.catalogImplementation=hive \
        --conf spark.driver.extraJavaOptions=-Dderby.system.home=<msdir> \
        --conf spark.sql.warehouse.dir=<msdir>/warehouse \
        jobs/build_kg.py --synthetic 20000 --workdir /tmp/kg_out --catalog-db kg

    # then: spark.table("kg.triples")
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def register_stage_tables(spark, workdir: str, database: str) -> list[str]:
    """Register every committed stage under ``<workdir>/stages`` as the
    external parquet table ``<database>.<stage>`` and return the table
    names. Idempotent: a table that already exists is left as it is."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    root = os.path.abspath(os.path.join(workdir, "stages"))
    tables = []
    for stage in sorted(os.listdir(root)):
        path = os.path.join(root, stage)
        if stage.endswith(".inprogress") or not os.path.exists(
            os.path.join(path, "_SUCCESS")
        ):
            continue
        table = f"{database}.{stage}"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} USING parquet LOCATION '{path}'"
        )
        tables.append(table)
    return tables


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--input-table", help="transcripts CATALOG table (e.g. an Iceberg table: catalog.db.transcripts) — the production input shape")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic turns instead of --input")
    ap.add_argument("--workdir", help="parquet-dir checkpoint root")
    ap.add_argument("--catalog-db", help="also register each committed stage directory as an external table in this database")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--canonicalize", action="store_true")
    args = ap.parse_args()
    if not args.workdir:
        print("need --workdir (--catalog-db registers its stage dirs)", file=sys.stderr)
        sys.exit(2)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("amr-kg-build").getOrCreate()

    from amr_kg_spark.pipeline import run_pipeline

    if args.synthetic:
        from amr_kg_spark.fixtures import synth_transcripts

        transcripts = synth_transcripts(spark, n_turns=args.synthetic)
    elif args.input_table:
        transcripts = spark.read.table(args.input_table)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        print("need --input, --input-table or --synthetic", file=sys.stderr)
        sys.exit(2)

    out = run_pipeline(
        spark, transcripts, args.workdir,
        run_id=args.run_id, canonicalize=args.canonicalize,
    )
    summary = {
        "triples": out["triples"].count(),
        "nodes": out["nodes"].count(),
        "edges": out["edges"].count(),
        "stages": [r.stage for r in out["metrics"].select("stage").distinct().collect()],
    }
    if args.catalog_db:
        summary["tables"] = register_stage_tables(spark, args.workdir, args.catalog_db)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
