"""File sources/sinks mirroring the reference's scan surface (SURVEY §2.1).

The reference reads ISO-8859-1 CSVs with column projection (S1,
reference src/amr.py:98-103) and TSVs with all-string dtypes (S2,
src/sources.py:16-26); sinks are TSV dumps (S6/S7, src/amr.py:337-349).
Here every reader returns a DataFrame with explicit all-string schemas
(reference semantics: dtype=str), and projection
is pushed to the scan via select (Catalyst prunes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

REFERENCE_ENCODING = "ISO-8859-1"  # reference src/constants.py:10


def read_csv(
    spark: SparkSession,
    path: str,
    usecols: list[str] | None = None,
    encoding: str = REFERENCE_ENCODING,
    sep: str = ",",
) -> DataFrame:
    """CSV/TSV scan with projection pushdown; all-string by default
    (reference reads dtype=str everywhere, src/amr.py:392)."""
    reader = (
        spark.read.option("header", "true")
        .option("encoding", encoding)
        .option("sep", sep)
        .option("multiLine", "true")
        .option("escape", '"')
    )
    df = reader.csv(path)  # header-inferred names, string-typed columns
    if usecols:
        df = df.select(*usecols)
    return df


def read_tsv(
    spark: SparkSession, path: str
) -> DataFrame:
    return read_csv(spark, path, sep="\t", encoding="UTF-8")


def write_tsv(df: DataFrame, path: str) -> None:
    """Triple-dump sink (S6, reference src/amr.py:345-349): header'd TSV."""
    df.write.mode("overwrite").option("header", "true").option("sep", "\t").csv(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_col: str,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed parquet table (hash-bucketed by ``bucket_col``, optionally
    sorted within buckets). The co-located-join primitive at 100 TB: two
    tables bucketed the same way join WITHOUT an exchange on either side
    (asserted in tests/test_plans.py) — the shuffle is paid once at write
    time instead of on every join, the right trade for fact tables joined
    repeatedly on the same key (conv_id for transcripts, doc_id for
    documents/embeddings)."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


SQLITE_JDBC_DRIVER = "org.sqlite.JDBC"
DERBY_JDBC_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"  # ships with Spark


def has_jdbc_driver(spark: SparkSession, driver: str = SQLITE_JDBC_DRIVER) -> bool:
    """True when the JVM classpath carries the given JDBC driver class."""
    try:
        spark._jvm.java.lang.Class.forName(driver)  # noqa: SLF001
        return True
    except Exception:
        return False


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """Generic JDBC table scan (S4). Filters and projections composed on
    the returned DataFrame push down INTO the database query
    (``PushedFilters`` on the JDBC scan node — asserted in
    tests/test_sources.py against the Derby engine Spark ships, the one
    JDBC database this sandbox can actually execute). The partitioned-read
    options split the scan across executors instead of one driver-side
    cursor — the scale path for a big source table."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound or 0))
            .option("upperBound", str(upper_bound or 1_000_000))
        )
    return reader.load()


def chembl_assay_query(
    molecule_dictionary: DataFrame,
    activities: DataFrame,
    assays: DataFrame,
) -> DataFrame:
    """The reference's ChEMBL extraction (src/get_chembl_data.py:18-41) as
    a declarative plan over the three source tables, storage-agnostic: fed
    JDBC scans, the equality conjuncts and null guards push down into the
    database; fed parquet, into the parquet reader. Two equi-joins +
    5-conjunct filter + projection, exactly the reference's SQL."""
    from pyspark.sql import functions as F

    return (
        molecule_dictionary.join(activities, "molregno")
        .join(
            assays,
            activities["assay_id"] == assays["assay_id"],
        )
        .filter(
            (assays["assay_type"] == "F")
            & F.col("standard_value").isNotNull()
            & F.col("standard_relation").isNotNull()
            & (F.col("standard_relation") == "=")
            & (F.col("standard_type") == "MIC")
        )
        .select(
            "pref_name",
            F.col("molregno").alias("chembl_id"),
            "standard_relation",
            "standard_type",
            "standard_value",
            "standard_units",
            assays["assay_organism"].alias("strain"),
            assays["chembl_id"].alias("assay_chembl_id"),
        )
    )


def read_jdbc_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
) -> DataFrame:
    """S4: the reference ingests ChEMBL from a SQLite file
    (src/get_chembl_data.py:16,39 — sqlite3 + pandas.read_sql). Spark-first
    equivalent: ``spark.read.jdbc`` with optional partitioned reads (the
    scale path: ``partitionColumn/lowerBound/upperBound`` split the table
    scan across executors instead of one driver-side cursor).

    Gated: raises RuntimeError when no SQLite JDBC driver jar is on the
    classpath (this sandbox ships none) — callers probe
    :func:`has_jdbc_driver` first; tests skip accordingly.
    """
    if not has_jdbc_driver(spark):
        raise RuntimeError(
            "no SQLite JDBC driver on the classpath; add e.g. "
            "--packages org.xerial:sqlite-jdbc (sandbox ships none)"
        )
    return read_jdbc(
        spark,
        f"jdbc:sqlite:{db_path}",
        table,
        SQLITE_JDBC_DRIVER,
        partition_column,
        num_partitions,
        lower_bound,
        upper_bound,
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSON-lines scan with an ENFORCED schema — the wire format crawl /
    annotation dumps actually arrive in. The explicit schema matters at
    scale twice over: it skips Spark's full-data inference pass, and it
    keeps column pruning/predicate pushdown available to the json reader
    (malformed rows land in the standard ``_corrupt_record`` handling via
    ``mode=PERMISSIVE``)."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink (one object per line, Spark's native json writer)."""
    df.write.mode("overwrite").json(path)


def write_training_shards(
    seqs: DataFrame,
    path: str,
    seqs_per_file: int = 1024,
) -> None:
    """Export materialized training sequences as ORDERED, BOUNDED shards —
    the file layout a data loader actually consumes: rows are
    range-partitioned and sorted by (pack_bin, seq_id), and
    ``maxRecordsPerFile`` caps every parquet file at ``seqs_per_file``
    rows, so a loader can stride files without scanning and a shard's
    contents are contiguous in stream order.

    Scale shape: ONE range exchange (sampled boundaries — Spark's
    standard total-order machinery) + a local sort; the record cap splits
    files without extra shuffles. Deterministic contents per shard
    position (the range partitioning and sort are pure functions of the
    data); file NAMES carry task UUIDs as usual — identity lives in the
    manifest, not the name."""
    (
        seqs.repartitionByRange("pack_bin", "seq_id")
        .sortWithinPartitions("pack_bin", "seq_id")
        .write.option("maxRecordsPerFile", seqs_per_file)
        .mode("overwrite")
        .parquet(path)
    )


def shard_manifest(
    spark: SparkSession,
    path: str,
) -> DataFrame:
    """One row per shard file of a :func:`write_training_shards` export:
    ``(file, n_rows, n_tokens, min_ord, max_ord)`` — the index a training
    loader (or an auditor reconciling ``prep_corpus`` counts) reads
    instead of listing and scanning parquet footers. Derived with
    ``input_file_name`` in one aggregation over the export itself, so it
    can never drift from the data."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    return df.groupBy(F.input_file_name().alias("file")).agg(
        F.count("*").alias("n_rows"),
        F.sum("n_tokens").alias("n_tokens"),
        F.min("seq_id").alias("min_ord"),
        F.max("seq_id").alias("max_ord"),
    )
