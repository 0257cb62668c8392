"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship KG extraction — derive the transcripts table
  from sf0.001 documents, run mention detection + linking + triple
  extraction, return the distinct triple DataFrame.
- ``queries()``: one callable per implemented operator (SURVEY.md §2 and
  the KG/datapipe surface), each (spark, sf_dir) -> DataFrame.
- ``oracle_sql()``: DuckDB-runnable ANSI SQL equivalents (driver compares
  row count + schema + order-insensitive value hash at sf=0.01). Queries
  without an oracle entry are non-SQL-expressible (LSH, iterative CC, ...)
  and get the driver's rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from amr_kg_spark.queries import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts -> mentions -> linking -> distinct triples."""
    from amr_kg_spark.operators.triples import extract_triples
    from amr_kg_spark.transcripts import derive_transcripts

    t = derive_transcripts(spark, "/root/testdata/sf0.001")
    return extract_triples(t)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q, _ = all_queries()
    return q


def oracle_sql() -> dict[str, str]:
    _, o = all_queries()
    return o
