from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from amr_kg_spark.session import get_spark

    s = get_spark(app_name="amr-kg-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def java_findall(spark):
    """Every match of a detector pattern in a text, found by
    ``java.util.regex`` (the engine behind ``regexp_extract_all``, with
    its compile/find/group(0) loop) in the session's JVM, so detector
    semantics are checked on the engine production runs without one Spark
    job per example."""
    compile_ = spark._jvm.java.util.regex.Pattern.compile

    def findall(rx: str, text: str) -> list[str]:
        m = compile_(rx).matcher(text)
        found = []
        while m.find():
            found.append(m.group(0))
        return found

    return findall
