"""The corpus chain (``amr_kg_spark.corpus.prep_corpus``) in-process: edge
inputs through the whole chain, and the bench headline's checkpoint
boundary against the job's persist+count boundary."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL

TEXT = "the quick brown fox jumps over the lazy dog and then it runs home"


def _defaults():
    from amr_kg_spark.corpus import parse_args

    return parse_args(["--input", "", "--output", ""])


def _persist_count(counts, cached):
    """The job's stage boundary: persist, then count."""

    def stage(key, df):
        df = df.persist()
        cached.append(df)
        counts[key] = df.count()
        return df

    return stage


def _packed_rows(packed):
    return sorted(
        tuple(r) for r in packed.select(
            "doc_id", "pack_bin", "seq_id", "seq_offset"
        ).collect()
    )


@pytest.mark.parametrize(
    "rows, after_filter, kept_ids",
    [
        pytest.param([], 0, [], id="empty"),
        pytest.param([(7, TEXT)], 1, [7], id="one-document"),
        # one connected-components star: every pair is a duplicate, the
        # min id is the only survivor
        pytest.param([(i, TEXT) for i in range(30)], 30, [0],
                     id="all-identical"),
        # NULL text has no tokens and fails the length gate
        pytest.param(
            [(0, TEXT), (1, None), (2, "a second and rather different "
             "document about the weather in the hills"), (3, None)],
            2, [0, 2], id="null-text",
        ),
    ],
)
def test_prep_corpus_edge_inputs(spark, rows, after_filter, kept_ids):
    from amr_kg_spark.corpus import prep_corpus

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counts, cached = {}, []
    sides, _ = prep_corpus(
        spark, docs, _defaults(), _persist_count(counts, cached)
    )
    try:
        assert counts == {
            "after_filter": after_filter, "after_dedup": len(kept_ids)
        }
        packed = _packed_rows(sides[""])
    finally:
        for df in cached:
            df.unpersist()
    assert [r[0] for r in packed] == kept_ids
    assert all(r[2] is not None and r[3] is not None for r in packed), packed


def test_prep_corpus_headline_is_job_chain(spark):
    """dp_prep_corpus (checkpoint boundaries) packs exactly what the job's
    chain (persist+count boundaries) packs on the same documents."""
    from amr_kg_spark.corpus import prep_corpus
    from amr_kg_spark.queries.datapipe import q_prep_corpus

    counts, cached = {}, []
    sides, _ = prep_corpus(
        spark, spark.read.parquet(f"{SF_SMALL}/documents.parquet"),
        _defaults(), _persist_count(counts, cached),
    )
    try:
        job = _packed_rows(sides[""])
    finally:
        for df in cached:
            df.unpersist()
    assert 0 < counts["after_dedup"] < counts["after_filter"]
    assert len(job) == counts["after_dedup"]
    assert _packed_rows(q_prep_corpus(spark, SF_SMALL)) == job


def test_strata_reject_other_columns():
    from amr_kg_spark.corpus import parse_args

    base = ["--input", "", "--output", ""]
    assert parse_args(base + ["--sample", "lang=en:0.5,de:0.25"]).sample == {
        "en": 0.5, "de": 0.25
    }
    assert parse_args(base + ["--mix", "en:2e3"]).mix == {"en": 2000}
    with pytest.raises(SystemExit) as e:
        parse_args(base + ["--sample", "source=web:0.5"])
    assert e.value.code == 2
