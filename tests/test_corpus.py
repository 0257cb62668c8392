"""The corpus chain (``amr_kg_spark.corpus.prep_corpus``) in-process: edge
inputs through the whole chain (default and BPE-materialized), the BPE
ids packed once from the stage boundaries, and the bench headline's
checkpoint boundary against the job's persist+count boundary."""

from __future__ import annotations

import pyspark.sql.functions as F
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


EDGE_INPUTS = [
    ("empty", [], 0, []),
    ("one-document", [(7, TEXT)], 1, [7]),
    # one connected-components star: every pair is a duplicate, the min
    # id is the only survivor
    ("all-identical", [(i, TEXT) for i in range(30)], 30, [0]),
    # NULL text has no tokens and fails the length gate
    ("null-text",
     [(0, TEXT), (1, None), (2, "a second and rather different document "
      "about the weather in the hills"), (3, None)],
     2, [0, 2]),
]
BPE_MATERIALIZE = ["--tokenizer", "bpe", "--materialize"]


def _bpe_token_total(df, args):
    """Driver-side oracle for a materialized BPE side: the merge table the
    chain trains on ``df`` (its last stage before tokenizing), then every
    document's full Python encoding, counted."""
    from amr_kg_spark.operators import tokenize as TK

    ranks = TK.merge_ranks(TK.train_bpe(
        TK.sample_texts(df, n=args.bpe_sample), num_merges=args.bpe_merges
    ))
    return sum(
        len(TK.bpe_encode(r.text, ranks))
        for r in df.select("text").collect()
    )


@pytest.mark.parametrize(
    "flags, rows, after_filter, kept_ids",
    [pytest.param([], rows, n, kept, id=name)
     for name, rows, n, kept in EDGE_INPUTS]
    + [pytest.param(BPE_MATERIALIZE, rows, n, kept,
                    id="bpe-materialize-" + name)
       for name, rows, n, kept in EDGE_INPUTS],
)
def test_prep_corpus_edge_inputs(spark, flags, rows, after_filter, kept_ids):
    from amr_kg_spark.corpus import parse_args, prep_corpus

    args = parse_args(["--input", "", "--output", ""] + flags)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    counts, cached = {}, []
    sides, chain = prep_corpus(
        spark, docs, args, _persist_count(counts, cached)
    )
    try:
        assert counts == {
            "after_filter": after_filter, "after_dedup": len(kept_ids)
        }
        if args.materialize:
            kept = cached[-1]
            assert sorted(r.doc_id for r in kept.collect()) == kept_ids
            total = sides[""].agg(F.sum("n_tokens")).collect()[0][0] or 0
            expected = _bpe_token_total(kept, args)
        else:
            packed = _packed_rows(sides[""])
    finally:
        for df in cached:
            df.unpersist()
    if args.materialize:
        assert total == expected
        assert (total > 0) == bool(kept_ids)
        if not rows:
            # the empty merge table yields a specials-only vocab
            assert chain["bpe_merges_trained"] == 0
            assert chain["bpe_vocab_size"] == 1
    else:
        assert [r[0] for r in packed] == kept_ids
        assert all(r[2] is not None and r[3] is not None for r in packed)


def test_prep_corpus_bpe_sides_pack_the_chain_ids(spark):
    """With --tokenizer bpe --materialize and a stage boundary before
    packing, each document is encoded once: the packed sides read the
    ids committed at the boundary (no Python evaluation above the
    checkpoint), and each side's sequences equal a fresh
    materialize_token_ids over that side's documents."""
    from amr_kg_spark.corpus import parse_args, prep_corpus
    from amr_kg_spark.operators import tokenize as TK
    from amr_kg_spark.operators.textprep import materialize_token_ids
    from amr_kg_spark.session import stable_checkpoint

    args = parse_args(
        ["--input", "", "--output", "", "--budget", "64",
         "--val-fraction", "0.25"] + BPE_MATERIALIZE
    )
    staged = {}

    def stage(key, df):
        staged[key] = stable_checkpoint(df)
        return staged[key]

    sides, _ = prep_corpus(
        spark, spark.read.parquet(f"{SF_SMALL}/documents.parquet"), args,
        stage,
    )
    sample = TK.sample_texts(staged["after_dedup"], n=args.bpe_sample)
    merges = TK.train_bpe(sample, num_merges=args.bpe_merges)
    vocab = TK.build_vocab(merges, sample)

    def seqs(df):
        return sorted(
            (r.pack_bin, r.seq_id, tuple(r.seq_tokens), r.n_tokens)
            for r in df.collect()
        )

    assert set(sides) == {"train", "val"}
    for name, packed in sides.items():
        got = seqs(packed)
        assert got, name
        plan = packed._sc._jvm.PythonSQLUtils.explainString(
            packed._jdf.queryExecution(), "formatted"
        )
        assert "ArrowEvalPython" not in plan, name
        docs = staged["rows_" + name].select("doc_id", "text")
        assert got == seqs(materialize_token_ids(
            docs, budget=args.budget, merges=merges, vocab=vocab
        )), name


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
