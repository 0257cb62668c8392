"""BPE token counting (round-5 verdict item #2): from-scratch merge-table
training, greedy encoding vs an INDEPENDENT sequential-merge oracle,
Arrow-UDF value parity against driver-side Python, plan shape, and the
threading into pack/mix/stats."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from amr_kg_spark.operators.tokenize import (
    END_OF_WORD,
    _chunk_symbols,
    _pretokenize,
    bpe_encode,
    bpe_token_count,
    merge_ranks,
    merges_from_json,
    merges_to_json,
    sample_texts,
    train_bpe,
    with_token_counts,
)
from tests.conftest import SF_SMALL


def _corpus_texts(spark, n=500):
    return sample_texts(
        spark.read.parquet(f"{SF_SMALL}/documents.parquet"), n=n
    )


def test_train_bpe_deterministic_and_learns(spark):
    texts = _corpus_texts(spark)
    m1 = train_bpe(texts, num_merges=128)
    m2 = train_bpe(texts, num_merges=128)
    assert m1 == m2, "training must be deterministic on the same sample"
    assert 32 <= len(m1) <= 128
    ranks = merge_ranks(m1)
    # a frequent corpus word must compress below its character count
    freq_word = "the"
    toks = bpe_encode(freq_word, ranks)
    assert len(toks) < len(freq_word)
    # json round-trip (the 100 TB persist-next-to-corpus path)
    assert merges_from_json(merges_to_json(m1)) == m1


def _sequential_encode(text, merges):
    """Independent oracle: apply each merge IN RANK ORDER over the whole
    symbol sequence (classic-BPE formulation) — a different algorithm
    from the greedy lowest-rank loop in bpe_encode; they must agree."""
    out = []
    for chunk in _pretokenize(text):
        syms = list(_chunk_symbols(chunk))
        for a, b in merges:
            i = 0
            merged = []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            syms = merged
        out.extend(syms)
    return out


def test_bpe_encode_greedy_equals_sequential_oracle(spark):
    texts = _corpus_texts(spark)
    merges = train_bpe(texts, num_merges=128)
    ranks = merge_ranks(merges)
    for t in texts:
        assert bpe_encode(t, ranks) == _sequential_encode(t, merges), t[:80]


def test_bpe_encode_chunk_cache_equivalence(spark):
    """The per-worker chunk memo (round-8: the tokens/sec optimization for
    the materialize path) is semantics-preserving: cached and uncached
    encodings agree on every corpus text, and the cache actually fills
    (Zipf reuse is the whole point)."""
    texts = _corpus_texts(spark)
    merges = train_bpe(texts, num_merges=128)
    ranks = merge_ranks(merges)
    cache: dict = {}
    for t in texts:
        assert bpe_encode(t, ranks, cache) == bpe_encode(t, ranks), t[:60]
    assert len(cache) > 0
    n_chunks = sum(len(_pretokenize(t)) for t in texts)
    assert len(cache) < n_chunks, "repeated chunks must hit, not re-insert"


def test_bpe_encode_lossless(spark):
    """Concatenating the tokens (minus end-of-word marks) reconstructs the
    text exactly — the encoder never drops or duplicates characters."""
    texts = _corpus_texts(spark)
    ranks = merge_ranks(train_bpe(texts, num_merges=128))
    for t in texts:
        rebuilt = "".join(bpe_encode(t, ranks)).replace(END_OF_WORD, "")
        assert rebuilt == t


def test_bpe_token_count_udf_matches_python_oracle(spark):
    """The Arrow pandas_udf count equals direct driver-side encoding for
    EVERY document, and the plan is one ArrowEvalPython stage — no
    per-row Python, no exchange (the mention-detector contract)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    merges = train_bpe(_corpus_texts(spark), num_merges=128)
    ranks = merge_ranks(merges)
    out = docs.select(
        "doc_id", "text", bpe_token_count("text", merges).alias("n_bpe")
    )
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_bpe == len(bpe_encode(r.text, ranks)), r.doc_id
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan, "must be Arrow-batched, not per-row"
    assert "Exchange" not in plan


def test_with_token_counts_threads_into_budget_operators(spark):
    """The BPE counts flow through the budget-driven operators: packing
    stays a valid budget-respecting packing, corpus_stats reports the BPE
    totals via token_count_col, and mixing honors its budgets in BPE
    tokens (boundary-document rule)."""
    from amr_kg_spark.operators.textprep import (
        corpus_stats,
        mix_to_token_budget,
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    merges = train_bpe(_corpus_texts(spark), num_merges=128)
    toks = with_token_counts(docs, counter="bpe", merges=merges).persist()
    try:
        ws = with_token_counts(docs, counter="whitespace").collect()
        bpe = {r.doc_id: r.n_tokens for r in toks.collect()}
        # the words->subwords gap is real and material on this corpus
        ws_total = sum(r.n_tokens for r in ws)
        bpe_total = sum(bpe.values())
        assert bpe_total != ws_total
        assert 1.0 < bpe_total / ws_total < 4.0

        packed = pack_sequences(toks, budget=256, num_bins=8)
        assert packed.filter(
            "seq_offset < 0 or seq_offset >= 256"
        ).count() == 0
        stats = corpus_stats(toks, token_count_col="n_tokens").collect()
        assert sum(r.total_tokens for r in stats) == bpe_total

        budgets = {"en": 3000, "de": 1000}
        mixed = mix_to_token_budget(toks, budgets, stratum_col="lang")
        for r in mixed.collect():
            assert r.mix_tokens_before < budgets[r.lang]
    finally:
        toks.unpersist()


def test_build_vocab_deterministic_and_unk(spark):
    """The vocab is a pure function of (merges, sample): id 0 is <unk>,
    ids are dense, and encode-time symbols outside it map to 0."""
    from amr_kg_spark.operators.tokenize import (
        UNK,
        bpe_encode_ids,
        build_vocab,
    )

    texts = _corpus_texts(spark, n=200)
    merges = train_bpe(texts, num_merges=64)
    vocab = build_vocab(merges, texts)
    assert vocab[UNK] == 0
    assert sorted(vocab.values()) == list(range(len(vocab)))
    assert build_vocab(merges, texts) == vocab, "must be deterministic"
    # every training-sample text encodes without <unk>
    ranks = merge_ranks(merges)
    for t in texts[:50]:
        assert 0 not in bpe_encode_ids(t, ranks, vocab)
    # a never-seen character (CJK, absent from this latin corpus) -> <unk>
    ids = bpe_encode_ids("世界 hello", ranks, vocab)
    assert ids[0] == 0


def test_materialize_token_ids_matches_python_oracle(spark):
    """Round-6 verdict item #2 — training-ready BPE token-id sequences.
    Boundary convention = ENCODE-THEN-SLICE: each document is encoded in
    full and its id stream is cut at sequence boundaries (a subword never
    re-merges across a cut; slice-then-encode is never performed). The
    oracle re-derives every bin's stream driver-side with bpe_encode_ids
    and chunks it: the Spark sequences must match EXACTLY. Plan: the
    encode is ONE ArrowEvalPython stage (not double-evaluated for count
    + slice), no per-row Python."""
    from amr_kg_spark.operators.textprep import (
        materialize_token_ids,
        normalize_text,
    )
    from amr_kg_spark.operators.tokenize import (
        bpe_encode_ids,
        build_vocab,
    )

    B, BINS = 64, 4
    texts = _corpus_texts(spark, n=300)
    merges = train_bpe(texts, num_merges=96)
    vocab = build_vocab(merges, texts)
    ranks = merge_ranks(merges)

    docs = normalize_text(
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ).select("doc_id", F.col("text_norm").alias("text"))
    out = materialize_token_ids(
        docs, budget=B, merges=merges, vocab=vocab, num_bins=BINS
    )
    rows = out.collect()
    assert rows

    # python oracle: per bin, concatenate each doc's FULL encoding in
    # id order, then chunk the stream into budget-sized windows
    binned = docs.select(
        "doc_id", "text",
        F.pmod(F.xxhash64("doc_id"), F.lit(BINS)).alias("b"),
    ).collect()
    streams: dict = {}
    for r in sorted(binned, key=lambda r: (r.b, r.doc_id)):
        streams.setdefault(r.b, []).extend(
            bpe_encode_ids(r.text, ranks, vocab)
        )
    exp: dict = {}
    for b, stream in streams.items():
        exp[b] = [stream[i:i + B] for i in range(0, len(stream), B)]
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r.pack_bin, r.seq_id)):
        got.setdefault(r.pack_bin, []).append(list(r.seq_tokens))
    assert set(got) == set(exp)
    for b in exp:
        assert got[b] == exp[b], f"bin {b} id-sequence mismatch"
    # every non-tail sequence is exactly budget ids; ids are in-vocab
    for b in got:
        for seq in got[b][:-1]:
            assert len(seq) == B
        assert 0 < len(got[b][-1]) <= B
        for seq in got[b]:
            assert all(0 <= i < len(vocab) for i in seq)

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # formatted output repeats nodes in the Initial Plan + detail
    # sections; the executed tree is the part before "== Initial Plan =="
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython") == 1, "encode must run ONCE"
    assert "BatchEvalPython" not in plan, "no per-row Python"


def test_materialize_token_ids_eod_and_boundaries(spark):
    """eod_id appends a reserved end-of-document delimiter to every
    document's encoding BEFORE packing (it counts against the budget),
    and with_boundaries emits seq_doc_starts — the sorted in-sequence
    start offset of every document segment (the block-diagonal
    attention-mask boundaries). Oracle: a driver-side walk of each bin's
    delimited id stream."""
    from amr_kg_spark.operators.textprep import (
        materialize_token_ids,
        normalize_text,
    )
    from amr_kg_spark.operators.tokenize import (
        bpe_encode_ids,
        build_vocab,
    )

    B, BINS = 48, 4
    texts = _corpus_texts(spark, n=200)
    merges = train_bpe(texts, num_merges=64)
    vocab = build_vocab(merges, texts, specials=("<unk>", "<eod>"))
    eod = vocab["<eod>"]
    assert eod == 1
    ranks = merge_ranks(merges)

    docs = normalize_text(
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    ).select("doc_id", F.col("text_norm").alias("text"))
    out = materialize_token_ids(
        docs, budget=B, merges=merges, vocab=vocab, num_bins=BINS,
        eod_id=eod, with_boundaries=True,
    )
    rows = out.collect()
    assert rows and "seq_doc_starts" in out.columns

    binned = docs.select(
        "doc_id", "text",
        F.pmod(F.xxhash64("doc_id"), F.lit(BINS)).alias("b"),
    ).collect()
    exp_chunks: dict = {}
    exp_starts: dict = {}
    for bin_id in {r.b for r in binned}:
        stream: list = []
        for r in sorted(
            (r for r in binned if r.b == bin_id), key=lambda r: r.doc_id
        ):
            ids = bpe_encode_ids(r.text, ranks, vocab) + [eod]
            pos = len(stream)
            stream.extend(ids)
            p = pos
            while p < len(stream):
                seq = p // B
                exp_starts.setdefault((bin_id, seq), []).append(p % B)
                p = (seq + 1) * B
        exp_chunks[bin_id] = [
            stream[i:i + B] for i in range(0, len(stream), B)
        ]
    got_chunks: dict = {}
    for r in sorted(rows, key=lambda r: (r.pack_bin, r.seq_id)):
        got_chunks.setdefault(r.pack_bin, []).append(list(r.seq_tokens))
        seq_index = r.seq_id - r.pack_bin * (1 << 40)
        assert list(r.seq_doc_starts) == sorted(
            exp_starts[(r.pack_bin, seq_index)]
        ), (r.pack_bin, seq_index)
        # a sequence always opens with a segment (fresh doc or a long
        # doc's continuation piece)
        assert r.seq_doc_starts[0] == 0
        # every <eod> is the LAST token of its segment: the id right
        # before each interior boundary is the delimiter
        for s in r.seq_doc_starts[1:]:
            assert r.seq_tokens[s - 1] == eod, (r.seq_id, s)
    assert got_chunks == exp_chunks
    # default output schema is unchanged (no boundary column)
    plain = materialize_token_ids(
        docs, budget=B, merges=merges, vocab=vocab, num_bins=BINS
    )
    assert "seq_doc_starts" not in plain.columns


def test_build_vocab_specials_reserved():
    import pytest

    from amr_kg_spark.operators.tokenize import UNK, build_vocab

    merges = [("a", "b</w>"), ("c", "ab</w>")]
    v = build_vocab(merges, specials=(UNK, "<eod>"))
    assert v[UNK] == 0 and v["<eod>"] == 1
    # real symbols start after the specials and never collide
    assert sorted(v.values()) == list(range(len(v)))
    assert all(
        v[s] >= 2 for s in v if s not in (UNK, "<eod>")
    )
    with pytest.raises(ValueError):
        build_vocab(merges, specials=("<eod>",))  # unk must be id 0


def _rescan_train_bpe(texts, num_merges, min_pair_count):
    """Independent oracle for train_bpe: recount every adjacent pair of
    the whole chunk vocabulary before each merge, take the most frequent
    (lexicographic tie-break), merge it left to right without overlap."""
    from collections import Counter

    vocab = Counter(
        _chunk_symbols(c) for t in texts if t for c in _pretokenize(t)
    )
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += cnt
        if not pairs:
            break
        best, n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_pair_count:
            break
        a, b = best
        nxt = Counter()
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] += cnt
        vocab = nxt
        merges.append(best)
    return merges


_BPE_TEXT = st.one_of(
    st.text(alphabet="ab c.", max_size=16),
    # runs ("aaaa"): overlapping pair occurrences, merged non-overlapping
    st.builds(lambda ch, k: ch * k, st.sampled_from("ab"), st.integers(1, 12)),
)


@settings(max_examples=300, deadline=None)
@given(
    texts=st.lists(_BPE_TEXT, max_size=8),
    num_merges=st.integers(0, 40),
    min_pair_count=st.integers(1, 3),
)
def test_train_bpe_equals_rescan_oracle(texts, num_merges, min_pair_count):
    """The incremental trainer returns the oracle's merge list, including
    ties, runs, zero merges and merge counts past exhaustion."""
    assert train_bpe(texts, num_merges, min_pair_count) == _rescan_train_bpe(
        texts, num_merges, min_pair_count
    )


def test_train_bpe_equals_rescan_oracle_on_corpus(spark):
    texts = _corpus_texts(spark)
    assert train_bpe(texts, 256) == _rescan_train_bpe(texts, 256, 2)


def _python_stage_tasks(spark, group):
    """Tasks run by the stages of job group ``group`` whose operation
    graph holds an ArrowEvalPython node."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()

    def scopes(cluster):
        names = [cluster.name()]
        it = cluster.childClusters().iterator()
        while it.hasNext():
            names += scopes(it.next())
        return names

    tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        for s in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(s)
            root = store.operationGraphForStage(s).rootCluster()
            if info is not None and "ArrowEvalPython" in scopes(root):
                tasks += info.numCompletedTasks
    return tasks


def test_encode_stage_over_persisted_shuffle_is_coalesced(spark):
    """A persisted DataFrame that ends in a shuffle keeps one partition
    per shuffle partition unless AQE may coalesce cached plans; the BPE
    encode stage reading it then runs one Python task per partition,
    each paying PySpark's fixed per-task start-up cost."""
    import uuid

    from amr_kg_spark.operators.textprep import materialize_token_ids
    from amr_kg_spark.operators.tokenize import build_vocab

    texts = [f"doc {i % 17} says the quick brown fox {i}" for i in range(300)]
    docs = (
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
        .dropDuplicates(["text"])
        .persist()
    )
    try:
        assert docs.count() == len(texts)
        merges = train_bpe(texts, num_merges=32)
        vocab = build_vocab(merges, texts)
        group = f"encode-{uuid.uuid4().hex}"
        spark.sparkContext.setJobGroup(group, group)
        materialize_token_ids(
            docs, budget=64, merges=merges, vocab=vocab
        ).write.format("noop").mode("overwrite").save()
        tasks = _python_stage_tasks(spark, group)
    finally:
        docs.unpersist()
    assert 0 < tasks < int(spark.conf.get("spark.sql.shuffle.partitions")), tasks
