"""Property-based tests (hypothesis) for the detector semantics and the
reconstruction invariant. Spark-touching properties keep max_examples low;
pure-Python detector properties run broadly."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from amr_kg_spark.operators.mentions import compile_detectors

WORD = st.text(alphabet="abcdefghij", min_size=1, max_size=8)
TERMS = st.lists(
    st.text(alphabet="ABCDEFGH", min_size=2, max_size=6),
    min_size=1, max_size=5, unique=True,
)


@settings(max_examples=200, deadline=None)
@given(terms=TERMS, filler=st.lists(WORD, min_size=0, max_size=10))
def test_planted_terms_are_always_found(terms, filler):
    """Any vocabulary term planted with space boundaries is detected."""
    dets = compile_detectors({"x": terms})
    text = " ".join(filler[: len(filler) // 2] + [terms[0]] + filler[len(filler) // 2:])
    found = [m.group(0) for m in dets["x"].finditer(text)]
    assert terms[0] in found


@settings(max_examples=200, deadline=None)
@given(terms=TERMS, text=st.text(alphabet="abcdefghij ", max_size=60))
def test_no_false_positives_on_disjoint_alphabet(terms, text):
    """Lowercase-only text can never match uppercase-only vocabulary."""
    dets = compile_detectors({"x": terms})
    assert list(dets["x"].finditer(text)) == []


@settings(max_examples=100, deadline=None)
@given(
    prefix=st.text(alphabet="ABC", min_size=2, max_size=4),
    suffix=st.text(alphabet="DEF", min_size=1, max_size=3),
)
def test_longest_match_wins_property(prefix, suffix):
    """When one term extends another, the longer term is the match."""
    short, long_ = prefix, f"{prefix} {suffix}"
    dets = compile_detectors({"x": [short, long_]})
    found = [m.group(0) for m in dets["x"].finditer(f"zz {long_} zz")]
    assert found == [long_]


@settings(max_examples=200, deadline=None)
@given(vals=st.lists(st.floats(min_value=0.1, max_value=999.9), min_size=1, max_size=4))
def test_activity_values_roundtrip(vals):
    dets = compile_detectors({})
    text = " and ".join(f"{round(v, 1)} nM" for v in vals)
    found = [m.group(0) for m in dets["activity"].finditer(text)]
    assert found == [f"{round(v, 1)} nM" for v in vals]


def test_reconstruction_invariant_under_random_order(spark):
    """Spark property: any permutation of turn arrival order reconstructs
    identical conversation text (checked via random repartitions)."""
    from amr_kg_spark.fixtures import synth_transcripts
    from amr_kg_spark.operators.reconstruct import conversation_text

    t = synth_transcripts(spark, n_turns=500, n_convs=20)
    baseline = {r.conv_id: r.conv_text for r in conversation_text(t).collect()}
    for seed_col in ("text", "role", "ts"):
        shuffled = t.repartition(13, seed_col)
        got = {r.conv_id: r.conv_text for r in conversation_text(shuffled).collect()}
        assert got == baseline


# reference XXH64 (one 8-byte lane / one 4-byte lane + avalanche) — the
# same arithmetic Spark's F.xxhash64 implements; used to property-check
# the staged DuckDB SQL replica over the full signed-long domain
_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h):
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    return h ^ (h >> 32)


def _xxh64_long(v, seed):
    v &= _M
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
    return _fmix(((_rotl(h, 27) * _P1) + _P4) & _M)


def _xxh64_int(v, seed):
    h = (seed + _P5 + 4) & _M
    h ^= ((v & 0xFFFFFFFF) * _P1) & _M
    return _fmix(((_rotl(h, 23) * _P2) + _P3) & _M)


def _signed(u):
    return u - (1 << 64) if u >= (1 << 63) else u


@settings(max_examples=20, deadline=None)
@given(
    vals=st.lists(
        st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
        min_size=1, max_size=50, unique=True,
    )
)
def test_xxh64_duckdb_replica_matches_reference(vals):
    """The staged DuckDB SQL computes Spark's xxhash64 bit-exactly across
    the FULL signed-long domain (negative ids, extremes) for both the
    long lane and the chained long+int-literal shape — the foundation the
    dp_textprep pack/sample/mix oracles stand on."""
    import duckdb

    from amr_kg_spark.queries.xxh64_sql import (
        spark_xxhash64_long_int_sql,
        spark_xxhash64_long_sql,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got1 = dict(
        con.execute(
            f"SELECT v, h FROM ({spark_xxhash64_long_sql('SELECT * FROM t', 'v', 'h')})"
        ).fetchall()
    )
    got2 = dict(
        con.execute(
            f"SELECT v, h FROM ({spark_xxhash64_long_int_sql('SELECT * FROM t', 'v', 42, 'h')})"
        ).fetchall()
    )
    for v in vals:
        assert got1[v] == _signed(_xxh64_long(v, 42))
        assert got2[v] == _signed(_xxh64_int(42, _xxh64_long(v, 42)))


def _round64(acc, lane):
    return (_rotl((acc + (lane * _P2 & _M)) & _M, 31) * _P1) & _M


def _xxh64_bytes(b: bytes, seed: int = 42) -> int:
    """Full reference XXH64 over a byte string (stripes + merge + tail) —
    the algorithm Spark's F.xxhash64 applies to a StringType column's
    UTF-8 bytes. Pure-Python oracle for the DuckDB string replica."""
    n = len(b)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & _M, (seed + _P2) & _M,
            seed & _M, (seed - _P1) & _M,
        ]
        while i + 32 <= n:
            for k in range(4):
                lane = int.from_bytes(b[i + 8 * k:i + 8 * k + 8], "little")
                v[k] = _round64(v[k], lane)
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for vk in v:
            h = (((h ^ _round64(0, vk)) * _P1) + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        lane = int.from_bytes(b[i:i + 8], "little")
        h = ((_rotl(h ^ _round64(0, lane), 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(b[i:i + 4], "little")
        h = ((_rotl(h ^ ((lane * _P1) & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ ((b[i] * _P5) & _M), 11) * _P1) & _M
        i += 1
    return _fmix(h)


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=120))
def test_xxh64_string_duckdb_replica_matches_reference(text):
    """The string-XXH64 DuckDB replica (queries/xxh64_str_sql.py — UTF-8
    byte derivation, list_reduce stripe loop, unrolled tail) computes the
    full reference algorithm bit-exactly for ARBITRARY unicode input —
    the foundation of the dp_dedup_corpus `incr` value oracle. (Spark
    agreement is covered by test_datapipe's branch-cover cross-check and
    transitively by the driver's hash compare.)"""
    import duckdb

    from amr_kg_spark.queries.xxh64_str_sql import spark_xxhash64_str_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE t (s VARCHAR)")
    con.execute("INSERT INTO t VALUES (?)", [text])
    got = con.execute(
        f"SELECT h FROM ({spark_xxhash64_str_sql('SELECT * FROM t', 's', 'h')})"
    ).fetchone()[0]
    assert got == _signed(_xxh64_bytes(text.encode("utf-8")))


# fixed training corpus for the BPE properties — pure Python, no Spark
_BPE_TRAIN = [
    "the quick brown fox jumps over the lazy dog",
    "the engine packs the corpus into sequences",
    "tokenizers merge frequent pairs of characters repeatedly",
    "spark executes the plan the optimizer picks",
] * 4


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=200))
def test_bpe_encode_properties(text):
    """For ARBITRARY unicode input: the greedy lowest-rank encoder (a)
    agrees with sequentially applying the merge list in rank order — two
    different algorithms, one answer; (b) is lossless (tokens minus
    end-of-word marks concatenate back to the input); (c) never merges
    across pre-token chunk boundaries (every token maps inside one
    chunk)."""
    from amr_kg_spark.operators.tokenize import (
        END_OF_WORD,
        _chunk_symbols,
        _pretokenize,
        bpe_encode,
        merge_ranks,
        train_bpe,
    )

    merges = train_bpe(_BPE_TRAIN, num_merges=64)
    ranks = merge_ranks(merges)
    got = bpe_encode(text, ranks)

    # (a) sequential-merge oracle
    exp = []
    for chunk in _pretokenize(text):
        syms = list(_chunk_symbols(chunk))
        for a, b in merges:
            i, out = 0, []
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        exp.extend(syms)
    assert got == exp

    # (b) lossless modulo end-of-word marks (skip inputs that contain the
    # literal marker — it would be ambiguous by construction)
    if END_OF_WORD not in text:
        assert "".join(got).replace(END_OF_WORD, "") == "".join(
            _pretokenize(text)
        ) == text if _pretokenize(text) else True

    # (c) one end-of-word mark per chunk, at most one per token
    assert sum(t.count(END_OF_WORD) for t in got) == len(
        [c for c in _pretokenize(text) if c]
    )


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(codec="utf-8"), max_size=200))
def test_bpe_encode_ids_properties(text):
    """For ARBITRARY unicode input the id encoder (a) never errors and
    emits one id per bpe_encode token, (b) keeps every id inside the
    vocab's dense range, (c) emits <unk>=0 exactly for the tokens outside
    the vocab, and (d) with the training sample folded into the vocab,
    training-sample text never maps to <unk>."""
    from amr_kg_spark.operators.tokenize import (
        bpe_encode,
        bpe_encode_ids,
        build_vocab,
        merge_ranks,
        train_bpe,
    )

    merges = train_bpe(_BPE_TRAIN, num_merges=64)
    ranks = merge_ranks(merges)
    vocab = build_vocab(merges, _BPE_TRAIN)
    toks = bpe_encode(text, ranks)
    ids = bpe_encode_ids(text, ranks, vocab)
    assert len(ids) == len(toks)
    assert all(0 <= i < len(vocab) for i in ids)
    for t, i in zip(toks, ids):
        assert (i == 0) == (t not in vocab), (t, i)
    for sample in _BPE_TRAIN[:3]:
        assert 0 not in bpe_encode_ids(sample, ranks, vocab)


def _ref_span_dedup(texts: dict, k: int) -> dict:
    """Pure-python ExactSubstr reference (same policy as the full-corpus
    check in test_datapipe): first-occurrence keeper by (id, pos),
    covered-position union, contiguous-run span count."""
    import re
    from collections import defaultdict

    toks = {
        i: [t for t in re.split(r"\s+", s) if t != ""]
        for i, s in texts.items()
    }
    occ = defaultdict(list)
    for i in sorted(toks):
        ts = toks[i]
        for p in range(len(ts) - k + 1):
            occ[tuple(ts[p:p + k])].append((i, p))
    covered = defaultdict(set)
    for lst in occ.values():
        if len(lst) >= 2:
            keeper = min(lst)
            for i, p in lst:
                if (i, p) != keeper:
                    covered[i].update(range(p, p + k))
    out = {}
    for i, ts in toks.items():
        cut = covered.get(i, set())
        kept = [t for p, t in enumerate(ts) if p not in cut]
        runs, prev = 0, None
        for p in sorted(cut):
            if prev is None or p != prev + 1:
                runs += 1
            prev = p
        out[i] = (" ".join(kept), len(kept), len(cut), runs)
    return out


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc"]), min_size=0, max_size=12),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=3),
)
def test_span_dedup_matches_reference_on_degenerate_corpora(
    spark, docs, k
):
    """Adversarial property: tiny 3-word alphabets force heavy k-gram
    collisions, overlapping self-repeats and cross-doc chains — the
    regime where interval-merge bookkeeping breaks if it is going to.
    The Spark operator must equal the brute-force reference on every
    column of every document."""
    from amr_kg_spark.operators.dedup import remove_duplicate_spans

    texts = {i: " ".join(ws) for i, ws in enumerate(docs)}
    frame = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (
            r.text_deduped, r.n_tokens_kept, r.n_tokens_removed,
            r.n_spans_removed,
        )
        for r in remove_duplicate_spans(frame, k=k).collect()
    }
    assert got == _ref_span_dedup(texts, k)


_THRESHOLD = st.one_of(
    # awkward values: fp products like 0.07*100 = 7.000000000000001 and
    # non-terminating ratios such as 1/3
    st.sampled_from([0.07, 0.1, 0.2, 0.3, 1.0 / 3.0, 0.5, 0.7, 0.8, 0.9, 1.0]),
    st.floats(min_value=0.01, max_value=1.0),
)


@settings(max_examples=25, deadline=None)
@given(
    t=_THRESHOLD,
    sizes=st.lists(
        st.tuples(st.integers(1, 10 ** 6), st.integers(1, 10 ** 6)),
        min_size=1, max_size=30,
    ),
)
def test_jaccard_join_bounds_are_exact(spark, t, sizes):
    """The prefix length, the length filter and the positional overlap
    bound of ngram_jaccard_pairs equal their exact values for the
    rational t = Fraction(str(t)), for any threshold and set sizes."""
    import math
    from fractions import Fraction

    from amr_kg_spark.operators.dedup import (
        _length_ok, _overlap_bound, _prefix_len,
    )

    r = Fraction(str(t))
    rows = (
        spark.createDataFrame(sizes, "sz_a int, sz_b int")
        .select(
            "sz_a", "sz_b",
            _prefix_len("sz_a", t).alias("prefix"),
            _length_ok(t).alias("length_ok"),
            _overlap_bound(t).alias("alpha"),
        )
        .collect()
    )
    for x in rows:
        a, b = x.sz_a, x.sz_b
        assert x.prefix == a - math.ceil(r * a) + 1, (t, a)
        assert x.length_ok == (min(a, b) >= r * max(a, b)), (t, a, b)
        assert x.alpha == math.ceil(r / (1 + r) * (a + b)), (t, a, b)
