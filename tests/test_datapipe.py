"""Behavioral tests for the approximate / non-SQL-expressible datapipe ops:
MinHash banding pair recall vs exact Jaccard, ANN recall vs brute-force top-k,
and the multimodal plumbing (batch shape + stubbed decode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amr_kg_spark.operators import dedup as D
from amr_kg_spark.operators import multimodal as M
from amr_kg_spark.operators import similarity as S

from tests.conftest import SF_SMALL


def test_ann_recall_vs_bruteforce(spark):
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    exact = [r.vec_id for r in S.cosine_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in S.rhp_ann_topk(emb, q, k=10, bits=8).collect()]
    # the query vector itself must always be found
    assert exact[0] == 0 and approx[0] == 0
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"ANN recall {recall} (exact={exact}, approx={approx})"


def test_ivf_topk_recall_and_pruning(spark):
    """IVF: top-k within the probed clusters only; finds the query vector
    and a reasonable share of the true neighborhood, scanning a fraction
    of the corpus."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    model, assigned = S.fit_ivf(emb, n_clusters=16)
    centroids = [
        (i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())
    ]
    exact = [r.vec_id for r in S.cosine_topk(emb, q, k=10).collect()]
    approx = [
        r.vec_id
        for r in S.ivf_topk_pretrained(emb, q, centroids, k=10, n_probe=4).collect()
    ]
    assert exact[0] == 0 and approx[0] == 0
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"IVF recall {recall} (exact={exact}, approx={approx})"
    # the probe really prunes: every cluster holds < half the corpus
    sizes = assigned.groupBy("cluster").count().collect()
    total = sum(r["count"] for r in sizes)
    assert len(sizes) > 4 and max(r["count"] for r in sizes) < total / 2


def test_media_features_batch_shape(spark):
    media = M.synth_media(spark, SF_SMALL)
    feats = M.extract_features(media).collect()
    assert len(feats) == media.count()
    r = feats[0]
    assert len(r.features) == 8
    assert abs(sum(r.features) - 1.0) < 0.01  # normalized histogram
    assert r.sha and len(r.sha) == 64


def test_decode_stub_raises(spark):
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG...")
    media = M.synth_media(spark, SF_SMALL).limit(1)
    with pytest.raises(Exception, match="NotImplementedError|image decoding"):
        M.extract_features(media, fake_decode=False).collect()


def test_frame_offsets_monotone(spark):
    media = M.synth_media(spark, SF_SMALL)
    rows = M.frame_sample_offsets(media, k=4).collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append((r.frame_no, r.offset))
    for mid, frames in by_media.items():
        frames.sort()
        offs = [o for _, o in frames]
        assert len(offs) == 4
        assert offs == sorted(offs)
        assert all(0 <= o for o in offs)


@pytest.mark.parametrize(
    "num_hashes,bands,threshold",
    # the default r=2 x 16 point, and 8 bands of 1 row (the S-curve of
    # pyspark.ml MinHashLSH with 8 hash tables, dp_minhash_pairs' `ml` row)
    [(32, 16, 0.5), (8, 8, 0.4)],
)
def test_minhash_native_matches_exact_with_high_recall(
    spark, num_hashes, bands, threshold
):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=threshold).collect()
    }
    native = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_pairs_native(
            docs, n=3, num_hashes=num_hashes, bands=bands, threshold=threshold
        ).collect()
    }
    if not exact:
        pytest.skip("no high-jaccard pairs at this SF")
    # exact rerank => every emitted pair has the true jaccard, no false pos
    assert set(native) <= set(exact)
    for k, v in native.items():
        assert v == exact[k]
    recall = len(native) / len(exact)
    assert recall >= 0.8, f"native banding recall {recall}"


def test_fixture_jaccard_margin_guard():
    """The value-oracle equality for the banded MinHash rows (dp_minhash_pairs:
    ml threshold 0.2 / r=1,b=8, native threshold 0.5 / r=2,b=16) holds only
    while no doc pair sits in the recall-risky Jaccard band where a banding
    miss is non-negligible. Nothing in the derivation enforces that margin,
    so codify it: the testdata's pair distribution must stay bimodal —
    everything below 0.1 or above 0.85 (measured gap: <=0.07 vs >=0.888).
    Pure DuckDB — fails loudly if a fixture change erodes the margin."""
    import duckdb

    from amr_kg_spark.queries.datapipe import _exact_jaccard_sql

    for sf in ("0.001", "0.01"):
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'/root/testdata/sf{sf}/documents.parquet'"
        )
        risky = [
            r
            for r in con.sql(_exact_jaccard_sql(0.1)).fetchall()
            if r[2] < 0.85
        ]
        assert not risky, f"sf{sf}: pairs inside the recall-risky band: {risky}"


def test_ivf_pretrained_full_probe_equals_bruteforce(spark):
    """With n_probe == n_clusters the pretrained-quantizer IVF must return
    exactly the brute-force cosine top-k (pruning disabled => exact)."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    q = [float(v) for v in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    cents = sorted(
        (int(r["vec_id"]), [float(v) for v in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    )
    full = S.ivf_topk_pretrained(emb, q, cents, k=5, n_probe=8).collect()
    brute = S.cosine_topk(emb, q, k=5).collect()
    assert [(r.vec_id, r.cosine) for r in full] == [
        (r.vec_id, r.cosine) for r in brute
    ]


def test_dedup_keep_representatives(spark):
    """Corpus-level dedup: every near-dup cluster keeps exactly its min-id
    member; everything else passes through."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    pairs = D.ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    assert pairs, "fixture must contain near-dup pairs"
    kept = D.dedup_keep_representatives(docs, threshold=0.8)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}

    # union-find closure on the driver as the oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for r in pairs:
        ra, rb = find(r.id_a), find(r.id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters = {}
    for x in list(parent):
        clusters.setdefault(find(x), set()).add(x)
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    in_cluster = set().union(*clusters.values()) if clusters else set()
    expected = (all_ids - in_cluster) | {min(c | {rep}) for rep, c in clusters.items()}
    assert kept_ids == expected


@pytest.mark.parametrize("threshold", [0.07, 0.2, 1.0 / 3.0, 0.3333331, 0.5, 0.8])
def test_ngram_jaccard_exactness_vs_bruteforce(spark, threshold):
    """EXACTNESS across awkward thresholds (incl. values where t*sz is an
    exact integer — the fp-ceiling edge): the prefix-filtered join must
    equal the driver-side brute-force Jaccard on (a) a seeded random
    corpus with planted near-dups and (b) a hot-key corpus — 20 docs that
    share one boilerplate header, docs 0 and 1 near-identical. (c) A pair
    at exactly Jaccard 1/3 is kept by this join and by the MinHash rerank
    at t = 1/3 and just below it (a threshold with more than 6 decimals)."""
    import itertools
    import random

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(60)]
    docs = []
    for i in range(24):
        words = [rng.choice(vocab) for _ in range(rng.randint(8, 40))]
        docs.append((i, " ".join(words)))
    # planted near-dups: copy with a small suffix change
    for i in range(3):
        base = docs[i][1]
        docs.append((100 + i, base + " extraword"))
    boilerplate = [
        (i, "common boilerplate header tokens " + (
            "alpha beta gamma " * 3 if i < 2
            else f"unique{i} filler{i} text{i} words{i} "))
        for i in range(20)
    ]

    def shingles(text, n=3):
        toks = [t for t in text.lower().split() if t]
        if len(toks) <= n - 1:
            return {" ".join(toks[0:n])} if toks else set()
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    for corpus in (docs, boilerplate):
        sh = {i: shingles(t) for i, t in corpus}
        expected = set()
        for (a, sa), (b, sb) in itertools.combinations(sorted(sh.items()), 2):
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                expected.add((a, b))

        df = spark.createDataFrame(corpus, "doc_id long, text string")
        got = {
            (r.id_a, r.id_b)
            for r in D.ngram_jaccard_pairs(df, n=3, threshold=threshold).collect()
        }
        assert got == expected, (
            f"t={threshold}: spark-only={got - expected}, missed={expected - got}"
        )
    assert (0, 1) in got

    # "a b c d" / "a b c e": one of two 3-shingles shared, Jaccard 1/3
    pair = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    want = [(1, 2, round(1 / 3, 6))] if 1 / 3 >= threshold else []
    exact = D.ngram_jaccard_pairs(pair, n=3, threshold=threshold)
    banded = D.minhash_pairs_native(pair, n=3, num_hashes=8, bands=8, threshold=threshold)
    assert [[tuple(r) for r in p.collect()] for p in (exact, banded)] == [want, want]


def test_repetition_signals(spark):
    """Gopher-style repetition metrics: hand-checked values on constructed
    docs (pure repetition, no repetition, mixed)."""
    from amr_kg_spark.operators.text import with_signals

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one token repeated
            (2, "alpha beta gamma delta epsilon zeta"),  # all distinct
            (3, "one two three one two three one two three"),  # period-3 loop
        ],
        "doc_id long, text string",
    )
    sig = with_signals(docs).select(
        "doc_id", "dup_ngram_ratio", "dup_token_ratio", "top_token_ratio"
    )
    out = {r.doc_id: r for r in sig.collect()}
    # doc 1: 4 trigrams all identical -> dup 0.75; tokens 6 -> distinct 1
    assert out[1].dup_ngram_ratio == 0.75
    assert out[1].dup_token_ratio == round(1 - 1 / 6, 6)
    assert out[1].top_token_ratio == 1.0
    # doc 2: no repetition anywhere
    assert out[2].dup_ngram_ratio == 0.0
    assert out[2].dup_token_ratio == 0.0
    assert out[2].top_token_ratio == round(1 / 6, 6)
    # doc 3: 9 tokens, 7 trigrams, 3 distinct -> dup 4/7
    assert out[3].dup_ngram_ratio == round(1 - 3 / 7, 6)
    assert out[3].dup_token_ratio == round(1 - 3 / 9, 6)
    assert out[3].top_token_ratio == round(3 / 9, 6)


def test_with_signals_idempotent_under_composition(spark):
    """Re-running with_signals over a frame that already carries signal
    columns (e.g. corpus_filter output fed back in) must replace them, not
    produce duplicate/ambiguous names (round-4 ADVICE #1)."""
    from amr_kg_spark.operators.text import SIGNAL_COLS, with_signals

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(50)
    once = with_signals(docs)
    twice = with_signals(once)
    assert len(twice.columns) == len(set(twice.columns)), twice.columns
    assert twice.columns == once.columns
    for c in SIGNAL_COLS:
        assert twice.columns.count(c) == 1
    # and the values are stable: signals are a function of text only
    a = {tuple(r) for r in once.select("doc_id", *SIGNAL_COLS).collect()}
    b = {tuple(r) for r in twice.select("doc_id", *SIGNAL_COLS).collect()}
    assert a == b


def test_decontaminate_drop_flag_and_plan(spark):
    """Cross-corpus decontamination: planted 3-gram overlap is caught,
    clean docs survive, flag/drop modes agree, and the benchmark side is
    BROADCAST (train shingles never shuffle before the semi-join)."""
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated sentence about spark plans"),
            (3, "another clean document with fresh novel words"),
            (4, "we measure the quick brown fox here too"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "benchmark asks about the quick brown fox behaviour")],
        "doc_id long, text string",
    )
    hits = {
        r.doc_id: r.n_contaminated_ngrams
        for r in D.cross_corpus_overlap(train, bench, n=3).collect()
    }
    # docs 1 and 4 share "the quick brown"/"quick brown fox"; 2,3 are clean
    assert set(hits) == {1, 4} and all(v >= 1 for v in hits.values())
    dropped = D.decontaminate(train, bench, n=3, mode="drop")
    assert {r.doc_id for r in dropped.collect()} == {2, 3}
    flagged = {
        r.doc_id: r.n_contaminated_ngrams
        for r in D.decontaminate(train, bench, n=3, mode="flag").collect()
    }
    assert flagged[2] == 0 and flagged[3] == 0
    assert flagged[1] == hits[1] and flagged[4] == hits[4]
    # scale shape: benchmark shingles broadcast into the semi-join
    plan = dropped._sc._jvm.PythonSQLUtils.explainString(
        D.cross_corpus_overlap(train, bench, n=3)._jdf.queryExecution(),
        "formatted",
    )
    assert "BroadcastExchange" in plan
    assert "LeftSemi" in plan


def test_dedup_lines_planted_boilerplate(spark):
    """Corpus-wide line dedup: a boilerplate banner repeated across docs
    survives only at its first occurrence; unique lines untouched; docs
    reassemble in original order; short-line exemption honored."""
    from amr_kg_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "COOKIE BANNER TEXT\nunique first doc body\n-"),
            (2, "COOKIE BANNER TEXT\nsecond doc says other things\n-"),
            (3, "third doc only original material\nCOOKIE BANNER TEXT"),
            (4, "COOKIE BANNER TEXT"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines(docs, min_chars=3).collect()}
    assert out[1].text_deduped == "COOKIE BANNER TEXT\nunique first doc body\n-"
    assert out[1].n_lines_dropped == 0
    assert out[2].text_deduped == "second doc says other things\n-"
    assert out[2].n_lines_dropped == 1
    assert out[3].text_deduped == "third doc only original material"
    assert out[4].text_deduped == "" and out[4].n_lines_dropped == 1
    # "-" is under min_chars: exempt even though repeated


def test_dedup_lines_matches_duckdb(spark):
    """Value parity on the real corpus (exact-duplicate documents give the
    dedup non-zero support at one-line granularity)."""
    from amr_kg_spark.operators.dedup import dedup_lines

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = {
        (r.doc_id, r.text_deduped, r.n_lines_dropped)
        for r in dedup_lines(docs)
        .select("doc_id", "text_deduped", "n_lines_dropped")
        .collect()
    }
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    )
    exp = set(
        con.execute(
            """
WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
l AS (SELECT doc_id, unnest(ls) AS line,
             unnest(generate_series(1, len(ls))) AS pos FROM t),
r AS (SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
      FROM l),
re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS txt,
              count(*) AS kept
       FROM r WHERE rn = 1 GROUP BY doc_id)
SELECT t.doc_id, coalesce(re.txt, '') AS text_deduped,
       CAST(len(t.ls) - coalesce(re.kept, 0) AS INT) AS n_lines_dropped
FROM t LEFT JOIN re USING (doc_id)
            """
        ).fetchall()
    )
    assert got == exp and len(got) > 0
    # sf0.001's texts are unique single lines, so this corpus checks the
    # no-false-positive side; positive support lives in the planted test


def test_dedup_lines_literal_sep(spark):
    """sep is a LITERAL separator (round-5 ADVICE #2): separators that are
    regex metacharacters ('.', '|') must split on the exact character and
    round-trip through array_join without corrupting segmentation."""
    from amr_kg_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "repeated clause.unique one.tail bit"),
            (2, "repeated clause.other text here.tail bit"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_lines(docs, sep=".", min_chars=3).collect()}
    assert out[1].text_deduped == "repeated clause.unique one.tail bit"
    assert out[1].n_lines_dropped == 0
    assert out[2].text_deduped == "other text here"
    assert out[2].n_lines_dropped == 2

    pipe = spark.createDataFrame(
        [(1, "a longer segment|keep me"), (2, "a longer segment|second doc")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup_lines(pipe, sep="|", min_chars=3).collect()}
    assert got[1].text_deduped == "a longer segment|keep me"
    assert got[2].text_deduped == "second doc" and got[2].n_lines_dropped == 1


def test_dedup_lines_stage_materializes_once(spark):
    """The prep_corpus stage pattern (round-5 verdict item #3): persisting
    the dedup_lines output BEFORE the lines_dropped aggregate means the
    two-shuffle dedup subtree evaluates once — the aggregate and the
    downstream consumer both read the persisted stage. Instrumented with
    an accumulator-counting UDF on the subtree's input: after the first
    materialization its count must not move."""
    from pyspark.sql.types import StringType

    from amr_kg_spark.operators.dedup import dedup_lines

    acc = spark.sparkContext.accumulator(0)

    def _tap(s):
        acc.add(1)
        return s

    tap = F.udf(_tap, StringType()).asNondeterministic()
    base = spark.createDataFrame(
        [(i, f"shared banner line\nbody text number {i}") for i in range(40)],
        "doc_id long, text string",
    ).persist()
    base.count()
    docs = base.withColumn("text", tap("text"))

    deduped = dedup_lines(docs, min_chars=3).persist()
    try:
        deduped.count()  # stage materializes: the UDF runs here
        seen = acc.value
        assert seen >= 40
        # the job's aggregate + downstream consumer reuse the persist
        deduped.agg(F.sum("n_lines_dropped")).collect()
        deduped.drop("text").withColumnRenamed(
            "text_deduped", "text"
        ).count()
        assert acc.value == seen, "line-dedup subtree evaluated again"
    finally:
        deduped.unpersist()
        base.unpersist()


def test_unigram_lm_matches_duckdb(spark):
    """Unigram LM quality scoring (CCNet-style stand-in): the fitted
    (token, logp) table is value-equal to the same derivation in DuckDB,
    and per-document mean logprob / OOV rate agree within float-sum
    tolerance. Plan: LM broadcast into the scoring join."""
    import duckdb

    from amr_kg_spark.operators.text import fit_unigram_lm, unigram_logprob

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    V, MC = 200, 2
    lm = fit_unigram_lm(docs, vocab_size=V, min_count=MC)
    got_lm = {(r.token, round(r.logp, 10)) for r in lm.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    )
    toks = "list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '')"
    exp_lm = {
        (t, round(lp, 10))
        for t, lp in con.execute(
            f"""
            WITH tk AS (SELECT unnest({toks}) AS token FROM documents),
            c AS (SELECT token, count(*) AS n FROM tk GROUP BY token),
            tot AS (SELECT sum(n) AS total FROM c)
            SELECT token, ln(n / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp
            FROM c WHERE n >= {MC}
            ORDER BY n DESC, token LIMIT {V}
            """
        ).fetchall()
    }
    assert got_lm == exp_lm and len(got_lm) > 10  # corpus has <V eligible tokens

    scored = unigram_logprob(docs, lm)
    got = {r.doc_id: r for r in scored.collect()}
    exp = {
        d: (s, o, n)
        for d, s, o, n in con.execute(
            f"""
            WITH tk AS (
              SELECT doc_id, unnest({toks}) AS token FROM documents
            ),
            c AS (SELECT token, count(*) AS n FROM tk GROUP BY token),
            tot AS (SELECT sum(n) AS total FROM c),
            lm AS (
              SELECT token, ln(n / (SELECT CAST(total AS DOUBLE) FROM tot)) AS logp
              FROM c WHERE n >= {MC} ORDER BY n DESC, token LIMIT {V}
            ),
            fl AS (SELECT min(logp) AS floor FROM lm)
            SELECT tk.doc_id,
                   avg(coalesce(lm.logp, (SELECT floor FROM fl))) AS lm_score,
                   avg(CASE WHEN lm.logp IS NULL THEN 1.0 ELSE 0.0 END) AS oov,
                   count(*) AS n
            FROM tk LEFT JOIN lm USING (token)
            GROUP BY tk.doc_id
            """
        ).fetchall()
    }
    assert set(got) == set(exp) and len(got) > 0
    for d, r in got.items():
        s, o, n = exp[d]
        assert abs(r.lm_score - s) < 1e-6, d  # float-sum order tolerance
        assert abs(r.oov_rate - o) < 1e-9, d
        assert r.n_tokens_scored == n, d
    # sanity: natural-language docs outscore a junk doc under this corpus
    junk = spark.createDataFrame(
        [(999999, "zzqx vvkw jjqr pplm wwnb xxcv")], "doc_id long, text string"
    )
    junk_score = unigram_logprob(junk, lm).collect()[0].lm_score
    assert junk_score < min(r.lm_score for r in got.values())
    # plan: LM side broadcast, explode inside the scan stage
    plan = scored._sc._jvm.PythonSQLUtils.explainString(
        scored._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan


def test_xxh64_string_replica_matches_spark(spark):
    """Branch-cover cross-check of the string-XXH64 DuckDB replica
    directly against F.xxhash64: empty, <32-byte, exact stripe
    boundaries, every tail shape (8/4/1-byte lanes), and multi-byte
    UTF-8 (2/3/4-byte codepoints). The hypothesis property in
    test_property.py covers arbitrary unicode against the pure-Python
    reference; this pins the replica to SPARK's implementation."""
    import duckdb

    from amr_kg_spark.queries.xxh64_str_sql import spark_xxhash64_str_sql

    cases = ["", "a", "abc", "é", "ψφ", "𝄞x", "naïve café über",
             "ünïcødé ستريング мир"]
    cases += ["x" * k for k in (7, 8, 9, 15, 16, 31, 32, 33, 40, 63, 64,
                                65, 100)]
    cases += ["the quick brown fox jumps over the lazy dog near the bank"]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i long, s string"
    )
    exp = {r["i"]: r["h"] for r in df.select(
        "i", F.xxhash64("s").alias("h")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i BIGINT, s VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", list(enumerate(cases))
    )
    got = dict(con.execute(
        f"SELECT i, h FROM ({spark_xxhash64_str_sql('SELECT i, s FROM t', 's', 'h')})"
    ).fetchall())
    assert got == exp


def test_fit_unigram_lm_scans_corpus_once(spark):
    """The corpus-scale token-count aggregation inside fit_unigram_lm
    executes exactly once (round-7 verdict item #3): the counts frame is
    persisted before the `total` action and the top-V cut reads the
    cache. Asserted with an accumulator-instrumented RDD source — every
    scan of the input re-runs the mapPartitions, so the accumulator
    counts (scans x partitions)."""
    from amr_kg_spark.operators.text import fit_unigram_lm

    sc = spark.sparkContext
    acc = sc.accumulator(0)

    def bump(it):
        acc.add(1)
        for x in it:
            yield x

    n_parts = 4
    rdd = sc.parallelize(
        [(i, "alpha beta gamma alpha delta") for i in range(40)], n_parts
    ).mapPartitions(bump)
    docs = spark.createDataFrame(rdd, "doc_id long, text string")
    lm = {r.token: r.logp for r in fit_unigram_lm(docs).collect()}
    assert acc.value == n_parts, (
        f"corpus scanned {acc.value / n_parts:.1f}x — must be exactly once"
    )
    import math

    assert set(lm) == {"alpha", "beta", "gamma", "delta"}
    assert abs(lm["alpha"] - math.log(80 / 200)) < 1e-12
    assert abs(lm["beta"] - math.log(40 / 200)) < 1e-12


def test_unigram_lm_empty_guards(spark):
    """Round-6 ADVICE #3: an empty / token-free corpus must fail the LM
    fit loudly (sum over zero rows is NULL), and scoring under an EMPTY
    LM table must short-circuit to the all-NULL frame instead of crashing
    on lit(float(None))."""
    import pytest as _pytest

    from amr_kg_spark.operators.text import fit_unigram_lm, unigram_logprob

    empty = spark.createDataFrame([], "doc_id long, text string")
    with _pytest.raises(ValueError, match="empty corpus"):
        fit_unigram_lm(empty)
    # token-free (punctuation-only) corpus: rows exist, tokens don't
    tokenless = spark.createDataFrame(
        [(1, "!!! ... ???")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="empty corpus"):
        fit_unigram_lm(tokenless)

    empty_lm = spark.createDataFrame([], "token string, logp double")
    docs = spark.createDataFrame(
        [(1, "some words here"), (2, "")], "doc_id long, text string"
    )
    scored = unigram_logprob(docs, empty_lm).orderBy("doc_id").collect()
    assert [r.doc_id for r in scored] == [1, 2]
    assert all(r.lm_score is None and r.oov_rate is None for r in scored)
    assert [r.n_tokens_scored for r in scored] == [3, 0]


def test_dedup_keep_representatives_pairs_validation(spark):
    """Round-6 ADVICE #5: passing pair-building knobs alongside a
    precomputed `pairs` frame raises (they would be silently dropped),
    and a pairs frame without id_a/id_b raises here, not as an opaque
    CC error downstream."""
    import pytest as _pytest

    from amr_kg_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "aaa bbb ccc"), (2, "aaa bbb ccc"), (3, "zzz yyy xxx")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="ignored when a"):
        D.dedup_keep_representatives(docs, pairs=pairs, method="exact")
    with _pytest.raises(ValueError, match="ignored when a"):
        D.dedup_keep_representatives(docs, pairs=pairs, threshold=0.9)
    bad = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="id_a/id_b"):
        D.dedup_keep_representatives(docs, pairs=bad)
    kept = {r.doc_id for r in D.dedup_keep_representatives(docs, pairs=pairs).collect()}
    assert kept == {1, 3}


def test_dedup_keep_representatives_rejects_other_methods(spark):
    """The exact prefix-filtered join is the only pair source: any method
    other than "exact" (or None) raises instead of being ignored."""
    docs = spark.createDataFrame([(1, "aaa bbb ccc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="unknown method 'minhash'"):
        D.dedup_keep_representatives(docs, method="minhash")


def test_remove_duplicate_spans_planted(spark):
    """ExactSubstr policy on planted fixtures: a cross-doc duplicated
    region keeps only its first occurrence and the overlapping k-gram
    intervals merge back into one cut; self-repeats keep the first copy;
    sub-k docs are untouched; overlapping degenerate repeats collapse to
    the single keeper k-gram."""
    from amr_kg_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two beta gamma delta epsilon three"),
            (3, "x y"),
            (4, "p q r junk1 junk2 p q r end"),
            (5, "a a a a a"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=3).collect()}
    # doc 1 is the first occurrence: nothing cut
    assert out[1].text_deduped == "alpha beta gamma delta epsilon zeta"
    assert out[1].n_tokens_removed == 0 and out[1].n_spans_removed == 0
    # doc 2: duplicated 3-grams at pos 2 and 3 -> merged cut [2,5]
    assert out[2].text_deduped == "one two three"
    assert out[2].n_tokens_removed == 4 and out[2].n_spans_removed == 1
    # shorter than k: no fingerprints
    assert out[3].text_deduped == "x y" and out[3].n_tokens_removed == 0
    # within-doc repeat: first copy kept
    assert out[4].text_deduped == "p q r junk1 junk2 end"
    assert out[4].n_tokens_removed == 3 and out[4].n_spans_removed == 1
    # overlapping copies: keeper is the single first k-gram (documented)
    k2 = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, k=2).collect()
    }
    assert k2[5].text_deduped == "a a"[:3] or k2[5].text_deduped == "a"
    assert k2[5].n_tokens_kept + k2[5].n_tokens_removed == 5


def test_remove_duplicate_spans_whitespace_and_guard(spark):
    """Matching is whitespace-insensitive (tab/multi-space copies are
    still exact duplicates) and the rebuilt column is uniformly
    space-joined; k < 2 raises."""
    import pytest as _pytest

    from amr_kg_spark.operators.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "the  quick\tbrown fox stop1 one"),
            (2, "intro the quick brown fox body two"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicate_spans(docs, k=4).collect()}
    # "the quick brown fox" matches across whitespace variants; doc 1
    # (lower id) keeps it, doc 2 loses it
    assert out[1].text_deduped == "the quick brown fox stop1 one"
    assert out[1].n_tokens_removed == 0
    assert out[2].text_deduped == "intro body two"
    assert out[2].n_tokens_removed == 4 and out[2].n_spans_removed == 1
    with _pytest.raises(ValueError):
        remove_duplicate_spans(docs, k=1)


def test_remove_duplicate_spans_python_reference(spark):
    """Third-engine check for ExactSubstr span dedup: a brute-force pure-
    Python reference (dict of k-gram occurrences -> first-occurrence
    keeper -> covered-position union -> rebuild) over the ENTIRE sf0.001
    corpus must agree with the Spark operator on every column of every
    document. Independent of both the Catalyst formulation and the
    DuckDB oracle (which share an author)."""
    import re
    from collections import defaultdict

    from amr_kg_spark.operators.dedup import remove_duplicate_spans

    k = 8
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = {
        r.doc_id: (
            r.text_deduped, r.n_tokens_kept, r.n_tokens_removed,
            r.n_spans_removed,
        )
        for r in remove_duplicate_spans(docs, k=k)
        .select(
            "doc_id", "text_deduped", "n_tokens_kept",
            "n_tokens_removed", "n_spans_removed",
        )
        .collect()
    }

    raw = {
        r.doc_id: r.text
        for r in docs.select("doc_id", "text").collect()
    }
    toks = {
        i: [t for t in re.split(r"\s+", s) if t != ""]
        for i, s in raw.items()
    }
    occ: dict = defaultdict(list)
    for i in sorted(toks):
        ts = toks[i]
        for p in range(len(ts) - k + 1):
            occ[tuple(ts[p:p + k])].append((i, p))
    covered: dict = defaultdict(set)
    for lst in occ.values():
        if len(lst) >= 2:
            keeper = min(lst)
            for i, p in lst:
                if (i, p) != keeper:
                    covered[i].update(range(p, p + k))
    support = 0
    for i, ts in toks.items():
        cut = covered.get(i, set())
        kept = [t for p, t in enumerate(ts) if p not in cut]
        runs = 0
        prev = None
        for p in sorted(cut):
            if prev is None or p != prev + 1:
                runs += 1
            prev = p
        want = (" ".join(kept), len(kept), len(cut), runs)
        assert got[i] == want, (i, got[i], want)
        support += len(cut)
    assert support > 0, "fixture must carry duplicated spans"
