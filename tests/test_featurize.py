"""Deterministic text->embedding featurizer (round-5 verdict item #4):
DuckDB value oracle on the projection arithmetic, plan shape (pure
projection, no UDF/shuffle), banded semantic near-dup vs brute force,
and the end-to-end hookup into dedup_keep_representatives."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F

from amr_kg_spark.operators.featurize import (
    featurize_text,
    semantic_neardup_pairs,
)
from tests.conftest import SF_SMALL

# token hash replica shared with the simhash oracle: first 8 md5 hex
# chars as an unsigned 32-bit int
_TOKS = "list_filter(string_split_regex(lower(text), '\\W+'), t -> t <> '')"
_H = (
    "CAST(list_sum(list_transform(generate_series(1, 8), "
    "p -> (strpos('0123456789abcdef', substr(md5(tok), p, 1)) - 1) "
    "* CAST(POWER(16, 8 - p) AS BIGINT))) AS BIGINT)"
)


def test_featurize_matches_duckdb(spark):
    """emb[j] = sum over distinct tokens of (+1 if bit j of md5-int32
    else -1): integer votes, so DOUBLE equality is exact — full value
    oracle on every dimension of every document."""
    dim = 16
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    got = {
        r.doc_id: list(r.embedding)
        for r in featurize_text(docs, dim=dim).select(
            "doc_id", "embedding"
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet')"
    )
    exp_rows = con.execute(
        f"""
        WITH tk AS (
          SELECT doc_id, list_distinct({_TOKS}) AS toks FROM documents
        ),
        h AS (
          SELECT doc_id,
                 list_transform(toks, tok -> {_H}) AS hs
          FROM tk
        )
        SELECT doc_id,
               list_transform(generate_series(0, {dim - 1}), j ->
                 CAST(list_sum(list_transform(hs, hh ->
                   CASE WHEN (hh >> j) & 1 = 1 THEN 1 ELSE -1 END))
                 AS DOUBLE)) AS emb
        FROM h
        """
    ).fetchall()
    exp = {d: list(e) for d, e in exp_rows}
    assert set(got) == set(exp) and len(got) > 0
    for d in got:
        assert got[d] == exp[d], d


def test_featurize_plan_is_pure_projection(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = featurize_text(docs, dim=32).select("doc_id", "embedding")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan
    assert "Join" not in plan.replace("array_join", "")
    assert "EvalPython" not in plan, "featurizer must be Catalyst-only"


def test_featurize_deterministic_and_degenerate(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, ""), (3, "!!! ...")],
        "doc_id long, text string",
    )
    a = {r.doc_id: list(r.embedding) for r in featurize_text(docs).collect()}
    b = {r.doc_id: list(r.embedding) for r in featurize_text(docs).collect()}
    assert a == b
    assert a[2] == [0.0] * 32, "token-free text embeds as the zero vector"
    assert a[3] == [0.0] * 32
    assert any(v != 0 for v in a[1])


def test_semantic_neardup_vs_bruteforce(spark):
    """Banded RHP candidates + exact rerank vs brute-force all-pairs over
    the same embeddings: precision must be 1.0 (rerank is exact) and
    recall high on this corpus (banding: 8 bands x 8 bits)."""
    from amr_kg_spark.operators.dedup import embedding_neardup_pairs

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    thr = 0.9
    got = {
        (r.id_a, r.id_b)
        for r in semantic_neardup_pairs(docs, threshold=thr).collect()
    }
    emb = featurize_text(docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(
            emb, block_col=None, threshold=thr
        ).collect()
    }
    assert exact, "fixture must contain semantic near-dups at 0.9"
    assert got <= exact, "rerank must kill every false candidate"
    recall = len(got) / len(exact)
    assert recall >= 0.8, (recall, len(got), len(exact))


def test_semantic_dedup_keep_representatives(spark):
    """The job's stage 4.5: precomputed semantic pairs plug into
    dedup_keep_representatives — min-id reps survive, members drop."""
    from amr_kg_spark.operators.dedup import dedup_keep_representatives

    docs = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over the lazy dog again"),
            (12, "completely different content about spark internals"),
        ],
        "doc_id long, text string",
    )
    pairs = semantic_neardup_pairs(docs, threshold=0.9)
    kept = dedup_keep_representatives(docs, pairs=pairs)
    ids = {r.doc_id for r in kept.collect()}
    assert 12 in ids and 10 in ids
    assert 11 not in ids, "near-dup member must drop in favor of min id"


def test_semantic_neardup_plan_never_cartesian(spark):
    """The banded candidate join must plan as an equi join on
    (band, signature) — never a cartesian/broadcast-nested-loop product
    over the corpus (the scale contract of the LSH family)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    out = semantic_neardup_pairs(docs, threshold=0.9)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan.replace("array_join", "")


def test_quality_classifier_separates_and_matches_oracle(spark):
    """The trained linear quality filter: (1) separates held-out prose
    from token-soup junk (AUC), (2) Spark scoring equals a driver-side
    numpy replay of normalize+dot+bias per document, (3) the fit is
    deterministic, (4) scoring is Catalyst-only."""
    import math

    from amr_kg_spark.operators.featurize import (
        featurize_text,
        fit_quality_classifier,
        score_quality,
    )

    prose = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    # deterministic junk: hash-soup tokens, no natural-language structure
    junk = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit("zq"), F.conv(F.hex(F.xxhash64("id", F.lit(i))), 16, 36))
                for i in range(12)
            ],
        ).alias("text"),
    )
    train_pos = prose.filter("doc_id % 2 = 0")
    train_neg = junk.filter("doc_id % 2 = 0")
    w = fit_quality_classifier(train_pos, train_neg, sample_per_class=200)
    assert len(w) == 33
    assert w == fit_quality_classifier(
        train_pos, train_neg, sample_per_class=200
    ), "fit must be deterministic"

    held_pos = score_quality(prose.filter("doc_id % 2 = 1"), w).collect()
    held_neg = score_quality(junk.filter("doc_id % 2 = 1"), w).collect()
    assert held_pos and held_neg
    # AUC via rank statistic
    scores = [(r.quality_logit, 1) for r in held_pos] + [
        (r.quality_logit, 0) for r in held_neg
    ]
    scores.sort()
    n_pos = len(held_pos)
    n_neg = len(held_neg)
    rank_sum = sum(i + 1 for i, (_, y) in enumerate(scores) if y == 1)
    auc = (rank_sum - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    assert auc > 0.9, f"AUC {auc}"

    # value oracle: numpy-free driver replay on a handful of docs
    emb = {
        r.doc_id: r.e
        for r in featurize_text(prose, out_col="e").limit(20).collect()
    }
    got = {
        r.doc_id: r.quality_logit
        for r in score_quality(prose, w).limit(20).collect()
    }
    for did, e in emb.items():
        nrm = math.sqrt(sum(x * x for x in e))
        exp = (
            sum(wi * xi / nrm for wi, xi in zip(w[:32], e)) + w[32]
            if nrm > 0
            else w[32]
        )
        assert abs(got[did] - exp) < 1e-9, did

    plan = score_quality(prose, w)._sc._jvm.PythonSQLUtils.explainString(
        score_quality(prose, w)._jdf.queryExecution(), "formatted"
    )
    assert "EvalPython" not in plan, "scoring must stay JVM-side"


def test_prep_corpus_quality_classifier_stage(tmp_path):
    """--quality-pos end-to-end: the job fits the classifier against a
    prose reference, scores the mixed prose+junk corpus and drops the
    bottom tail — which must be junk-heavy. Packing coordinates carry
    doc_id, so the output parquet shows exactly who survived."""
    import json
    import os
    import subprocess
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYTHONPATH": repo + os.pathsep + os.environ.get("PYTHONPATH", ""),
    }

    words = ("the quick brown fox jumps over a lazy dog and runs through "
             "green fields while birds sing in morning light").split()

    def prose(i, n=18):
        # same word DISTRIBUTION as the reference, but quasi-random order
        # per doc: doc-level n-gram dedup must NOT see these as near-dups
        # (a sliding-window fixture shares most 3-gram shingles and gets
        # collapsed by stage 4 before the classifier is even tested)
        return " ".join(
            words[(j * 17 + i * 29 + j * j * 3) % len(words)]
            for j in range(n)
        )

    def junk(i, n=14):
        return " ".join(
            f"zq{(i * 2654435761 + j * 40503) % 36**5:x}" for j in range(n)
        )

    def write(path, rows):
        pq.write_table(
            pa.table({
                "doc_id": pa.array([i for i, _ in rows], pa.int64()),
                "text": pa.array([t for _, t in rows], pa.string()),
            }),
            path,
        )

    ref = str(tmp_path / "ref.parquet")
    write(ref, [(1000 + i, prose(i + 50)) for i in range(40)])
    # corpus: 20 prose (ids 0-19) + 10 junk (ids 20-29)
    corpus = str(tmp_path / "docs.parquet")
    write(corpus, [(i, prose(i)) for i in range(20)]
          + [(20 + i, junk(i)) for i in range(10)])

    out = str(tmp_path / "packed")
    r = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "prep_corpus.py"),
            "--input", corpus, "--output", out,
            "--min-quality", "0.0", "--min-tokens", "1",
            "--quality-pos", ref, "--quality-drop-bottom", "0.3",
            "--budget", "64",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    stats = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    )
    assert stats["after_quality_clf"] < stats["after_filter"], stats
    survivors = set(
        pq.read_table(out).column("doc_id").to_pylist()
    )
    dropped = set(range(30)) - survivors
    junk_dropped = {d for d in dropped if d >= 20}
    assert dropped, stats
    assert len(junk_dropped) / len(dropped) >= 0.7, (
        f"dropped tail must be junk-heavy: {sorted(dropped)}"
    )


def _dsir_fixture(spark):
    """Target = physics prose; raw = a physics/cooking mix. Vocabulary is
    disjoint across topics so the bucket histograms separate cleanly."""
    phys = [
        "quantum field theory lattice gauge simulation energy spectrum",
        "boson fermion lattice spin operator hamiltonian ground state",
        "gauge symmetry breaking energy operator quantum spectrum",
    ]
    cook = [
        "butter flour sugar oven bake whisk dough golden crust",
        "simmer onion garlic broth season taste ladle serve warm",
    ]
    target = spark.createDataFrame(
        [(i, t) for i, t in enumerate(phys)], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(phys + cook + cook)],
        "doc_id long, text string",
    )
    return target, raw


def test_dsir_weights_separate_topics(spark):
    """fit_dsir_weights + dsir_score: documents from the target topic
    outscore off-topic documents; gram-free documents score exactly 0."""
    from amr_kg_spark.operators.featurize import (
        dsir_score,
        fit_dsir_weights,
    )

    target, raw = _dsir_fixture(spark)
    w = fit_dsir_weights(target, raw, num_buckets=512)
    assert all(isinstance(x, int) for x in w)
    probe = spark.createDataFrame(
        [
            (1, "lattice gauge operator quantum energy"),
            (2, "bake dough butter oven crust"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.dsir_logweight
        for r in dsir_score(probe, w).collect()
    }
    assert got[1] > got[2]
    assert got[3] == 0


def test_dsir_score_matches_duckdb(spark):
    """Integer-exact replay: DuckDB derives the same unigram+bigram
    stream, hashes every gram through the bit-exact string-XXH64 replica,
    buckets with pmod, joins the same weight table and sums — every
    document's dsir_logweight must match Spark's to the last micro-nat."""
    from amr_kg_spark.operators.featurize import (
        dsir_score,
        fit_dsir_weights,
    )
    from amr_kg_spark.queries.xxh64_sql import pmod, signed64
    from amr_kg_spark.queries.xxh64_str_sql import spark_xxhash64_str_steps

    target, raw = _dsir_fixture(spark)
    buckets = 256
    w = fit_dsir_weights(target, raw, num_buckets=buckets)
    got = {
        r.doc_id: r.dsir_logweight
        for r in dsir_score(raw, w).collect()
    }

    con = duckdb.connect()
    import pandas as pd

    con.register("documents", raw.toPandas())
    con.register(
        "wt", pd.DataFrame({"b": range(buckets), "w": w})
    )
    # flat CTE chain for the string hash (the staged-subquery style blows
    # the parser depth — same workaround as the incr-matches oracle)
    ctes = [(
        "grams",
        f"SELECT doc_id, unnest(t) AS g FROM (SELECT doc_id, {_TOKS} AS t FROM documents) "
        "UNION ALL "
        "SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1), "
        "i -> t[i] || ' ' || t[i + 1])) AS g "
        f"FROM (SELECT doc_id, {_TOKS} AS t FROM documents) WHERE len(t) >= 2",
    )]
    cur = "grams"
    for idx, (name, expr) in enumerate(spark_xxhash64_str_steps("g", "gh")):
        ctes.append((f"s{idx}", f"SELECT *, {expr} AS {name} FROM {cur}"))
        cur = f"s{idx}"
    sql = (
        "WITH " + ", ".join(f"{n} AS ({q})" for n, q in ctes)
        + f", bk AS (SELECT doc_id, {pmod(signed64('gh'), buckets)} AS b FROM {cur}) "
        "SELECT bk.doc_id, CAST(coalesce(sum(wt.w), 0) AS BIGINT) "
        "FROM bk JOIN wt ON wt.b = bk.b GROUP BY bk.doc_id"
    )
    want = dict(con.execute(sql).fetchall())
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], d


def test_dsir_select_deterministic(spark):
    """Gumbel top-n: reproducible across invocations, n respected, and
    the kept set skews toward the target distribution (mean importance
    of kept > mean of dropped)."""
    from amr_kg_spark.operators.featurize import (
        dsir_score,
        dsir_select,
        fit_dsir_weights,
    )

    target, raw = _dsir_fixture(spark)
    w = fit_dsir_weights(target, raw, num_buckets=512)
    n = 4
    sel = dsir_select(raw, w, n=n, seed=7)
    plan = sel._sc._jvm.PythonSQLUtils.explainString(
        sel._jdf.queryExecution(), "formatted"
    )
    # the top-n must be per-partition heaps, not a global sort shuffle
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan
    a = sorted(r.doc_id for r in sel.collect())
    b = sorted(r.doc_id for r in dsir_select(raw, w, n=n, seed=7).collect())
    assert a == b and len(a) == n
    scores = {
        r.doc_id: r.dsir_logweight for r in dsir_score(raw, w).collect()
    }
    kept = [scores[d] for d in a]
    dropped = [s for d, s in scores.items() if d not in a]
    assert sum(kept) / len(kept) > sum(dropped) / len(dropped)
