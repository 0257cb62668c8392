"""Incremental (cross-ingest) deduplication: a new crawl batch is deduped
against the persisted fingerprint state of everything already accepted —
exact (8-byte xxhash64/doc) and near-dup (MinHash signature/doc with
Jaccard-ESTIMATE rerank, since the accepted text is gone by design)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from amr_kg_spark.operators.dedup import (
    corpus_fingerprints,
    incremental_dedup,
    incremental_matches,
    minhash_pairs_native,
    read_fingerprint_meta,
    write_fingerprint_meta,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "training data pipelines deduplicate every new crawl increment"),
    (3, "completely unrelated document about astronomy and telescopes"),
    (4, "short doc"),
]


def test_incremental_exact(spark):
    corpus = _docs(spark, CORPUS)
    fps = corpus_fingerprints(corpus)  # exact
    assert fps.columns == ["id", "fp"]
    # fingerprints are a pure function of the text: recomputing matches
    f1 = {r.id: r.fp for r in fps.collect()}
    f2 = {r.id: r.fp for r in corpus_fingerprints(corpus).collect()}
    assert f1 == f2 and len(set(f1.values())) == len(CORPUS)

    new = _docs(spark, [
        (101, CORPUS[0][1]),          # re-crawl of doc 1
        (102, CORPUS[2][1]),          # re-crawl of doc 3
        (103, "a genuinely fresh document about sailing and knots"),
        (104, "another novel page with its own words entirely"),
    ])
    m = incremental_matches(new, fps).collect()
    assert {(r.new_id, r.corpus_id) for r in m} == {(101, 1), (102, 3)}
    assert all(r.est_jaccard == 1.0 for r in m)
    kept = {r.doc_id for r in incremental_dedup(new, fps).collect()}
    assert kept == {103, 104}
    # day-over-day state update: union the survivors' fingerprints, then
    # a re-crawl of an ACCEPTED increment doc is caught next day
    accepted = incremental_dedup(new, fps)
    fps2 = fps.unionByName(corpus_fingerprints(accepted))
    day2 = _docs(spark, [(201, CORPUS[1][1]), (202, "sailing and knots"),
                         (203, new.filter("doc_id=103").first().text)])
    kept2 = {r.doc_id for r in incremental_dedup(day2, fps2).collect()}
    assert kept2 == {202}, "both the old-corpus and day-1 re-crawls drop"


def test_incremental_minhash(spark):
    corpus = _docs(spark, CORPUS)
    fps = corpus_fingerprints(corpus, method="minhash")
    assert fps.columns == ["id", "sig"]
    near = CORPUS[0][1].replace("lazy", "sleepy")  # 1-word edit, near-dup
    new = _docs(spark, [
        (101, CORPUS[1][1]),   # identical re-crawl
        (102, near),           # near-dup of doc 1
        (103, "entirely new content on baking sourdough bread at home"),
    ])
    m = {(r.new_id, r.corpus_id): r.est_jaccard
         for r in incremental_matches(new, fps, method="minhash").collect()}
    assert m[(101, 2)] == 1.0, "identical doc estimates jaccard 1.0"
    assert (102, 1) in m and m[(102, 1)] >= 0.5
    # estimator sanity: within ~3 stderr (k=32) of the true jaccard
    import re

    def shingles(t):
        toks = [x for x in re.split(r"\W+", t.lower()) if x]
        return {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)}

    a, b = shingles(CORPUS[0][1]), shingles(near)
    true_j = len(a & b) / len(a | b)
    assert abs(m[(102, 1)] - true_j) <= 0.27
    assert not any(nid == 103 for nid, _ in m), "fresh doc matches nothing"
    kept = {r.doc_id
            for r in incremental_dedup(new, fps, method="minhash").collect()}
    assert kept == {103}


def test_incremental_plan_shape(spark):
    """Scale contract: the INCREMENT side broadcasts (fingerprint table
    scans once, never shuffles for the match), nothing goes cartesian,
    everything stays JVM-side."""
    corpus = _docs(spark, CORPUS)
    for method in ("exact", "minhash"):
        fps = corpus_fingerprints(corpus, method=method)
        out = incremental_dedup(
            _docs(spark, [(101, CORPUS[0][1])]), fps, method=method
        )
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastExchange" in plan, method
        assert "CartesianProduct" not in plan, method
        assert "BroadcastNestedLoopJoin" not in plan, method
        assert "EvalPython" not in plan, f"{method}: must be Catalyst-only"


def test_banding_divisibility_guards(spark):
    """bands must divide num_hashes (round-7 verdict item #5): a remainder
    would silently compute, shuffle and drop the tail signature slots,
    shifting the effective banding threshold."""
    corpus = _docs(spark, CORPUS)
    with pytest.raises(ValueError, match="divide"):
        minhash_pairs_native(corpus, num_hashes=32, bands=12)
    fps = corpus_fingerprints(corpus, method="minhash", num_hashes=16)
    new = _docs(spark, [(101, CORPUS[0][1])])
    with pytest.raises(ValueError, match="divide"):
        incremental_matches(
            new, fps, method="minhash", num_hashes=16, bands=5
        )
    # the valid operating point still matches the re-crawl
    m = incremental_matches(
        new, fps, method="minhash", num_hashes=16, bands=8
    ).collect()
    assert {(r.new_id, r.corpus_id) for r in m} == {(101, 1)}


def test_state_width_and_schema_validation(spark):
    """A persisted state whose signature width differs from num_hashes
    must raise up front — zip_with would pad with NULLs and silently
    drop every candidate (round-7 ADVICE #1); exact-schema state passed
    to the minhash matcher raises on the missing sig column."""
    corpus = _docs(spark, CORPUS)
    new = _docs(spark, [(101, CORPUS[0][1])])
    fps16 = corpus_fingerprints(corpus, method="minhash", num_hashes=16)
    with pytest.raises(ValueError, match="16-slot"):
        incremental_matches(new, fps16, method="minhash")  # default k=32
    fpe = corpus_fingerprints(corpus)  # exact (id, fp)
    with pytest.raises(ValueError, match="sig"):
        incremental_matches(new, fpe, method="minhash")


def test_fingerprint_meta_sidecar(spark, tmp_path):
    """The _meta sidecar records the parameters the state was built with
    (round-7 ADVICE #2): readable via read_fingerprint_meta, invisible to
    a plain parquet read of the state, absent -> None."""
    corpus = _docs(spark, CORPUS)
    p = str(tmp_path / "fp")
    corpus_fingerprints(
        corpus, method="minhash", num_hashes=16
    ).write.parquet(p)
    write_fingerprint_meta(
        spark, p, "minhash", num_hashes=16, n=3, preserve_newlines=True
    )
    assert read_fingerprint_meta(spark, p) == {
        "method": "minhash",
        "num_hashes": 16,
        "n": 3,
        "preserve_newlines": True,
        "spans_k": None,
    }
    assert sorted(spark.read.parquet(p).columns) == ["id", "sig"]
    assert read_fingerprint_meta(spark, str(tmp_path / "missing")) is None


def test_fingerprint_meta_corrupt_sidecar_raises(spark, tmp_path):
    """Only a MISSING sidecar reads as None: an unreadable one must raise,
    not pass for "no sidecar" and silently skip the --dedup-against
    parameter checks."""
    meta = tmp_path / "fp" / "_meta"
    meta.mkdir(parents=True)
    (meta / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception):
        read_fingerprint_meta(spark, str(tmp_path / "fp"))


def test_prep_corpus_two_increment_flow(tmp_path):
    """The daily-ingest loop end-to-end in fresh JVMs: increment 1 emits
    the accepted corpus's fingerprint state; increment 2 carries re-crawls
    of increment-1 documents (new ids, same text) plus fresh pages, runs
    with --dedup-against, and must drop exactly the re-crawls."""
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

    def write_docs(path, rows):
        pq.write_table(
            pa.table({
                "doc_id": pa.array([i for i, _ in rows], pa.int64()),
                "text": pa.array([t for _, t in rows], pa.string()),
            }),
            path,
        )

    def run(inp, out, extra):
        r = subprocess.run(
            [
                sys.executable, os.path.join(repo, "jobs", "prep_corpus.py"),
                "--input", inp, "--output", out,
                "--min-quality", "0.0", "--min-tokens", "1",
                "--budget", "64", *extra,
            ],
            capture_output=True, text=True, env=env, timeout=600,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(
            [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
        )

    day1 = [
        (i, " ".join(f"dayone{i}w{j}" for j in range(15))) for i in range(10)
    ]
    d1 = str(tmp_path / "day1.parquet")
    write_docs(d1, day1)
    fp1 = str(tmp_path / "fp1")
    s1 = run(d1, str(tmp_path / "out1"), ["--emit-fingerprints", fp1])
    assert s1["fingerprints_emitted"] == s1["after_dedup"] == 10

    # day 2: 4 re-crawls of day-1 docs (new ids) + 6 fresh pages
    day2 = [(100 + i, day1[i][1]) for i in range(4)] + [
        (200 + i, " ".join(f"daytwo{i}w{j}" for j in range(15)))
        for i in range(6)
    ]
    d2 = str(tmp_path / "day2.parquet")
    write_docs(d2, day2)
    fp2 = str(tmp_path / "fp2")
    s2 = run(d2, str(tmp_path / "out2"),
             ["--dedup-against", fp1, "--emit-fingerprints", fp2])
    assert s2["rows_in"] == 10
    assert s2["after_incremental_dedup"] == 6, s2
    assert s2["fingerprints_emitted"] == 6
    # the day-2 state covers only day-2 survivors; union with day-1 state
    # is the caller's next-day input (documented contract) — both tables
    # share the exact-fp schema so the union is well-formed
    t1, t2 = pq.read_table(fp1), pq.read_table(fp2)
    assert t1.schema.equals(t2.schema)
    assert set(t1.column_names) == {"id", "fp"}
    # the emitted state carries the _meta sidecar (round-7 ADVICE #2)...
    meta = pq.read_table(fp1 + "/_meta").to_pylist()[0]
    assert meta["method"] == "exact" and meta["preserve_newlines"] is False
    # ...and an increment run in a DIFFERENT normalization space
    # (--dedup-lines changes preserve_newlines) is refused, not silently
    # matched in the wrong text space
    r = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "prep_corpus.py"),
            "--input", d2, "--output", str(tmp_path / "out3"),
            "--min-quality", "0.0", "--min-tokens", "1", "--budget", "64",
            "--dedup-against", fp1, "--dedup-lines", "5",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode != 0
    assert "preserve_newlines" in (r.stderr + r.stdout)
    # ...as is an increment whose --dedup-spans setting differs from the
    # state's (span removal rewrites the text before fingerprinting)
    r = subprocess.run(
        [
            sys.executable, os.path.join(repo, "jobs", "prep_corpus.py"),
            "--input", d2, "--output", str(tmp_path / "out4"),
            "--min-quality", "0.0", "--min-tokens", "1", "--budget", "64",
            "--dedup-against", fp1, "--dedup-spans", "8",
        ],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode != 0
    assert "dedup-spans" in (r.stderr + r.stdout)
