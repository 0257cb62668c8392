"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "triples_per_sec": ...}

Execution is measured with the noop sink (full plan runs, no driver
collect). A warmup query amortizes JVM/codegen startup out of the numbers.

Each query is timed as the MIN over $SPARK_GRAFT_BENCH_REPEATS passes
(default 3): this sandbox shows intermittent multi-x slowdowns from
co-tenant interference (walls swing 2-6x while steal reads 0), so a
single-shot wall measures the neighbor, not the plan. Min-of-k is the
standard estimator for the uncontended cost; the per-query MEDIAN is
reported alongside (queries_median) so round-over-round swings are
attributable — a min/median gap flags neighbor noise, a moved min flags
the plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amr_kg_spark.session import get_spark  # noqa: E402
from tools.capture_plans import HEADLINE, headline_queries  # noqa: E402

# round-3 recorded per-query medians (BENCH_r03.json, sf0.1/local[32]) —
# the regression guard's baseline: a round-4+ change must not silently
# double any query's cost. Guarded on the MIN-of-k estimator (robust to
# this box's co-tenant windows) against 2x the r3 MEDIAN.
R3_MEDIANS = {
    "kg_triples": 1.87,
    "kg_mentions": 1.487,
    "kg_reconstruct": 0.434,
    "tpch_q1": 0.51,
    "tpch_q3": 0.695,
    "tpch_q5": 1.502,
    "dp_ngram_jaccard": 3.907,
    "dp_simhash": 1.335,
    "dp_cosine_topk": 0.72,
    "dp_minhash_native": 1.891,
    "dp_token_count": 0.228,
}
# queries added after round 3 guard against their own first calm-window
# recording (same 2x rule)
LATER_MEDIANS = {
    "dp_prep_corpus": 7.15,  # round-6 recording (min-of-3 7.08/7.15/8.08)
    "dp_token_ids": 1.05,  # round-8 first recording (min 0.896 / med 1.046)
    # round-8 first recording (min 1.641 / med 1.855, same run that set
    # the 12.68 s shared-11 record)
    "dp_span_dedup": 1.855,
}
GUARD_MEDIANS = {**R3_MEDIANS, **LATER_MEDIANS}
GUARD_FACTOR = 2.0


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark(app_name="amr-kg-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    queries = headline_queries(spark, sf_dir)

    # warmup: JVM + Arrow + codegen paths
    _run(queries["kg_triples"](spark, sf_dir))

    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    # extra passes only while inside the time budget: a co-tenant slow
    # window must not push the whole bench past the driver's timeout
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "240"))
    bench_t0 = time.monotonic()
    samples: dict[str, list[float]] = {}
    for rep in range(max(1, repeats)):
        if rep > 0 and time.monotonic() - bench_t0 > budget:
            break
        for name in HEADLINE:
            t0 = time.monotonic()
            _run(queries[name](spark, sf_dir))
            wall = round(time.monotonic() - t0, 3)
            samples.setdefault(name, []).append(wall)

    def _median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return round(s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2, 3)

    times = {k: min(v) for k, v in samples.items()}
    medians = {k: _median(v) for k, v in samples.items()}

    # tokenizer throughput (tokens/sec for the full encode+pack plan, on
    # the min-of-k wall): THE budget line item of a 100 TB prep run. The
    # token total is a pure function of (corpus, merge table) — counted
    # once, outside the timed passes.
    from pyspark.sql import functions as SF

    bpe_tokens = (
        queries["dp_token_ids"](spark, sf_dir)
        .agg(SF.sum("n_tokens"))
        .collect()[0][0]
    )

    # triples/sec at this SF (the north-star metric). NOTE: at sandbox SFs
    # this wall is dominated by fixed per-job costs (scheduling, codegen,
    # Python worker spin-up), so the marginal figure below is the honest
    # throughput estimate.
    t0 = time.monotonic()
    n_triples = queries["kg_triples"](spark, sf_dir).count()
    triple_wall = time.monotonic() - t0

    # marginal input throughput of the flagship extraction: least-squares
    # slope of min-wall over FOUR synthetic sizes, repeats interleaved
    # (the bench_scaling.py estimator). Replaces the two-point marginal,
    # which swung 4.8x between rounds on unchanged code purely from box
    # noise (round-6 verdict item #4); the r2 is reported so a corrupted
    # window reads as a bad fit instead of a fake regression.
    turns_marginal = None
    flagship_fit = None
    if time.monotonic() - bench_t0 < budget:
        from bench_scaling import SIZE_MULTIPLIERS, _fit

        from amr_kg_spark.fixtures import synth_transcripts
        from amr_kg_spark.operators.triples import extract_triples

        def flagship(n):
            return extract_triples(
                synth_transcripts(spark, n_turns=n, n_convs=1000, hot_frac=0.1)
            )

        # warm the flagship plan itself (codegen + Arrow workers for THIS
        # shape) so the smallest size's first sample isn't polluted — the
        # same warmup bench_scaling.py's children do
        _run(flagship(200_000))

        sizes = [int(m * 1_200_000) for m in SIZE_MULTIPLIERS]
        walls: dict[int, list[float]] = {n: [] for n in sizes}
        for _ in range(2):
            for n in sizes:
                # re-check inside the loop: a co-tenant slow window must
                # not push the whole bench past the driver's timeout
                if time.monotonic() - bench_t0 > budget:
                    break
                t0 = time.monotonic()
                _run(flagship(n))
                walls[n].append(round(time.monotonic() - t0, 3))
        if all(walls[n] for n in sizes):
            mins = [min(walls[n]) for n in sizes]
            tps, r2 = _fit(sizes, mins)
            turns_marginal = round(tps, 1)
            flagship_fit = {
                "sizes": sizes,
                "min_walls": mins,
                "r2": round(r2, 4),
            }

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_median": medians,
        "passes": {k: len(v) for k, v in samples.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cores": int(cores) if str(cores).isdigit() else cores,
        "triples": n_triples,
        "triples_per_sec": round(n_triples / triple_wall, 2),
        "bpe_tokens": bpe_tokens,
        "bpe_tokens_per_sec": round(bpe_tokens / times["dp_token_ids"], 1),
        "flagship_turns_per_sec_marginal": turns_marginal,
        "flagship_marginal_fit": flagship_fit,
    }
    # regression guard (round-4 item 9): compare the min-of-k estimator at
    # the reference SF against 2x the recorded round-3 median. Only
    # meaningful at the recorded config (sf0.1); guard is skipped elsewhere.
    regressions = {}
    if sf == "0.1" and str(cores) == "32":
        for name, base in GUARD_MEDIANS.items():
            if base is None:  # first recording not yet taken
                continue
            if name in times and times[name] > GUARD_FACTOR * base:
                regressions[name] = {"min": times[name], "baseline_median": base}
    if regressions:
        out["regressions"] = regressions
    print(json.dumps(out))
    spark.stop()
    if regressions and os.environ.get("SPARK_GRAFT_BENCH_GUARD", "strict") == "strict":
        print(f"BENCH GUARD: regression vs round-3 medians: {regressions}",
              file=sys.stderr)
        sys.exit(3)


if __name__ == "__main__":
    main()
