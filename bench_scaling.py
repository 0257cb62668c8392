"""Box-price control job and the marginal-throughput fit.

- ``SIZE_MULTIPLIERS`` / ``_fit``: the marginal estimator behind
  ``bench.py``'s flagship throughput. Throughput is the inverse
  least-squares slope of min wall over four input sizes, which cancels the
  per-job fixed costs (driver scheduling, Python worker start-up, codegen)
  that dominate a sandbox-size wall; the fit's r2 flags a noisy window.
- The control: a fixed-reference job (the flagship triple chain,
  zero Python workers) at a pinned size and core
  count, each run in a fresh pinned JVM. Median control wall over the
  calm baseline is the window's box price.

Usage: python bench_scaling.py --certify-control [k]   (k back-to-back runs)
Child:  python bench_scaling.py --child-one <cores> <n_turns>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# executor Python workers resolve amr_kg_spark via PYTHONPATH, not the
# driver's sys.path — required when the harness runs outside the repo cwd
_REPO = os.path.dirname(os.path.abspath(__file__))
_CHILD_ENV = {
    **os.environ,
    "PYTHONPATH": _REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
}

SIZE_MULTIPLIERS = (0.5, 1.0, 1.5, 2.0)


def _fit(sizes: list[int], mins: list[float]) -> tuple[float, float]:
    mx = sum(sizes) / len(sizes)
    my = sum(mins) / len(mins)
    slope = sum((n - mx) * (w - my) for n, w in zip(sizes, mins)) / sum(
        (n - mx) ** 2 for n in sizes
    )
    intercept = my - slope * mx
    ss_res = sum((w - (slope * n + intercept)) ** 2 for n, w in zip(sizes, mins))
    ss_tot = sum((w - my) ** 2 for w in mins)
    return 1.0 / max(slope, 1e-12), 1.0 - ss_res / max(ss_tot, 1e-12)


def _plan(spark, n_turns: int):
    from amr_kg_spark.fixtures import synth_transcripts
    from amr_kg_spark.operators.mentions import detect_mentions
    from amr_kg_spark.operators.triples import (
        build_triples,
        cooccurrence_pairs,
        resolve_pairs,
    )

    t = synth_transcripts(spark, n_turns=n_turns, n_convs=1000, hot_frac=0.1)
    return build_triples(resolve_pairs(cooccurrence_pairs(detect_mentions(t))))


def child_one(cores: int, n_turns: int) -> None:
    """Run the control job once at one size in this (fresh) JVM, after a
    small warm-up pass, and print its wall."""
    from amr_kg_spark.session import get_spark

    spark = get_spark(app_name=f"control-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    _plan(spark, 200_000).write.format("noop").mode("overwrite").save()
    t0 = time.monotonic()
    _plan(spark, n_turns).write.format("noop").mode("overwrite").save()
    wall = round(time.monotonic() - t0, 3)
    print(json.dumps({"cores": cores, "n_turns": n_turns, "wall": wall}))
    spark.stop()


def _run_child_one(cores: int, n_turns: int) -> float:
    cmd = [sys.executable, __file__, "--child-one", str(cores), str(n_turns)]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, env=_CHILD_ENV)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    print(line, flush=True)
    return json.loads(line)["wall"]


# --- box-condition control (round-7 verdict item #2) ---------------------
# A FIXED-reference job: the jvm-variant flagship (regexp_extract_all, zero
# Python workers — whole-stage codegen only, so its wall tracks raw box
# pricing, not worker-pool effects) at a pinned size/cores. Its wall ratio
# vs the recorded calm baseline measures how much the co-tenant window
# taxes a run, turning "the box degraded across days" into a number.
CONTROL_CORES = 32
CONTROL_TURNS = 6_000_000
# Calm-window baseline: min of the round-8 certification sweep
# (2026-08-17, `--certify-control 5` -> walls 6.129/6.183/6.668/5.722/
# 6.067; consistent with the r1-era 5.0 s and isolate-day 6.9 s records
# for this exact job). Re-certify (and update, with provenance) when the
# box regime shifts; a too-HIGH baseline only makes the price read lower,
# never flattering.
CONTROL_BASELINE_WALL = 5.722


def _control_stats(control_walls: list[float]) -> dict:
    """Summarize control runs into a box-price estimate.
    price = median control wall / calm baseline (>= 1 in a taxed window);
    the MEDIAN, not min, because the price should describe the typical
    condition the measurement samples landed in, while min documents the
    best moment the window offered."""
    s = sorted(control_walls)
    med = s[len(s) // 2] if len(s) % 2 else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2
    out = {
        "control_job": f"jvm@{CONTROL_CORES} n={CONTROL_TURNS}",
        "control_walls": control_walls,
        "control_min": min(s),
        "control_median": round(med, 3),
        "control_baseline": CONTROL_BASELINE_WALL,
    }
    if CONTROL_BASELINE_WALL:
        out["box_price"] = round(med / CONTROL_BASELINE_WALL, 3)
    return out


def main() -> None:
    if sys.argv[1:2] == ["--child-one"]:
        child_one(int(sys.argv[2]), int(sys.argv[3]))
    elif sys.argv[1:2] == ["--certify-control"]:
        # measure the control job k times back-to-back in a window the
        # operator believes is calm; control_min is the baseline candidate
        k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
        ws = [_run_child_one(CONTROL_CORES, CONTROL_TURNS) for _ in range(k)]
        print(json.dumps(_control_stats(ws)))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
