"""Two-cluster-size scaling evidence (north_rule: efficiency >= 0.8
between N and 4N executors; sandbox stand-in: local[8] vs local[32],
each pinned to a matching CPU set so the Python workers share the node
budget exactly as they would on a real 8-core vs 32-core executor host).

Methodology — marginal (slope) throughput: each level runs the identical
flagship job at n and 2n turns (min of REPEATS walls each) and reports

    throughput = n / (wall(2n) - wall(n))

which cancels the per-job fixed costs (driver scheduling, Python worker
pool spin-up, codegen) that otherwise dominate at sandbox sizes — on a
real cluster at 10^12 turns those costs are noise; in a 10-second local
run they are ~70% of the wall. Raw walls are reported alongside.

Usage: python bench_scaling.py [n_turns]         (default 12_000_000)
Child:  python bench_scaling.py --child <cores> <n_turns> <variant>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPEATS = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "2"))

# executor Python workers resolve amr_kg_spark via PYTHONPATH, not the
# driver's sys.path — required when the harness runs outside the repo cwd
_REPO = os.path.dirname(os.path.abspath(__file__))
_CHILD_ENV = {
    **os.environ,
    "PYTHONPATH": _REPO + os.pathsep + os.environ.get("PYTHONPATH", ""),
}


def _plan(spark, detect, n_turns: int):
    from amr_kg_spark.fixtures import synth_transcripts
    from amr_kg_spark.operators.triples import (
        build_triples,
        cooccurrence_pairs,
        resolve_pairs,
    )

    t = synth_transcripts(spark, n_turns=n_turns, n_convs=1000, hot_frac=0.1)
    return build_triples(resolve_pairs(cooccurrence_pairs(detect(t))))


SIZE_MULTIPLIERS = (0.5, 1.0, 1.5, 2.0)


def _measure_slope(spark, detect, n_turns: int) -> dict:
    """Marginal throughput as the least-squares slope of min-wall over FOUR
    input sizes, repeats interleaved round-robin across sizes.

    Two-point (n, 2n) marginals proved too fragile on this box: its speed
    drifts on minute timescales (co-tenant interference with steal reading
    0), and whichever point's repeats land in a slow window corrupts the
    slope. Four sizes x interleaved min-of-REPEATS gives the regression
    slack to reject a bad window; walls for every size are reported so the
    drift is visible in the record."""
    sizes = [int(m * n_turns) for m in SIZE_MULTIPLIERS]
    plans = {n: _plan(spark, detect, n) for n in sizes}
    walls: dict[int, list[float]] = {n: [] for n in sizes}
    for _ in range(REPEATS):
        for n in sizes:
            t0 = time.monotonic()
            plans[n].write.format("noop").mode("overwrite").save()
            walls[n].append(round(time.monotonic() - t0, 3))
    mins = {n: min(walls[n]) for n in sizes}
    mx = sum(sizes) / len(sizes)
    my = sum(mins.values()) / len(sizes)
    slope = sum((n - mx) * (mins[n] - my) for n in sizes) / sum(
        (n - mx) ** 2 for n in sizes
    )
    intercept = my - slope * mx
    ss_res = sum((mins[n] - (slope * n + intercept)) ** 2 for n in sizes)
    ss_tot = sum((mins[n] - my) ** 2 for n in sizes)
    return {
        "sizes": sizes,
        "walls": walls,
        "min_walls": [mins[n] for n in sizes],
        "marginal_turns_per_sec": round(1.0 / max(slope, 1e-12), 1),
        "raw_turns_per_sec": round(sizes[-1] / mins[sizes[-1]], 1),
        # fit quality: < ~0.98 means a co-tenant window corrupted some size's
        # min and the sweep should be re-run
        "r2": round(1.0 - ss_res / max(ss_tot, 1e-12), 4),
    }


def child(cores: int, n_turns: int, variant: str) -> None:
    from amr_kg_spark.operators.mentions import detect_mentions, detect_mentions_jvm
    from amr_kg_spark.session import get_spark

    detect = detect_mentions if variant == "udf" else detect_mentions_jvm
    spark = get_spark(app_name=f"scaling-{variant}-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    warm = _plan(spark, detect, 200_000)  # warmup: workers + codegen
    warm.write.format("noop").mode("overwrite").save()
    m = _measure_slope(spark, detect, n_turns)
    m.update({"variant": variant, "cores": cores, "n_turns": n_turns})
    print(json.dumps(m))
    spark.stop()


def child_one(cores: int, n_turns: int, variant: str, task_cpus: int = 1) -> None:
    """Measure ONE size in a fresh JVM and print its wall — the unit of the
    per-size interleaved estimator (see main --interleaved). ``task_cpus``
    > 1 keeps the pinned core count but divides the concurrent task (and
    Arrow Python worker) count by that factor — the worker-pool isolation
    knob of the --isolate experiment."""
    from amr_kg_spark.operators.mentions import detect_mentions, detect_mentions_jvm
    from amr_kg_spark.session import get_spark

    detect = detect_mentions if variant == "udf" else detect_mentions_jvm
    extra = {"spark.task.cpus": str(task_cpus)} if task_cpus > 1 else None
    spark = get_spark(
        app_name=f"scaling1-{variant}-{cores}", cores=cores, extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    _plan(spark, detect, 200_000).write.format("noop").mode("overwrite").save()
    t0 = time.monotonic()
    _plan(spark, detect, n_turns).write.format("noop").mode("overwrite").save()
    wall = round(time.monotonic() - t0, 3)
    print(
        json.dumps(
            {
                "cores": cores,
                "n_turns": n_turns,
                "wall": wall,
                "task_cpus": task_cpus,
                "variant": variant,
            }
        )
    )
    spark.stop()


def _run_child_one(
    cores: int, n_turns: int, variant: str, task_cpus: int = 1
) -> float:
    cmd = [
        sys.executable, __file__, "--child-one",
        str(cores), str(n_turns), variant, str(task_cpus),
    ]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, env=_CHILD_ENV)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    print(line, flush=True)
    return json.loads(line)["wall"]


ISOLATE_LEVELS = (4, 8, 16, 32)

# --- box-condition control (round-7 verdict item #2) ---------------------
# A FIXED-reference job executed interleaved inside every scaling window:
# the jvm-variant flagship (regexp_extract_all, zero Python workers —
# whole-stage codegen only, so its wall tracks raw box pricing, not the
# worker-pool effects the scaling claim is about) at a pinned size/cores.
# Its wall ratio vs the recorded calm baseline measures how much the
# co-tenant window taxes THIS run, turning the historical "the box
# degraded across days" attribution into a per-run number.
CONTROL_CORES = 32
CONTROL_TURNS = 6_000_000
# Calm-window baseline: min of the round-8 certification sweep
# (2026-08-17, `--certify-control 5` -> walls 6.129/6.183/6.668/5.722/
# 6.067; consistent with the r1-era 5.0 s and isolate-day 6.9 s records
# for this exact job). Re-certify (and update, with provenance) when the
# box regime shifts; a too-HIGH baseline only makes the normalization
# conservative (price reads lower), never flattering.
CONTROL_BASELINE_WALL = 5.722


def _control_stats(control_walls: list[float]) -> dict:
    """Summarize interleaved control runs into a box-price estimate.
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


def isolate(n_base: int, rounds: int) -> None:
    """The round-4 saturation-isolation experiment: separate TOPOLOGY
    (single-socket memory bandwidth) from PLAN (a scaling obstruction in
    the job) by measuring the full marginal-throughput CURVE instead of
    arguing from two points.

    Three controlled comparisons, all per-size interleaved (every
    measurement its own pinned fresh JVM, levels alternated within each
    size so co-tenant windows hit all levels equally):

    1. udf (Arrow pandas detector, cores Python workers) at 4/8/16/32
       pinned cores — where does ITS curve bend?
    2. jvm (regexp_extract_all, ZERO Python workers) at the same levels —
       if the zero-Python variant bends at the same place, the bend is
       memory-bus saturation, not the Python worker pool.
    3. worker-count probe: udf at 32 pinned cores with spark.task.cpus=2
       (16 concurrent tasks -> 16 Arrow workers on the SAME 32 cores) vs
       task.cpus=1 (32 workers). Identical hardware, only the worker
       count varies: if halving the pool barely moves throughput, worker
       count is not the binding resource at 32 cores.

    Per-level input sizes scale with the core count (n ∝ cores), so every
    level's walls sit in the same range and the slope fit is equally
    conditioned."""
    sizes_by_level = {
        lv: [int(m * n_base * lv / 32) for m in SIZE_MULTIPLIERS]
        for lv in ISOLATE_LEVELS
    }
    walls: dict[tuple[str, int, int], list[float]] = {}
    probe: dict[int, list[float]] = {1: [], 2: []}
    probe_n = n_base  # one fixed size for the worker-count probe
    for _ in range(rounds):
        for i in range(len(SIZE_MULTIPLIERS)):
            for lv in ISOLATE_LEVELS:
                for variant in ("udf", "jvm"):
                    n = sizes_by_level[lv][i]
                    w = _run_child_one(lv, n, variant)
                    walls.setdefault((variant, lv, n), []).append(w)
        for tc in (1, 2):
            probe[tc].append(_run_child_one(32, probe_n, "udf", task_cpus=tc))

    curves: dict[str, dict[int, dict]] = {"udf": {}, "jvm": {}}
    for variant in ("udf", "jvm"):
        for lv in ISOLATE_LEVELS:
            ns = sizes_by_level[lv]
            mins = [min(walls[(variant, lv, n)]) for n in ns]
            tps, r2 = _fit(ns, mins)
            curves[variant][lv] = {
                "sizes": ns,
                "min_walls": mins,
                "marginal_turns_per_sec": round(tps, 1),
                "r2": round(r2, 4),
            }

    def eff(variant: str, lo: int, hi: int) -> float:
        return round(
            curves[variant][hi]["marginal_turns_per_sec"]
            / curves[variant][lo]["marginal_turns_per_sec"]
            / (hi / lo),
            3,
        )

    summary = {
        "method": "isolate: 4-level x 2-variant interleaved + worker probe",
        "curves": curves,
        "per_core_tps": {
            v: {
                lv: round(curves[v][lv]["marginal_turns_per_sec"] / lv, 1)
                for lv in ISOLATE_LEVELS
            }
            for v in ("udf", "jvm")
        },
        "efficiency": {
            v: {"4v16": eff(v, 4, 16), "8v32": eff(v, 8, 32)}
            for v in ("udf", "jvm")
        },
        "worker_probe": {
            "n_turns": probe_n,
            "min_wall_32workers": min(probe[1]),
            "min_wall_16workers": min(probe[2]),
            "throughput_ratio_16v32_workers": round(
                min(probe[1]) / min(probe[2]), 3
            ),
        },
    }
    print(json.dumps(summary))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SCALING_RUNS.md", "a") as f:
        f.write(
            "\n## isolation experiment run record (round 4)\n\n```json\n"
            + json.dumps(summary)
            + "\n```\n"
        )


def interleaved(
    n_turns: int, rounds: int, lo: int = 8, hi: int = 32,
    control: bool = False,
) -> None:
    """The drift-robust estimator: ALTERNATE the 8- and 32-core levels at
    PER-SIZE granularity (each measurement its own pinned JVM), so both
    levels sample every co-tenant window equally. Sweep-level alternation
    proved insufficient: a whole sweep (~2-4 min) can land in one window
    and its counterpart in another, spreading the efficiency estimate
    0.68-0.83 across otherwise-identical runs (BENCH/SCALING_RUNS.md).

    ``control=True`` additionally executes the FIXED-reference control job
    once per (round, size) cell, interleaved with the measurements, and
    reports the window's box price (median control wall / calm baseline)
    plus a price-normalized efficiency — eff_norm = eff * max(1, price),
    the explicit linear heuristic the round-7 verdict prescribed: a 0.73
    measured in a 1.15x-priced window reads as ~0.84 normalized. Raw and
    normalized are BOTH recorded; the normalization never replaces the
    raw number, it annotates it with the measured window condition."""
    sizes_hi = [int(m * n_turns) for m in SIZE_MULTIPLIERS]
    walls: dict[tuple[int, int], list[float]] = {}
    control_walls: list[float] = []
    for _ in range(rounds):
        for n_hi in sizes_hi:
            n_lo = n_hi // 2
            w_lo = _run_child_one(lo, n_lo, "udf")
            w_hi = _run_child_one(hi, n_hi, "udf")
            walls.setdefault((lo, n_lo), []).append(w_lo)
            walls.setdefault((hi, n_hi), []).append(w_hi)
            if control:
                control_walls.append(
                    _run_child_one(CONTROL_CORES, CONTROL_TURNS, "jvm")
                )
    out = {}
    for cores in (lo, hi):
        ns = sorted(n for c, n in walls if c == cores)
        mins = [min(walls[(cores, n)]) for n in ns]
        tps, r2 = _fit(ns, mins)
        out[cores] = {"sizes": ns, "min_walls": mins,
                      "marginal_turns_per_sec": round(tps, 1), "r2": round(r2, 4)}
    # normalize by the actual core ratio (lo/hi are CLI parameters)
    eff = (
        out[hi]["marginal_turns_per_sec"]
        / out[lo]["marginal_turns_per_sec"]
        / (hi / lo)
    )
    summary = {
        "method": "per-size interleaved"
        + (" + box-price control" if control else ""),
        "levels": [lo, hi],
        "marginal_tps_local8": out[lo]["marginal_turns_per_sec"],
        "marginal_tps_local32": out[hi]["marginal_turns_per_sec"],
        "r2_local8": out[lo]["r2"], "r2_local32": out[hi]["r2"],
        "speedup": round(out[hi]["marginal_turns_per_sec"] / out[lo]["marginal_turns_per_sec"], 3),
        "scaling_efficiency": round(eff, 3),
        "detail": out,
    }
    if control:
        cs = _control_stats(control_walls)
        summary["control"] = cs
        if "box_price" in cs:
            summary["scaling_efficiency_normalized"] = round(
                eff * max(1.0, cs["box_price"]), 3
            )
    print(json.dumps(summary))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SCALING_RUNS.md", "a") as f:
        f.write("\n## interleaved run record\n\n```json\n"
                + json.dumps(summary) + "\n```\n")


def _run_child(cores: int, n_turns: int, variant: str) -> dict:
    cmd = [sys.executable, __file__, "--child", str(cores), str(n_turns), variant]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, check=True, env=_CHILD_ENV)
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    print(line)
    return json.loads(line)


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


def _merge_walls(acc: dict | None, run: dict) -> dict:
    """Pool wall samples across rounds, recompute per-size mins + slope."""
    if acc is None:
        acc = {"sizes": run["sizes"], "walls": {str(n): [] for n in run["sizes"]}}
        acc.update({k: run[k] for k in ("variant", "cores", "n_turns")})
    for k, ws in run["walls"].items():
        acc["walls"][str(k)].extend(ws)
    mins = [min(acc["walls"][str(n)]) for n in acc["sizes"]]
    tps, r2 = _fit(acc["sizes"], mins)
    acc["min_walls"] = mins
    acc["marginal_turns_per_sec"] = round(tps, 1)
    acc["raw_turns_per_sec"] = round(acc["sizes"][-1] / mins[-1], 1)
    acc["r2"] = round(r2, 4)
    return acc


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--child-one":
        child_one(
            int(sys.argv[2]), int(sys.argv[3]), sys.argv[4],
            int(sys.argv[5]) if len(sys.argv) > 5 else 1,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--isolate":
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 6_000_000
        isolate(n, int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "2")))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--interleaved":
        argv = [a for a in sys.argv[2:] if a != "--control"]
        control = "--control" in sys.argv
        n = int(argv[0]) if len(argv) > 0 else 6_000_000
        lo = int(argv[1]) if len(argv) > 1 else 8
        hi = int(argv[2]) if len(argv) > 2 else 32
        interleaved(
            n, int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "2")),
            lo, hi, control=control,
        )
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--certify-control":
        # measure the control job k times back-to-back in a window the
        # operator believes is calm; the min is the baseline candidate
        k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
        ws = [
            _run_child_one(CONTROL_CORES, CONTROL_TURNS, "jvm")
            for _ in range(k)
        ]
        print(json.dumps({"control_walls": ws, "min": min(ws)}))
        return

    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    rounds = int(os.environ.get("SPARK_GRAFT_SCALING_ROUNDS", "2"))
    # scaling claim: the FLAGSHIP (udf) detector only. The jvm variant is a
    # single-node fast path that saturates a socket's memory bandwidth at
    # 32 local cores and is measured once, absolute, with no efficiency
    # claim attached (on a multi-node cluster each executor has its own
    # memory bus, so its local[32] number is the pessimistic bound).
    # The 8- and 32-core sweeps ALTERNATE across rounds and pool their wall
    # samples, so the efficiency ratio compares the two levels under the
    # same box conditions rather than across different co-tenant windows
    # (the 8-core child sweeps half the sizes for comparable round length).
    udf: dict[int, dict | None] = {8: None, 32: None}
    for _ in range(rounds):
        udf[8] = _merge_walls(udf[8], _run_child(8, n_turns // 2, "udf"))
        udf[32] = _merge_walls(udf[32], _run_child(32, n_turns, "udf"))
    jvm32 = _run_child(32, n_turns, "jvm")

    tp8 = udf[8]["marginal_turns_per_sec"]
    tp32 = udf[32]["marginal_turns_per_sec"]
    eff = (tp32 / tp8) / (32 / 8)
    print(
        json.dumps(
            {
                "variant": "udf",
                "marginal_tps_local8": tp8,
                "marginal_tps_local32": tp32,
                "r2_local8": udf[8]["r2"],
                "r2_local32": udf[32]["r2"],
                "speedup": round(tp32 / tp8, 3),
                "scaling_efficiency": round(eff, 3),
            }
        )
    )

    os.makedirs("BENCH", exist_ok=True)

    def wtxt(r):
        return " / ".join(f"{w:.1f}" for w in r["min_walls"])

    table = (
        f"| udf | {wtxt(udf[8])} | {tp8:,.0f} | "
        f"{wtxt(udf[32])} | {tp32:,.0f} | "
        f"{tp32 / tp8:.2f}x | {eff:.3f} |"
    )
    # append a run record — never rewrite the file (it carries the curated
    # multi-round evidence; clobbering it once cost a round-3 restore)
    with open("BENCH/SCALING_RUNS.md", "a") as f:
        f.write(
            f"""# BENCH — measured numbers (sandbox)

## Scaling evidence (north_rule: efficiency >= 0.8 between N and 4N)

Flagship KG extraction (mention detection -> higher-order co-occurrence
pairs -> literal-map linking -> distinct triples) over synthetic
spark.range-generated transcripts at local[8] pinned to 8 CPUs vs
local[32] pinned to 32 CPUs (taskset — Python UDF workers share the
pinned budget exactly as on a real 8- vs 32-core executor host).
Throughput is MARGINAL: the least-squares slope of per-size min wall over
FOUR input sizes ({'/'.join(str(m) for m in SIZE_MULTIPLIERS)} x
{n_turns:,} turns at 32 cores, half-sizes at 8 cores), with repeats
interleaved round-robin across sizes AND the 8-/32-core sweeps alternated
over {rounds} rounds so both levels pool samples from the same box
conditions. Per-job fixed costs (driver scheduling, worker pool spin-up,
codegen — noise at 10^12-turn scale, a large share of a 10-second sandbox
wall) cancel out of the slope; the four-point regression plus pooled mins
reject the slow-window outliers this box's co-tenancy injects (walls swing
up to 2-6x with steal reading 0 — two-point n/2n marginals were measurably
corrupted by it). Fit quality: R^2 = {udf[8]['r2']} @8, {udf[32]['r2']}
@32.

| detector | local[8] min walls by size (s) | marginal turns/s @8 | local[32] min walls by size (s) | marginal turns/s @32 | speedup | efficiency |
|---|---|---|---|---|---|---|
{table}

## Single-node fast path (NOT a scaling claim)

The **jvm** detector (regexp_extract_all in whole-stage codegen, zero
Python; identical output to udf, asserted in tests) is kept as a local
optimization: ~2x faster per core in absolute terms, but it saturates a
single socket's memory bandwidth well below 32 cores, so it is measured
only at local[32] and carries NO scaling-efficiency claim — marginal
{jvm32['marginal_turns_per_sec']:,.0f} turns/s at 32 pinned cores
(min walls by size: {wtxt(jvm32)} s). On a real multi-node
cluster each executor has its own memory bus, so per-node throughput is
bounded below by this single-socket number.

The extraction has no shuffle before the final distinct (mentions + pairs
are computed inside the scan stage), so scaling is limited only by the
Python-worker pool plus the final dedup exchange — the profile of a
multi-executor cluster, where the mention stage is embarrassingly parallel
across input splits. Caveat: this box shows intermittent co-tenant
slowdowns (walls can swing 2-6x with steal reading 0); all numbers are
min-of-{REPEATS} and the marginal method additionally cancels fixed costs.

## Headline bench (sf0.1, local[32])

`python bench.py` — recorded per-round as BENCH_r*.json by the driver;
each query is min-of-2 passes for the same co-tenancy reason.
The reference publishes no numbers (BASELINE.md): it executes per-row
Python with per-row network calls, O(minutes) for O(10^3) rows.
"""
        )
    print("wrote BENCH/SCALING_RUNS.md")


if __name__ == "__main__":
    main()
