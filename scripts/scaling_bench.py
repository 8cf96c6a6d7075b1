#!/usr/bin/env python
"""Two-cluster-size scaling evidence for the north rule.

The rule requires throughput scaling efficiency >= 0.8 between N and 4N
executors. No real cluster exists in this sandbox, so the proxy
(BASELINE.md / SURVEY.md §6) is the SAME job on the SAME input at two
parallelism levels, each launched as its own ``spark-submit --py-files``
process (the north-rule launch mode), warm-up runs excluded.

Headline pair: ``local[2]`` vs ``local[8]`` (N and 4N cores). Below ~16
threads a local[] run is CPU-bound like a real executor; beyond that a
single machine serializes on shared memory bandwidth and the one driver
JVM, which a real multi-host cluster does not share — so 2→8 is the
faithful proxy for executor-count scaling, and the full 2→32 curve is
reported alongside with that analysis.

    efficiency = (rows_per_sec[4N] / rows_per_sec[N]) / 4

Writes BENCH.md and prints one JSON summary line.

Usage: python scripts/scaling_bench.py [--rows 600000] [--hw 64]
           [--levels 2,8] [--curve-levels 4,16,32] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def build_zip(dest: Path) -> Path:
    zpath = dest / "engine.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = REPO / "dcc_validate_metadata_spark"
        for p in sorted(pkg.rglob("*.py")):
            z.write(p, p.relative_to(REPO))
    return zpath


def ensure_table(rows: int, hw: int) -> str:
    from dcc_validate_metadata_spark.sources.image_table import CONTENT_VERSION

    path = f"/tmp/dcc_vm_scale_n{rows}_hw{hw}_s42_b8_v{CONTENT_VERSION}"
    marker = Path(path) / "_SUCCESS_GEN"
    if marker.exists():
        return path
    from dcc_validate_metadata_spark.session import get_spark
    from dcc_validate_metadata_spark.sources.image_table import (
        generate_image_table_distributed,
    )

    spark = get_spark("scaling-gen")
    generate_image_table_distributed(spark, path, n_rows=rows, hw=hw)
    spark.stop()
    marker.touch()
    return path


def prewarm_page_cache(table: str) -> None:
    for p in Path(table).rglob("*.parquet"):
        p.read_bytes()


def run_level(zpath: Path, table: str, cores: int, warmup: int, runs: int) -> dict:
    cmd = [
        "spark-submit",
        "--master",
        f"local[{cores}]",
        "--conf",
        "spark.driver.memory=16g",
        "--py-files",
        str(zpath),
        str(REPO / "scripts" / "scaling_worker.py"),
        table,
        str(cores),
        str(warmup),
        str(runs),
    ]
    # 1 warm-up + 5 timed runs at ~240 s (local[2], real-codec workload)
    # plus JVM start needs ~1600 s; 4200 leaves honest headroom
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=4200, check=False)
    for line in out.stdout.splitlines():
        if line.startswith("SCALING_RESULT "):
            return json.loads(line[len("SCALING_RESULT ") :])
    raise RuntimeError(
        f"worker local[{cores}] produced no result:\n"
        f"stdout tail: {out.stdout[-2000:]}\nstderr tail: {out.stderr[-2000:]}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    # hw 64->32 in round 4: the jpeg leg became real baseline-JFIF entropy
    # decode (~5x the per-row CPU of the old 64x64 deflate stand-in).
    ap.add_argument("--rows", type=int, default=600_000)
    ap.add_argument("--hw", type=int, default=32)
    ap.add_argument("--levels", default="2,8", help="headline N,4N pair")
    ap.add_argument(
        "--curve-levels",
        default="4,16,32",
        help="extra levels for the appendix curve ('' to skip)",
    )
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument(
        "--interleave",
        type=int,
        default=0,
        metavar="K",
        help="headline mode for a noisy host: run the N/4N pair "
        "back-to-back K times (fresh JVM each, 1 warm-up inside each), "
        "compute the per-pair efficiency, and report the median pair — "
        "slowly-varying external load then hits both levels of a pair "
        "equally and cancels in the ratio",
    )
    args = ap.parse_args()
    headline = sorted(int(x) for x in args.levels.split(","))
    curve_extra = (
        sorted(int(x) for x in args.curve_levels.split(","))
        if args.curve_levels
        else []
    )
    all_levels = sorted(set(headline + curve_extra))

    table = ensure_table(args.rows, args.hw)
    tmp = Path("/tmp/dcc_vm_scaling")
    tmp.mkdir(exist_ok=True)
    zpath = build_zip(tmp)

    import statistics

    pair_effs: list[float] = []
    if args.interleave:
        # interleaved headline: K adjacent (lo, hi) pairs, fresh JVM per
        # leg; per-pair efficiency cancels slowly-varying host noise
        lo, hi = headline[0], headline[-1]
        runs_acc: dict[int, list[float]] = {lo: [], hi: []}
        task_acc: dict[int, list] = {lo: [], hi: []}
        for k in range(args.interleave):
            pair_t: dict[int, float] = {}
            for cores in (lo, hi):
                prewarm_page_cache(table)
                r = run_level(zpath, table, cores, args.warmup, 1)
                pair_t[cores] = r["runs_sec"][0]
                runs_acc[cores].append(r["runs_sec"][0])
                if "task_sec" in r:
                    task_acc[cores].append(
                        (r["task_sec"][0], r.get("effective_parallelism"),
                         r.get("serial_sec_est"))
                    )
            eff_k = (pair_t[lo] / pair_t[hi]) / (hi / lo)
            pair_effs.append(round(eff_k, 3))
            print(
                f"pair {k + 1}/{args.interleave}: local[{lo}] {pair_t[lo]}s, "
                f"local[{hi}] {pair_t[hi]}s -> eff {eff_k:.3f}",
                file=sys.stderr,
            )

    results = {}
    for cores in all_levels:
        if args.interleave and cores in headline:
            r = {"runs_sec": runs_acc[cores], "rows": args.rows}
            if task_acc[cores]:
                ts = [t[0] for t in task_acc[cores]]
                r["task_sec"] = ts
                best_j = r["runs_sec"].index(min(r["runs_sec"]))
                r["effective_parallelism"] = task_acc[cores][best_j][1]
                r["serial_sec_est"] = task_acc[cores][best_j][2]
        else:
            prewarm_page_cache(table)
            r = run_level(zpath, table, cores, args.warmup, args.runs)
        best = min(r["runs_sec"])
        med = round(statistics.median(r["runs_sec"]), 3)
        # the headline statistic is the MEDIAN (VERDICT r4 'wrong' #1:
        # best-of-N over a noisy floor made two same-day tables disagree
        # 35%); best + spread are reported so the noise is visible
        results[cores] = {
            "runs_sec": r["runs_sec"],
            "median_sec": med,
            "best_sec": best,
            "spread_pct": round(100.0 * (max(r["runs_sec"]) - best) / med, 1),
            "rows_per_sec": round(r["rows"] / med, 1),
            "rows_per_sec_best": round(r["rows"] / best, 1),
            "rows": r["rows"],
        }
        if "task_sec" in r:
            best_i = r["runs_sec"].index(best)
            results[cores].update(
                task_sec=r["task_sec"],
                task_sec_best=r["task_sec"][best_i],
                effective_parallelism=r.get("effective_parallelism"),
                serial_sec_est=r.get("serial_sec_est"),
            )
        print(
            f"local[{cores}]: {r['runs_sec']} -> median {results[cores]['rows_per_sec']} rows/s",
            file=sys.stderr,
        )

    lo, hi = headline[0], headline[-1]
    speedup = results[hi]["rows_per_sec"] / results[lo]["rows_per_sec"]
    efficiency = speedup / (hi / lo)
    if pair_effs:
        # the headline becomes the median per-pair efficiency: adjacent
        # pairs see the same host load, so the ratio is robust to the
        # 30-40% slow drift the level medians cannot cancel
        efficiency = statistics.median(pair_effs)
        speedup = efficiency * (hi / lo)
    # worst-case efficiency across the run spread: pair the slowest hi
    # run with the fastest lo run and vice versa — the honest error bar
    eff_lo = (
        (results[hi]["rows"] / max(results[hi]["runs_sec"]))
        / (results[lo]["rows"] / min(results[lo]["runs_sec"]))
    ) / (hi / lo)
    eff_hi = (
        (results[hi]["rows"] / min(results[hi]["runs_sec"]))
        / (results[lo]["rows"] / max(results[lo]["runs_sec"]))
    ) / (hi / lo)
    summary = {
        "metric": "scaling_efficiency",
        "value": round(efficiency, 3),
        "unit": "ratio",
        "range": [round(eff_lo, 3), round(eff_hi, 3)],
        "pair_efficiencies": pair_effs or None,
        "pair": f"local[{lo}] vs local[{hi}]",
        "levels": {str(c): results[c] for c in all_levels},
        "speedup": round(speedup, 2),
        "rows": args.rows,
        "image_hw": args.hw,
        "pass": efficiency >= 0.8,
    }

    stamp = time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime())
    lines = [
        "<!-- scaling:begin -->",
        "# BENCH — scaling-efficiency evidence (north rule)",
        "",
        f"Generated by `python scripts/scaling_bench.py` on {stamp}.",
        "",
        "## What is measured",
        "",
        "The full validation job — compiled row rules + per-key",
        "uniqueness counts + broadcast referential join + Arrow-batched image decode",
        f"checks — over one pre-generated image+caption table ({args.rows:,}",
        f"rows, {args.hw}x{args.hw} RGB, fmt skewed ~80% jpeg, ~76 scan",
        "tasks). Each parallelism level is its own",
        "`spark-submit --master local[N] --py-files engine.zip` process (the",
        f"north-rule launch mode); {args.warmup} warm-up run(s) excluded;",
        "median of the listed timed runs is the headline statistic (page",
        "cache pre-warmed, so disk I/O is excluded at every level equally).",
        "",
        "## Headline: N vs 4N",
        "",
        "| parallelism | timed runs (s) | median (s) | best (s) | spread | rows/s (median) |",
        "|---|---|---|---|---|---|",
    ]
    for c in headline:
        r = results[c]
        lines.append(
            f"| local[{c}] | {', '.join(str(x) for x in r['runs_sec'])} "
            f"| {r['median_sec']} | {r['best_sec']} | {r['spread_pct']}% "
            f"| {r['rows_per_sec']:,} |"
        )
    lines += [
        "",
        f"**Speedup local[{lo}]→local[{hi}]: {speedup:.2f}x over a {hi // lo}x",
        f"core increase → scaling efficiency = {efficiency:.3f}",
        f"(worst/best pairing across the run spread: {eff_lo:.3f}–{eff_hi:.3f})**"
        + (" (>= 0.8 ✓)" if efficiency >= 0.8 else " (< 0.8 ✗)"),
        "",
    ]
    if pair_effs:
        lines += [
            f"Per-pair efficiencies (adjacent local[{lo}]/local[{hi}] runs,",
            "fresh JVM per leg, 1 warm-up inside each): "
            + ", ".join(f"{e:.3f}" for e in pair_effs)
            + f" → **median {efficiency:.3f}**.",
            "",
            "Why pairs: this host's CPU supply drifts (task-SECONDS for",
            "identical work vary up to ~40% between runs half an hour",
            "apart — external contention, not the engine). Adjacent pairs",
            "see the same load, so the ratio cancels the drift that level",
            "medians cannot; the per-pair spread above is the honest",
            "residual error bar.",
            "",
        ]
    lines += [
        "This table is THE authoritative scaling anchor — BASELINE.md's",
        "copy is spliced from the same run by this script, so the two can",
        "never disagree.",
        "",
    ]
    if curve_extra:
        lines += [
            "## Full single-machine curve",
            "",
            "| parallelism | median (s) | rows/s (median) | efficiency vs local[2] |",
            "|---|---|---|---|",
        ]
        base = results[all_levels[0]]
        for c in all_levels:
            r = results[c]
            eff = (r["rows_per_sec"] / base["rows_per_sec"]) / (c / all_levels[0])
            lines.append(
                f"| local[{c}] | {r['median_sec']} | {r['rows_per_sec']:,} | {eff:.2f} |"
            )
        lines += [
            "",
            "## Why local[2]→local[8] is the faithful executor-scaling proxy",
            "",
            "The job is embarrassingly parallel per input split: decode + row",
            "rules carry no cross-row state; the only shuffles are the two",
            "uniqueness counts (map-side partial counts) whose reduce side is",
            "O(distinct duplicate keys), and the referential check broadcasts a",
            "KB-scale ontology table. No stage's input grows with parallelism,",
            "so on a real cluster throughput scales with executor count until",
            "the (tiny) reduce sides dominate — far beyond 4N.",
            "",
            "On ONE machine the curve decays at high thread counts for",
            "reasons a multi-host cluster does not share: all task threads",
            "sit in a single driver JVM (shared GC, one memory bus for the",
            "Arrow traffic, shared allocator pressure from 32 numpy-heavy",
            "Python workers), and the per-job constant (~2-3 s of AQE",
            "planning, broadcast builds, Python worker handshakes) is serial",
            "on the one driver. The task-seconds column below separates the",
            "two effects: utilization (scheduling) stays high at every",
            "level, while per-task seconds inflate as active cores rise —",
            "the work itself slows under single-host contention. Real",
            "clusters add executors on SEPARATE hosts, which adds memory",
            "buses and allocators in proportion — the regime the north",
            "rule's N→4N executor comparison is about.",
            "",
        ]
    if any("task_sec" in r for r in results.values()):
        lines += [
            "## Serial-vs-parallel breakdown (the 8→32 constant, measured)",
            "",
            "Task-seconds come from the Spark UI REST API (sum of stage",
            "executorRunTime across the best timed run). `effective` =",
            "task-seconds / wall — the parallelism the job actually",
            "achieved; `serial est.` = wall − task/cores — driver-side",
            "planning, broadcast builds, Python worker handshakes.",
            "",
            "| parallelism | best wall (s) | task-seconds | effective ∥ | ∥ utilization | serial est. (s) |",
            "|---|---|---|---|---|---|",
        ]
        for c in all_levels:
            r = results[c]
            eff_par = r.get("effective_parallelism")
            util = round(eff_par / c, 2) if eff_par else None
            lines.append(
                f"| local[{c}] | {r['best_sec']} | {r.get('task_sec_best', '—')} "
                f"| {eff_par} | {util} | {r.get('serial_sec_est', '—')} |"
            )
        lines += [
            "",
            "Reading: if utilization stays near 1.0 through local[8] and",
            "decays at 16/32 while task-seconds RISE (same work, slower",
            "per-task memory access), the flattening is single-host",
            "memory-bandwidth physics plus the fixed serial constant — not",
            "a shuffle or skew property of the plan, so it does not",
            "extrapolate to a multi-host cluster where each executor owns",
            "its own memory bus.",
            "",
        ]
    lines.append("<!-- scaling:end -->")

    bench = Path(REPO / "BENCH.md")
    new_block = "\n".join(lines)
    if bench.exists() and "<!-- scaling:end -->" in bench.read_text():
        # replace only our own region; later appended sections survive
        text = bench.read_text()
        pre = text[: text.index("<!-- scaling:begin -->")]
        post = text[text.index("<!-- scaling:end -->") + len("<!-- scaling:end -->") :]
        bench.write_text(pre + new_block + post)
    elif bench.exists():
        # legacy layout: our block was everything up to the first section
        # this script never wrote; keep all round-note sections (they all
        # start at '## Sustained scale')
        text = bench.read_text()
        cut = text.find("## Sustained scale")
        tail = ("\n\n" + text[cut:]) if cut != -1 else ""
        bench.write_text(new_block + tail)
    else:
        bench.write_text(new_block + "\n")

    # splice the SAME numbers into BASELINE.md so the two files can never
    # disagree (VERDICT r4 'What's wrong' #1: two hand-maintained tables
    # drifted 35% apart within one day)
    b_begin, b_end = "<!-- scaling-authoritative:begin -->", "<!-- scaling-authoritative:end -->"
    blines = [
        b_begin,
        f"## Round-5 measured scaling (AUTHORITATIVE — spliced by scaling_bench.py, {stamp})",
        "",
        "Medians of the timed `spark-submit --master local[N]` runs",
        f"(1 warm-up excluded, page cache pre-warmed), {args.rows:,}-row",
        f"{args.hw}x{args.hw} image+caption table, full validation job.",
        "Full methodology, curve and serial-vs-parallel breakdown: BENCH.md",
        "(generated from the same run — the single source of truth).",
        "",
        "| parallelism | median (s) | best (s) | spread | rows/s (median) |",
        "|---|---|---|---|---|",
    ]
    for c in all_levels:
        r = results[c]
        blines.append(
            f"| local[{c}] | {r['median_sec']} | {r['best_sec']} "
            f"| {r['spread_pct']}% | {r['rows_per_sec']:,} |"
        )
    blines += [
        "",
        f"**N vs 4N (local[{lo}] → local[{hi}]): efficiency {efficiency:.3f}",
        f"(worst/best pairing {eff_lo:.3f}–{eff_hi:.3f}) — "
        + ("PASS ≥ 0.8.**" if efficiency >= 0.8 else "FAIL < 0.8.**"),
    ]
    if pair_effs:
        blines += [
            "",
            "Headline statistic = median of per-pair efficiencies from",
            f"adjacent local[{lo}]/local[{hi}] runs ("
            + ", ".join(f"{e:.3f}" for e in pair_effs)
            + ") — adjacent pairs cancel this host's slow CPU-supply",
            "drift (task-seconds for identical work vary up to ~40%",
            "between sessions; see BENCH.md).",
        ]
    blines.append(b_end)
    baseline = Path(REPO / "BASELINE.md")
    btext = baseline.read_text()
    bblock = "\n".join(blines)
    if b_begin in btext:
        btext = btext.split(b_begin)[0] + bblock + btext.split(b_end)[1]
    else:
        anchor = "## Round-4 measured results"
        btext = (
            btext.replace(anchor, bblock + "\n\n" + anchor, 1)
            if anchor in btext
            else btext.rstrip() + "\n\n" + bblock + "\n"
        )
    baseline.write_text(btext)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
