#!/usr/bin/env python
"""Two-parallelism scaling evidence (driver protocol: no real cluster —
same job, same input, ``local[N]`` vs ``local[4N]``).

Runs the full KG pipeline via spark-submit at both parallelism levels
(fresh JVM each, 1 warm-up + 2 timed, median), computes::

    efficiency = (throughput_4N / throughput_N) / 4

and writes BENCH/BASELINE.md. Throughput = extracted triple instances /
sum of stage walls (JVM startup excluded — the contract measures the
job, not the launcher).

Usage: python bench/scaling.py [--sf-tag sf0.1] [--runs 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STAGES = "reassemble,extract,canonicalize,dicts,link,materialize"


def run_once(cores: int, sf_tag: str, tag: str) -> dict:
    work = f"/tmp/kgforge_scale_{cores}_{tag}"
    shutil.rmtree(work, ignore_errors=True)
    cmd = [
        "/opt/spark/bin/spark-submit",
        "--master", f"local[{cores}]",
        # driver == executor in local mode; the in-session conf can't size
        # an already-started JVM, so it must be a submit arg
        "--driver-memory", os.environ.get("KGFORGE_DRIVER_MEM", "24g"),
        "--py-files", os.path.join(REPO, "kgforge.zip"),
        os.path.join(REPO, "run_pipeline.py"),
        "--sf-tag", sf_tag,
        "--work-dir", work,
        "--stages", STAGES,
        "--out-partitions", str(cores),
        "--master", f"local[{cores}]",
        "--warmup",
    ]
    env = dict(os.environ, KGFORGE_SHUFFLE_PARTITIONS=str(cores))
    t0 = time.time()
    for attempt in range(2):  # one retry for transient executor flakes
        proc = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=3600)
        if proc.returncode == 0:
            break
    wall = time.time() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"run failed ({cores} cores): {proc.stderr[-2000:]}")
    report = json.loads(proc.stdout[proc.stdout.index("{"):])
    stage_sum = sum(report["timings_sec"].values())
    manifest = {e["stage"]: e for e in report["manifest"]}
    return {
        "cores": cores,
        "wall_total": wall,
        "stage_sum": stage_sum,
        "stage_times": report["timings_sec"],
        "triples_extracted": manifest["extract"]["row_count"],
        "turns": manifest["reassemble"]["row_count"],
        "triples_distinct": manifest["materialize"]["row_count"],
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-tag", default="sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    # N vs 4N within the host's cores: on a 4-vCPU host that is
    # local[1] vs local[4]; a 4N above the core count measures
    # oversubscription, not scaling.
    ap.add_argument("--levels", default="1,4")
    ap.add_argument(
        "--promote", action="store_true",
        help="overwrite BASELINE.md's recorded header with this sample "
        "(default: write BENCH/SAMPLE_LATEST.md only)",
    )
    args = ap.parse_args()

    subprocess.run(["zip", "-qr", "kgforge.zip", "kgforge"], cwd=REPO, check=True)
    from kgforge.fixtures import ensure_fixtures

    ensure_fixtures(args.sf_tag)

    levels = [int(x) for x in args.levels.split(",")]
    results: dict[int, list[dict]] = {c: [] for c in levels}
    # INTERLEAVED sampling: each timed iteration runs every level
    # back-to-back, so both levels see the same host conditions. The
    # grouped ordering (all of one level, then all of the other) measured a
    # spurious 0.64 efficiency when neighbor-VM load shifted between the
    # two blocks — identical unchanged stages moved ±40% between rounds
    # (host noise is the dominant error source on this box; CLAUDE.md).
    for cores in levels:
        run_once(cores, args.sf_tag, "warmup")  # warm-up (OS page cache etc.)
    for i in range(args.runs):
        for cores in levels:
            results[cores].append(run_once(cores, args.sf_tag, f"r{i}"))

    med = {
        c: statistics.median([r["stage_sum"] for r in rs]) for c, rs in results.items()
    }
    n_tri = results[levels[0]][0]["triples_extracted"]
    n_turns = results[levels[0]][0]["turns"]
    thr = {c: n_tri / med[c] for c in levels}
    lo, hi = min(levels), max(levels)
    eff = (thr[hi] / thr[lo]) / (hi / lo)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    lines = [
        "# BENCH/BASELINE — measured results",
        "",
        f"Workload: full KG-construction pipeline ({STAGES}) on the",
        f"deterministic {args.sf_tag} transcript corpus ({n_turns} turns,",
        f"{n_tri} extracted triple instances,",
        f"{results[levels[0]][0]['triples_distinct']} distinct canonical (s,p,o)).",
        "Protocol: spark-submit --py-files kgforge.zip, fresh JVM per run,",
        f"1 warm-up + {args.runs} timed runs per level, median of summed stage",
        "walls (JVM startup excluded). Driver two-parallelism rule: same job,",
        "same input, local[N] vs local[4N].",
        "",
        "| parallelism | median stage-sum (s) | triples/sec | turns/sec |",
        "|---|---|---|---|",
    ]
    for c in levels:
        lines.append(
            f"| local[{c}] | {med[c]:.2f} | {thr[c]:.0f} | {n_turns / med[c]:.0f} |"
        )
    lines += [
        "",
        f"**Scaling efficiency (local[{lo}] → local[{hi}])**: "
        f"(throughput_{hi}/throughput_{lo})/{hi // lo} = **{eff:.3f}** "
        f"(target ≥ 0.8).",
        "",
        "Per-stage medians (s):",
        "",
        "| stage | " + " | ".join(f"local[{c}]" for c in levels) + " |",
        "|---|" + "---|" * len(levels),
    ]
    for st in STAGES.split(","):
        vals = [
            statistics.median([r["stage_times"][st] for r in results[c]]) for c in levels
        ]
        lines.append(f"| {st} | " + " | ".join(f"{v:.2f}" for v in vals) + " |")
    lines += [
        "",
        "Raw runs:",
        "```json",
        json.dumps({str(c): results[c] for c in levels}, indent=1),
        "```",
        "",
    ]
    out = os.path.join(REPO, "BENCH", "BASELINE.md")
    sample = os.path.join(REPO, "BENCH", "SAMPLE_LATEST.md")
    # The recorded header in BASELINE.md is an ADJUDICATED quiet-window
    # measurement (see its measurement logs): new samples land in
    # SAMPLE_LATEST.md for manual promotion, because an unattended
    # rewrite once replaced the recorded result with an unselected
    # noisy sample (round 5, r5-e) while the log text still pointed at
    # the recorded run. Pass --promote to overwrite the header.
    if args.promote:
        manual = ""
        if os.path.exists(out):
            with open(out) as f:
                prev = f.read()
            idx = prev.find("\n## ")
            if idx >= 0:
                manual = prev[idx:]
        with open(out, "w") as f:
            f.write("\n".join(lines) + manual)
    else:
        with open(sample, "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"sample written to {sample} (not promoted; use --promote)")
    print(json.dumps({"efficiency": round(eff, 3), "throughputs": {str(c): round(thr[c], 1) for c in levels}}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
