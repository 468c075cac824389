"""Counter repeatability: run one seed twice per workload and compare counts.

    python3 perfbench/repeat_check.py [--seed 7]

Compares ``spark_jobs`` and ``shuffle_mb`` (untraced runs) and every
layer's ``jobs`` and ``tasks`` (traced runs) between two runs of the same
seed, and writes ``perfbench/repeatability.json``. A counter listed under
``not_exact`` did not repeat and must not be used as an exact count.
"""

import argparse
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def _counters(e2e: dict, layers: dict) -> dict:
    out = {k: e2e[k]["value"] for k in ("spark_jobs", "shuffle_mb")}
    out.update({k: v["value"] for k, v in layers.items() if k.endswith((".jobs", ".tasks"))})
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    report = {"seed": args.seed, "workloads": {}, "not_exact": []}
    for w in (x["name"] for x in SPEC["workloads"]):
        a = _counters(_run(w, args.seed, 0), _run(w, args.seed, 1))
        b = _counters(_run(w, args.seed, 0), _run(w, args.seed, 1))
        report["workloads"][w] = {k: [a[k], b[k]] for k in a}
        report["not_exact"] += [f"{w}:{k}" for k in a if a[k] != b[k]]
    with open(os.path.join(BENCH_DIR, "repeatability.json"), "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(json.dumps(report["not_exact"]))


if __name__ == "__main__":
    main()
