#!/usr/bin/env python
"""Isolation bench (guide §1.4): times individual declared queries with
the noop sink so the computation — not the sink or driver collect — is
what's measured, and optionally dumps ``explain("formatted")`` plans.

NOT the driver bench (bench.py is frozen); numbers from here are cited
in OPTIMIZATION_r06.md as before/after evidence.

Usage:
  python bench_extra.py --sf /root/testdata/sf0.1 --reps 3 \
      [--queries q1,q2,...] [--plans plans/r06 --suffix before] [--e2e]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_QUERIES = [
    "b1_turn_ordering", "b3_extract_triples", "b8_connected_components",
    "a15_link_prediction_ranks", "a15_ranks_blocked_from_parquet",
    "a19_topk_completions", "dedup_exact", "dedup_minhash",
    "dedup_ngram_jaccard", "txt_lang_id", "txt_quality_scores",
    "ann_cosine_topk", "w_topk_orders", "evt_sessionize",
    "q1_pricing_summary", "asof_purchases", "txt_tfidf_top_terms",
    "kg_pagerank", "evt_scd2_user_state", "dq_expectations_lineitem",
    "docs_pack_sequences", "docs_pii_scrub", "docs_training_export",
    "a17_kernel_leaderboard",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    ap.add_argument("--plans", default=None, help="dir to dump explain() output")
    ap.add_argument("--suffix", default="before", help="plan filename suffix")
    ap.add_argument("--e2e", action="store_true", help="also time the pipeline e2e")
    ap.add_argument("--cpus", help="local core count (default: $SPARK_GRAFT_CPUS, else host CPUs)")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from kgforge.session import get_spark, local_cpus

    cpus = args.cpus or local_cpus()

    spark = get_spark(master=f"local[{cpus}]", app_name="kgforge-bench-extra",
                      shuffle_partitions=int(cpus),
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entrymod.queries()
    names = args.queries.split(",") if args.queries else BENCH_QUERIES

    # warm-up: JVM codegen + Python worker spin-up on a tiny query
    qs["txt_lang_id"](spark, "/root/testdata/sf0.01").write.format("noop").mode("overwrite").save()

    results: dict[str, list[float]] = {}
    for name in names:
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = qs[name](spark, args.sf)
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        runs = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = runs
        print(f"{name}: min={min(runs)} runs={runs}", flush=True)

    if args.e2e:
        from kgforge.fixtures import ensure_fixtures
        from kgforge.pipeline import Pipeline
        fdir = ensure_fixtures("sf0.1")
        runs = []
        for rep in range(args.reps):
            work = f"/tmp/kgforge_bextra_e2e_{rep}"
            shutil.rmtree(work, ignore_errors=True)
            pipe = Pipeline(
                spark,
                input_path=os.path.join(fdir, "transcripts.parquet"),
                work_dir=work,
                gazetteer_path=os.path.join(fdir, "gazetteer.parquet"),
                patterns_path=os.path.join(fdir, "patterns.parquet"),
                out_partitions=int(cpus),
            )
            t0 = time.time()
            pipe.run(["reassemble", "extract", "canonicalize", "dicts", "link", "materialize"])
            runs.append(round(time.time() - t0, 3))
            stage_secs = {s: round(v, 3) for s, v in pipe.timings.items()}
            print(f"e2e rep{rep}: {runs[-1]} stages={stage_secs}", flush=True)
        results["pipeline_e2e"] = runs
        print(f"pipeline_e2e: min={min(runs)} runs={runs}", flush=True)

    print(json.dumps({k: {"min": min(v), "runs": v} for k, v in results.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
