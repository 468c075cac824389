#!/usr/bin/env python
"""Bench harness (driver contract): runs headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on ``local[N]``
(N = ``$SPARK_GRAFT_CPUS``, else the host's CPU count) and prints ONE
JSON line::

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` = end-to-end KG-construction pipeline wall seconds on the
sf-matched transcript corpus (the north-star workload); ``queries``
carries per-operator seconds. Extra keys report triples/sec. The
N-vs-4N scaling evidence lives in bench/scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_tag = os.path.basename(os.path.normpath(sf_dir))

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from kgforge.fixtures import TAG_SIZES, ensure_fixtures
    from kgforge.pipeline import Pipeline
    from kgforge.session import get_spark, local_cpus

    cpus = local_cpus()

    tag = sf_tag if sf_tag in TAG_SIZES else "sf0.1"
    fdir = ensure_fixtures(tag)

    spark = get_spark(master=f"local[{cpus}]", app_name="kgforge-bench",
                      shuffle_partitions=int(cpus))

    timings: dict[str, float] = {}

    # in-JVM warm-up on the unit fixture: codegen + Arrow + Python-worker
    # spin-up happen here, so the timed e2e below is steady-state
    wdir = ensure_fixtures("unit")
    import tempfile

    wtmp = tempfile.mkdtemp(prefix="kgforge_bench_warm_")
    Pipeline(
        spark,
        input_path=os.path.join(wdir, "transcripts.parquet"),
        work_dir=wtmp,
        gazetteer_path=os.path.join(wdir, "gazetteer.parquet"),
        patterns_path=os.path.join(wdir, "patterns.parquet"),
        out_partitions=4,
    ).run(["reassemble", "extract", "canonicalize", "dicts", "link", "materialize"])
    shutil.rmtree(wtmp, ignore_errors=True)

    # --- end-to-end pipeline (headline) -----------------------------------
    # min of 2 fresh runs: the sandbox is a shared host — cold-cache /
    # noisy-neighbor outliers (observed 19s..73s for the SAME code) are
    # host noise, not plan changes; the min is the reproducible number.
    e2e_runs = []
    for rep in range(2):
        work = f"/tmp/kgforge_bench_{tag}_{rep}"
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
        e2e_runs.append(time.time() - t0)
    e2e = min(e2e_runs)
    n_distinct = pipe.manifest.get("materialize")["row_count"]
    # throughput counts extracted triple *instances* (the work done);
    # the distinct canonical set saturates at fixture-dictionary size.
    n_instances = pipe.manifest.get("extract")["row_count"]
    timings["pipeline_e2e"] = round(e2e, 3)

    # --- per-operator headline queries -------------------------------------
    qs = entrymod.queries()
    bench_queries = [
        "b1_turn_ordering",
        "b3_extract_triples",
        "b8_connected_components",
        "a15_link_prediction_ranks",
        "a15_ranks_blocked_from_parquet",  # checkpoint + DataFrame known set → eval
        "a19_topk_completions",
        "dedup_exact",
        "dedup_minhash",
        "dedup_ngram_jaccard",
        "txt_lang_id",
        "txt_quality_scores",
        "ann_cosine_topk",
        "w_topk_orders",
        "evt_sessionize",
        "q1_pricing_summary",
        "asof_purchases",
        "txt_tfidf_top_terms",
        "kg_pagerank",
        "evt_scd2_user_state",  # SCD2 window build over the event log
        "dq_expectations_lineitem",  # single-scan DQ gate on the fact table
        "docs_pack_sequences",  # two-phase distributed cumsum manifest
        "docs_pii_scrub",  # scan-bound regex scrub (zero-shuffle path)
        "docs_training_export",  # filter→dedup→split→pack composition
        "a17_kernel_leaderboard",  # all 7 oracle-backed kernels, one query
    ]
    for name in bench_queries:
        runs = []
        for _ in range(2):  # min of 2 (host noise; see e2e comment)
            t0 = time.time()
            # count() forces full execution, no driver-side materialization
            qs[name](spark, sf_dir).count()
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)

    # --- bucketed fact-table layout: write-once-shuffle evidence -----------
    # the pipeline can emit its (s, p, o) fact table bucketed by s
    # (Pipeline(bucket_table=...) → joins.write_bucketed); at fixture scale
    # the KG saturates at dictionary size, so the timing evidence uses a
    # lineitem-shaped fact table (~600k rows at sf0.1) with the heaviest
    # bucket consumer — a self-join on s — bucketed vs plain parquet.
    # Broadcast joins disabled for the comparison: the question is shuffle
    # join vs bucket-co-located join, not join-strategy selection.
    from kgforge.joins import write_bucketed

    fact_path = f"/tmp/kgforge_bench_fact_{tag}"
    fact = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("s"),
        F.col("l_suppkey").alias("p"),
        F.col("l_partkey").alias("o"),
    )
    fact.write.mode("overwrite").parquet(fact_path)
    write_bucketed(
        spark.read.parquet(fact_path), "bench_fact_bkt", key="s", buckets=int(cpus)
    )

    def _selfjoin_count(df):
        other = df.withColumnRenamed("p", "p2").withColumnRenamed("o", "o2")
        return df.join(other, "s").groupBy("s").count()

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for key, mk in [
            ("tri_selfjoin_s_bucketed", lambda: spark.table("bench_fact_bkt")),
            ("tri_selfjoin_s_parquet", lambda: spark.read.parquet(fact_path)),
        ]:
            runs = []
            for _ in range(2):
                t0 = time.time()
                _selfjoin_count(mk()).count()
                runs.append(time.time() - t0)
            timings[key] = round(min(runs), 3)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS bench_fact_bkt")
        shutil.rmtree(fact_path, ignore_errors=True)

    # df-cap observability: what the ngram skew guard would drop here
    from kgforge import textops

    ng_stats = textops.ngram_df_capped_stats(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n=3, df_cap=100
    )

    # skew evidence: hot conv_id keys and how the salted write spread them
    spark_df = spark.read.parquet(os.path.join(fdir, "transcripts.parquet"))
    sizes = spark_df.groupBy("conv_id").count()
    skew = sizes.agg(
        F.expr("max(count)").alias("max"),
        F.expr("percentile_approx(count, 0.5)").alias("median"),
    ).first()
    mat = pipe.manifest.get("materialize")["extra"]["lineage"]
    out = {
        "metric": "kg_pipeline_e2e_wall",
        "conv_skew_max_over_median": round(skew["max"] / max(skew["median"], 1), 1),
        "salted_write_max_partition_rows": mat.get("max_partition_rows"),
        "ngram_df_cap": ng_stats,
        "value": round(e2e, 3),
        "e2e_runs": [round(x, 3) for x in e2e_runs],
        "unit": "sec",
        "queries": timings,
        "sf": sf_tag,
        "triples_emitted_distinct": int(n_distinct),
        "triple_instances_extracted": int(n_instances),
        "triples_per_sec": round(n_instances / e2e, 1),
        "turns_per_sec": round(pipe.manifest.get("reassemble")["row_count"] / e2e, 1),
        "cpus": int(cpus),
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
