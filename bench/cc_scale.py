#!/usr/bin/env python
"""Adversarial-scale connected-components evidence.

One algorithm (``canonicalize.connected_components``: hash-min with a
hook and a pointer-jumping shortcut) on two topologies, measured rounds
+ wall seconds:

* **power-law graph** (default 1M edges over 100k nodes, source ids
  log-uniform -> zipf-1-ish degree distribution with a ~60k-degree hub):
  the realistic alias-graph shape — small diameter, a few rounds; this
  leg evidences the per-node ``groupBy`` surviving a real hub at
  1M-edge scale, not just toy fixtures.
* **deep chain** (default 256 nodes): the adversarial diameter case.
  Plain hash-min moves the min label ONE hop per round — O(diameter)
  rounds; with the hook and the jump the measured rounds grow with
  log n. Its labels are checked against the known answer: every node's
  component is the chain's first node.

Edges are generated DISTRIBUTED and deterministically (xxhash64 of the
edge index — no RNG state, no driver-side materialization).

Usage: python bench/cc_scale.py [--edges 1000000] [--nodes 100000]
       [--chain 256] [--cpus N]   (default: session.local_cpus())
Prints one JSON line; paste the table into BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from pyspark.sql import functions as F

    from kgforge.session import get_spark, local_cpus
    from kgforge.stages.canonicalize import connected_components

    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", type=int, default=1_000_000)
    ap.add_argument("--nodes", type=int, default=100_000)
    ap.add_argument("--chain", type=int, default=256)
    ap.add_argument("--cpus", type=int, default=int(local_cpus()))
    ap.add_argument("--pagerank-iters", type=int, default=5)
    args = ap.parse_args()

    spark = get_spark(
        master=f"local[{args.cpus}]", app_name="cc-scale",
        shuffle_partitions=args.cpus,
    )

    # power-law edges: src log-uniform over [1, nodes] (P(src<=x) ~ log x
    # => zipf-1 density, node 1 becomes a ~edges/ln(nodes)-degree hub),
    # dst uniform. Deterministic: both coordinates are xxhash64 folds of
    # the edge index.
    def u01(col, salt):
        return (F.xxhash64(col, F.lit(salt)).cast("double") / F.lit(2.0**64)) + 0.5

    ids = spark.range(args.edges).repartition(args.cpus)
    power = ids.select(
        F.floor(F.pow(F.lit(float(args.nodes)), u01(F.col("id"), 1))).alias("a"),
        F.floor(u01(F.col("id"), 2) * args.nodes).alias("b"),
    ).where(F.col("a") != F.col("b"))

    # deep chain, id-offset into its own component space
    base = 10_000_000_000
    chain = spark.range(args.chain - 1).select(
        (F.col("id") + base).alias("a"), (F.col("id") + base + 1).alias("b")
    )

    # warm-up: the first CC in a process pays ~8 s of first-use planning
    # and codegen, which would land on whichever leg runs first
    connected_components(chain.limit(8)).count()
    results = {}

    def run(tag, edges):
        stats: dict = {}
        t0 = time.time()
        out = connected_components(edges, stats=stats)
        n_comp = out.select("component").distinct().count()
        wall = time.time() - t0
        results[tag] = {
            "rounds": stats.get("rounds"),
            "wall_sec": round(wall, 2),
            "n_components": n_comp,
        }
        return out

    run("power", power)

    # PageRank on the same 1M-edge graph: the other iterative-join
    # consumer of this machinery (weighted recursion, no min-fixpoint —
    # the case CC convergence tests can't cover), at hub-scale
    if args.pagerank_iters > 0:
        from kgforge.graphstats import pagerank

        t0 = time.time()
        pr = pagerank(
            power.select(F.col("a").alias("h"), F.col("b").alias("t")),
            n_iter=args.pagerank_iters,
        )
        top = pr.orderBy(F.col("rank").desc()).limit(3).collect()
        results["power_pagerank"] = {
            "iters": args.pagerank_iters,
            "wall_sec": round(time.time() - t0, 2),
            "top_rank_entity": int(top[0]["e"]),
            "top_rank": top[0]["rank"],
        }
    chain_cc = run("chain", chain)
    # correctness on the adversarial leg: one component, labelled base
    wrong = chain_cc.where(F.col("component") != base).count()
    assert wrong == 0, f"{wrong} chain nodes not labelled {base}"

    out = {
        "metric": "cc_scale",
        "edges_powerlaw": args.edges,
        "nodes_powerlaw": args.nodes,
        "chain_len": args.chain,
        "cpus": args.cpus,
        "results": results,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
