"""The three benchmark workloads: batch build, incremental append, KG eval.

Each workload is a closed loop driven by ``run.py``: ``warm_up`` (the
operation on unit fixtures, part of the timed set-up), ``prepare``
(untimed set-up on the real inputs), then ``op`` repeatedly, each
followed by its output check. Every call into a kgforge layer sits in a
tracer span named after the layer; a lazy DataFrame's forcing action
(write, checkpoint, collect) runs inside the span of the layer that
planned it.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kgforge import evaluate, training
from kgforge.catalog import IcebergLiteTable
from kgforge.incremental import build_triples, incremental_build
from kgforge.pipeline import Pipeline
from kgforge.stages.materialize import dense_ids

BUILD_STAGES = ["reassemble", "extract", "canonicalize", "dicts", "link", "materialize"]

#: layer -> extra per-layer metrics it reports beside the COUNTERS
LAYER_EXTRAS = {
    "session": ("start_s", "warmup_s"),
    "reassemble": ("task_skew",),
    "extract": ("rows_out", "triples_per_turn"),
    "canonicalize": (),
    "dicts": (),
    "link": ("linked_ratio",),
    "materialize": ("max_partition_skew",),
    "catalog": ("bytes_written_mb",),
    "incremental": ("rows_out",),
    "evaluate": ("candidates", "task_skew"),
    "training": ("rounds",),
}

PR_FLOOR = 0.95


def parquet_rows(path: str) -> list[int]:
    """Row count of every parquet part under ``path`` (footers only)."""
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return [pq.ParquetFile(f).metadata.num_rows for f in files]


def _skew(values: list[int]) -> float:
    med = float(np.median(values)) if values else 0.0
    return max(values) / med if med > 0 else 0.0


def _read_dict_txt(path: str) -> dict[int, str]:
    out = {}
    with open(path) as f:
        next(f)
        for line in f:
            name, i = line.rstrip("\n").split("\t")
            out[int(i)] = name
    return out


class Workload:
    name = ""

    def __init__(self, spark, tracer, inputs: str, work: str, fixtures_dir: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.work = work
        self.fixtures_dir = fixtures_dir
        self.seed = seed

    def _in(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def prepare(self) -> None:
        pass

    def has_input(self, i: int) -> bool:
        """Whether inputs for operation ``i`` exist."""
        return True

    def warm_up(self) -> None:
        """The operation on unit fixtures, so the timed loop starts warm."""
        raise NotImplementedError

    def op(self, i: int) -> dict:
        """One timed operation; returns its facts (work items, phase times)."""
        raise NotImplementedError

    def check(self, facts: dict, corrupt: bool) -> bool:
        """Whether one operation's output is correct (``corrupt`` damages it first)."""
        return True

    def finish(self, corrupt: bool) -> bool:
        """Run-level output check after the loop."""
        return True


# ---------------------------------------------------------------------------


class BatchBuild(Workload):
    """Full ``Pipeline`` build, one span per stage, fresh work dir each time."""

    name = "batch_build"

    def prepare(self) -> None:
        g = pd.read_parquet(self._in("golden_triples.parquet"))
        self.golden = set(g[["subj_canon", "pred", "obj_canon"]].itertuples(index=False, name=None))

    def _pipeline(self, src: str, work: str) -> Pipeline:
        shutil.rmtree(work, ignore_errors=True)
        return Pipeline(
            self.spark,
            input_path=os.path.join(src, "transcripts.parquet"),
            work_dir=work,
            gazetteer_path=os.path.join(src, "gazetteer.parquet"),
            patterns_path=os.path.join(src, "patterns.parquet"),
            out_partitions=4,
            dense_ids_impl="two_phase",
        )

    def warm_up(self) -> None:
        self._pipeline(self.fixtures_dir, os.path.join(self.work, "prime")).run(BUILD_STAGES)

    def op(self, i: int) -> dict:
        work = os.path.join(self.work, "build")
        pipe = self._pipeline(self.inputs, work)
        spans = {}
        t0 = time.perf_counter()
        with self.tr.span("build", layer=False) as op_span:
            for stage in BUILD_STAGES:
                with self.tr.span(stage) as sp:
                    pipe.run([stage])
                spans[stage] = sp
        wall = time.perf_counter() - t0
        turns = pipe.manifest.get("reassemble")["row_count"]
        extracted = pipe.manifest.get("extract")["row_count"]
        facts = {"op_span": op_span, "wall_s": wall, "work_items": extracted, "work": work}
        if spans["extract"] is not None:  # traced operation
            linked = sum(parquet_rows(os.path.join(work, "link")))
            parts = parquet_rows(os.path.join(work, "materialize", "triples"))
            facts["extras"] = {
                "reassemble.task_skew": self.tr.task_skew(spans["reassemble"]),
                "extract.rows_out": extracted,
                "extract.triples_per_turn": extracted / turns if turns else 0.0,
                "link.linked_ratio": linked / extracted if extracted else 0.0,
                "materialize.max_partition_skew": _skew(parts),
            }
        return facts

    def check(self, facts: dict, corrupt: bool) -> bool:
        """Triple P/R of the OpenKE export against the generator's intent."""
        exp = os.path.join(facts["work"], "materialize", "openke")
        ents = _read_dict_txt(os.path.join(exp, "entity2id.txt"))
        rels = _read_dict_txt(os.path.join(exp, "relation2id.txt"))
        with open(os.path.join(exp, "train2id.txt")) as f:
            lines = f.read().splitlines()
        rows = lines[1:]
        if corrupt:
            rows = rows[: len(rows) // 2]
        got = set()
        for line in rows:
            h, t, r = map(int, line.split(" "))
            got.add((ents[h], rels[r], ents[t]))
        tp = len(got & self.golden)
        precision = tp / len(got) if got else 0.0
        recall = tp / len(self.golden) if self.golden else 0.0
        return int(lines[0]) == len(lines) - 1 and precision >= PR_FLOOR and recall >= PR_FLOOR


# ---------------------------------------------------------------------------


class IncrementalAppend(Workload):
    """Catalog append + ``incremental_build`` + write, chained step to step."""

    name = "incremental_append"
    WARM_APPENDS = 4

    def _dicts(self, src: str):
        gaz_pdf = pd.read_parquet(os.path.join(src, "gazetteer.parquet"))
        pat_pdf = pd.read_parquet(os.path.join(src, "patterns.parquet"))
        gaz = self.spark.read.parquet(os.path.join(src, "gazetteer.parquet"))
        pats = self.spark.read.parquet(os.path.join(src, "patterns.parquet"))
        d = os.path.join(self.work, "dicts")
        dense_ids(gaz.select(F.col("canonical").alias("name"))).write.mode("overwrite").parquet(
            os.path.join(d, "entity2id"))
        dense_ids(pats.select(F.col("pred").alias("name"))).write.mode("overwrite").parquet(
            os.path.join(d, "relation2id"))
        e2id = self.spark.read.parquet(os.path.join(d, "entity2id"))
        r2id = self.spark.read.parquet(os.path.join(d, "relation2id"))
        return gaz_pdf, pat_pdf, gaz, e2id, r2id

    def _start_table(self, root: str, base_path: str) -> None:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "triples"), ignore_errors=True)
        self.table = IcebergLiteTable(root)
        self.table.append(self.spark.read.parquet(base_path))
        self.since = self.table.current_snapshot_id()
        self.step = 0
        self.prev_path = self._out_path()
        build_triples(self.table.read(self.spark), *self.dicts).write.parquet(self.prev_path)

    def _out_path(self) -> str:
        return os.path.join(self.work, "triples", f"s{self.step:04d}")

    def _append(self, path: str) -> dict:
        with self.tr.span("catalog") as cat:
            manifest = self.table.append(self.spark.read.parquet(path))
        with self.tr.span("incremental") as inc:
            prev = self.spark.read.parquet(self.prev_path)
            out = incremental_build(self.spark, self.table, self.since, prev, *self.dicts)
            self.step += 1
            out_path = self._out_path()
            out.write.parquet(out_path)
        shutil.rmtree(self.prev_path, ignore_errors=True)
        self.prev_path = out_path
        self.since = manifest["snapshot_id"]
        return {"catalog": cat, "incremental": inc, "manifest": manifest}

    def warm_up(self) -> None:
        unit = os.path.join(self.fixtures_dir, "transcripts.parquet")
        self.dicts = self._dicts(self.fixtures_dir)
        self._start_table(os.path.join(self.work, "warm_table"), unit)
        # the first appends run slower while the planner and scheduler warm
        # up (JIT); without these the timed median rides that curve
        for _ in range(self.WARM_APPENDS):
            self._append(unit)

    def prepare(self) -> None:
        self.dicts = self._dicts(self.inputs)
        self._start_table(os.path.join(self.work, "table"), self._in("base.parquet"))
        self.appends = sorted(glob.glob(self._in(os.path.join("appends", "*.parquet"))))

    def has_input(self, i: int) -> bool:
        return i < len(self.appends)

    def op(self, i: int) -> dict:
        turns = pq.ParquetFile(self.appends[i]).metadata.num_rows
        t0 = time.perf_counter()
        with self.tr.span("append", layer=False) as op_span:
            spans = self._append(self.appends[i])
        wall = time.perf_counter() - t0
        facts = {"op_span": op_span, "wall_s": wall, "work_items": turns}
        if spans["catalog"] is not None:
            m = spans["manifest"]
            new_dir = m["data_dirs"][-1]
            facts["extras"] = {
                "catalog.bytes_written_mb": sum(
                    f["bytes"] for f in m["files"] if f["path"].startswith(new_dir + os.sep)
                ) / 1e6,
                "incremental.rows_out": sum(parquet_rows(self.prev_path)),
            }
        return facts

    def finish(self, corrupt: bool) -> bool:
        """The chained incremental result equals a full rebuild of the table."""
        got = set(map(tuple, self.spark.read.parquet(self.prev_path).collect()))
        want = set(map(tuple, build_triples(self.table.read(self.spark), *self.dicts).collect()))
        if corrupt:
            got = set(sorted(got)[1:])
        return got == want and len(want) > 0


# ---------------------------------------------------------------------------


class KgEval(Workload):
    """Fixed-round ``train_distributed`` then filtered link-prediction eval."""

    name = "kg_eval"
    ROUNDS = 2
    SAMPLE = 64  # test triples whose ranks are recomputed in NumPy
    #: train_distributed packs its seed (x 31 x 2654435761) into a uint64, so
    #: the run's seed, which may be any size, is folded into this range first
    TRAIN_SEEDS = 1 << 24

    def prepare(self) -> None:
        self.n_ent = len(pd.read_parquet(self._in("entity2id.parquet")))
        self.n_rel = len(pd.read_parquet(self._in("relation2id.parquet")))
        splits = {k: pd.read_parquet(self._in(f"{k}.parquet")) for k in ("train2id", "valid2id", "test2id")}
        self.known = pd.concat(splits.values(), ignore_index=True)
        self.known_set = set(self.known[["h", "t", "r"]].itertuples(index=False, name=None))
        self.test_pdf = splits["test2id"]
        self.train = self.spark.read.parquet(self._in("train2id.parquet"))
        self.test = self.spark.read.parquet(self._in("test2id.parquet"))
        rng = np.random.default_rng(self.seed)
        take = min(self.SAMPLE, len(self.test_pdf))
        self.sample = self.test_pdf.iloc[np.sort(rng.choice(len(self.test_pdf), take, replace=False))]

    def warm_up(self) -> None:
        """Train and rank on the unit OpenKE split; ranking scores with this
        seed's frozen embeddings (|E| as in the timed operation) and builds
        the known-triple filter, as the operation does."""
        ok = self.fixtures_dir
        splits = {k: pd.read_parquet(os.path.join(ok, f"{k}.parquet")) for k in ("train2id", "valid2id", "test2id")}
        n_ent = len(pd.read_parquet(os.path.join(ok, "entity2id.parquet")))
        train = self.spark.read.parquet(os.path.join(ok, "train2id.parquet"))
        training.train_distributed(self.spark, train, n_ent, 12, dim=16, rounds=1, epochs_per_round=1)
        frozen = dict(np.load(self._in("frozen_emb.npz")))
        test = self.spark.read.parquet(os.path.join(ok, "test2id.parquet"))
        known = pd.concat(splits.values(), ignore_index=True)
        ranks = evaluate.link_prediction_ranks(self.spark, test, frozen, known).localCheckpoint()
        evaluate.link_prediction_metrics(ranks).collect()

    def op(self, i: int) -> dict:
        t0 = time.perf_counter()
        with self.tr.span("train_eval", layer=False) as op_span:
            with self.tr.span("training") as tsp:
                emb = training.train_distributed(
                    self.spark, self.train, self.n_ent, self.n_rel, dim=16,
                    rounds=self.ROUNDS, epochs_per_round=1, seed=self.seed % self.TRAIN_SEEDS,
                )
            t1 = time.perf_counter()
            with self.tr.span("evaluate") as esp:
                ranks = evaluate.link_prediction_ranks(self.spark, self.test, emb, self.known)
                ranks = ranks.localCheckpoint()
                metrics = evaluate.link_prediction_metrics(ranks).collect()[0]
            t2 = time.perf_counter()
        candidates = 2 * len(self.test_pdf) * self.n_ent
        facts = {
            "op_span": op_span, "wall_s": t2 - t0, "train_s": t1 - t0, "eval_s": t2 - t1,
            "work_items": candidates, "emb": emb, "ranks": ranks, "metrics": metrics,
        }
        if tsp is not None:
            facts["extras"] = {
                "evaluate.candidates": candidates,
                "evaluate.task_skew": self.tr.task_skew(esp),
                "training.rounds": self.ROUNDS,
            }
        return facts

    def check(self, facts: dict, corrupt: bool) -> bool:
        """Filtered head/tail ranks of a sample, recomputed in plain NumPy."""
        ent = facts["emb"]["ent"].astype(np.float64)
        rel = facts["emb"]["rel"].astype(np.float64)
        known = self.known_set
        want = {}
        for h, t, r in self.sample[["h", "t", "r"]].itertuples(index=False, name=None):
            head_scores = np.abs(ent + rel[r] - ent[t]).sum(axis=1)
            tail_scores = np.abs(ent[h] + rel[r] - ent).sum(axis=1)
            want[(h, t, r)] = (
                _filtered_rank(head_scores, h, lambda e: (e, t, r) in known),
                _filtered_rank(tail_scores, t, lambda e: (h, e, r) in known),
            )
        keys = self.sample[["h", "t", "r"]]
        got_pdf = (
            facts["ranks"].join(self.spark.createDataFrame(keys), ["h", "t", "r"])
            .select("h", "t", "r", "rank_head_filt", "rank_tail_filt").toPandas()
        )
        got = {
            (int(h), int(t), int(r)): (int(a), int(b))
            for h, t, r, a, b in got_pdf.itertuples(index=False, name=None)
        }
        if corrupt:
            k = next(iter(got))
            got[k] = (got[k][0] + 1, got[k][1])
        return got == want and 0.0 < float(facts["metrics"]["mrr_filt"]) <= 1.0


def _filtered_rank(scores: np.ndarray, true_id: int, is_known) -> int:
    """1 + candidates scoring strictly lower, known-true candidates skipped."""
    better = np.flatnonzero(scores < scores[true_id])
    return 1 + sum(1 for e in better if not is_known(int(e)))


WORKLOADS = {w.name: w for w in (BatchBuild, IncrementalAppend, KgEval)}
