"""Stage DAG + spark-submit entry (SURVEY.md §3.4).

``transcripts → reassemble (B1) → extract (B3) → canonicalize (B7/B8) →
dicts (B9) → link (B4–B6) → materialize (B10) → evaluate (B12)``

Mention detection (B2, ``extract.detect_mentions``) is a library
operator, not a stage output: no stage reads mentions.

Each stage is a pure DataFrame → DataFrame function wrapped with:
read inputs → build plan → execute → write parquet + ``_SUCCESS`` →
manifest commit (B11), which records the fingerprint of the stage's
inputs and of its outputs. ``--resume`` skips a stage only while both
still match: an output deleted, truncated or rewritten after its commit
(or left without ``_SUCCESS`` by a crash) re-runs the stage, and so does
a crash between the write and the commit. Changing any upstream output
invalidates everything downstream automatically (the fingerprint of a
stage includes its input stage's output listing).

Launch: ``spark-submit --py-files kgforge.zip run_pipeline.py ...``.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from . import fixtures, io_openke
from .manifest import Manifest, fingerprint_config, fingerprint_paths
from .session import read_parquet, tiny_df
from .stages import extract, link, materialize, reassemble


#: The dicts stage's dictionaries, the values of its ``kind`` partition
#: column, in the order ``Pipeline._dicts`` returns them.
_DICT_KINDS = ("entity", "relation")

#: Up to this many distinct alias names, canonicalize runs B7/B8 on the
#: driver (see ``Pipeline.stage_canonicalize``).
_DRIVER_NAMES = 10_000


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _write_counted(df: DataFrame, path: str) -> int:
    """Write + row count in ONE job: the count rides the write via
    ``df.observe`` instead of a count-after-write re-read — each re-read
    was a whole extra (footer-only, but scheduled) job per stage."""
    obs = Observation()
    _write(df.observe(obs, F.count(F.lit(1)).alias("n")), path)
    return int(obs.get["n"])


class Pipeline:
    """The stage DAG over one work directory. ``dense_ids_impl`` ("sort"
    or "two_phase") is accepted for existing callers and ignored: both
    values run :func:`materialize.dense_ids`, the one dense-id
    implementation, so it is not part of the config fingerprint."""

    STAGES = ["reassemble", "extract", "canonicalize", "dicts", "link", "materialize", "evaluate"]

    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        work_dir: str,
        gazetteer_path: str,
        patterns_path: str,
        model: str = "transe",
        norm: int = 1,
        out_partitions: int = 16,
        resume: bool = False,
        embeddings_seed: int = 42,
        dense_ids_impl: str = "sort",
        embeddings_path: str | None = None,
        bucket_table: str | None = None,
        export_ntriples: bool = False,
    ):
        self.spark = spark
        self.input_path = input_path
        self.work = work_dir
        self.gazetteer_path = gazetteer_path
        self.patterns_path = patterns_path
        self.model = model
        self.norm = norm
        self.out_partitions = out_partitions
        self.resume = resume
        self.embeddings_seed = embeddings_seed
        self.embeddings_path = embeddings_path
        self.bucket_table = bucket_table
        self.export_ntriples = export_ntriples
        if dense_ids_impl not in ("sort", "two_phase"):
            raise ValueError(dense_ids_impl)
        os.makedirs(work_dir, exist_ok=True)
        self.manifest = Manifest(work_dir)
        self.cfg_fp = fingerprint_config(
            {
                "model": model,
                "norm": norm,
                "out_partitions": out_partitions,
                "embeddings_seed": embeddings_seed,
                "embeddings_path": embeddings_path or "",
                "bucket_table": bucket_table or "",
                # in the fingerprint so toggling the export re-runs
                # materialize instead of silently skipping the write
                "export_ntriples": bool(export_ntriples),
            }
        )
        self.timings: dict[str, float] = {}

    # -- helpers ------------------------------------------------------------

    def _out(self, stage: str) -> str:
        return os.path.join(self.work, stage)

    def _run_stage(self, stage: str, input_paths: list[str], outputs: list[str], fn) -> None:
        fp = fingerprint_paths(*input_paths) + ":" + self.cfg_fp
        if self.resume and self.manifest.is_done(stage, fp, fingerprint_paths(*outputs)):
            self.timings[stage] = 0.0
            return
        t0 = time.time()
        extra = fn() or {}
        wall = (time.time() - t0) * 1000
        self.timings[stage] = wall / 1000
        rows = extra.pop("row_count", None)
        self.manifest.commit(stage, fp, fingerprint_paths(*outputs), rows, wall, extra=extra or None)

    # -- stages -------------------------------------------------------------

    def stage_reassemble(self) -> dict:
        df = read_parquet(self.spark, self.input_path)
        ordered = reassemble.ordered_turns(df)
        # write straight out of the window's shuffle partitioning — an
        # extra repartition() here would be a second full shuffle
        n = _write_counted(ordered, self._out("reassemble"))
        return {"row_count": n}

    def stage_extract(self) -> dict:
        turns = read_parquet(self.spark, self._out("reassemble"))
        # dictionary-sized inputs: the driver reads them without a job
        gaz_pdf = pd.read_parquet(self.gazetteer_path)
        pat_pdf = pd.read_parquet(self.patterns_path)
        tri = extract.extract_triples(turns, gaz_pdf, pat_pdf)
        tri = extract.surface_triples_dedup(tri)
        n = _write_counted(tri, os.path.join(self._out("extract"), "triples"))
        return {"row_count": n}

    def stage_canonicalize(self) -> dict:
        """B7/B8 — alias canonicalization over *observed* surfaces.

        MinHash-LSH pairs + connected components over the union of
        extracted subject/object surfaces and the gazetteer aliases.
        Gazetteer canonicals act as anchors: candidate pairs that would
        merge two *different* known canonicals are dropped (supervised
        anchoring), every component maps to its (min) anchored canonical,
        components with no anchor canonicalize to their min surface —
        so unseen alias variants ride along with known groups. A surface
        the gazetteer lists under two canonicals is known as the min one.

        The alias universe is dictionary-scale (distinct surfaces, not
        the corpus). Up to ``_DRIVER_NAMES`` names it comes back in one
        collect, and the pairs, the anchor filter and union-find run on
        the driver; above that the distributed ``alias_pairs →
        connected_components`` chain runs. Either way one Spark plan
        builds and writes ``alias_map(surface, canonical)``, the
        dictionary of the dicts and link stages: 6 jobs on the unit
        fixture.
        """
        from .stages import canonicalize as canon

        tri = read_parquet(self.spark, os.path.join(self._out("extract"), "triples"))
        gaz = pd.read_parquet(self.gazetteer_path, columns=["surface", "canonical"])
        own = gaz.groupby("surface", as_index=False)["canonical"].min()
        canon_of = dict(zip(own["surface"], own["canonical"]))
        own_df = tiny_df(self.spark, own.itertuples(index=False), "name string, _own string")
        # pinned: the gate's collect, the distributed chain and the
        # alias_map plan all read it
        names = (
            tri.select(F.col("subj").alias("name"))
            .unionByName(tri.select(F.col("obj").alias("name")))
            .unionByName(own_df.select("name"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        head = names.limit(_DRIVER_NAMES + 1).toPandas()["name"]
        if len(head) <= _DRIVER_NAMES:
            pairs = canon.drop_cross_anchor(canon.alias_pairs_local(head.tolist()), canon_of)
            cc = tiny_df(
                self.spark, canon.unionfind_components(pairs).itertuples(index=False),
                "node string, component string",
            )
        else:
            pairs = canon.alias_pairs(names)
            cc = canon.connected_components(pairs.mapInPandas(
                lambda it: (canon.drop_cross_anchor(p, canon_of) for p in it), pairs.schema
            ))
        # fallback chain: anchored canonical (the min known canonical in
        # the component, own one included) > min surface in component
        alias_map = (
            names.join(F.broadcast(cc.withColumnRenamed("node", "name")), "name", "left")
            .join(F.broadcast(own_df), "name", "left")
            .withColumn("component", F.coalesce("component", "name"))
            .select(
                F.col("name").alias("surface"),
                F.coalesce(
                    F.min("_own").over(Window.partitionBy("component")), "component"
                ).alias("canonical"),
            )
        )
        n = _write_counted(alias_map.coalesce(1), os.path.join(self._out("canonicalize"), "alias_map"))
        return {"row_count": n}

    def _alias_map(self):
        return read_parquet(self.spark, os.path.join(self._out("canonicalize"), "alias_map"))

    def stage_dicts(self) -> dict:
        """B9 — both dense-id dictionaries in one Spark plan and one write.

        The entity names (canonicals of the alias map) and the relation
        names (pattern predicates) are tagged with their ``kind``, shuffled
        once on it, and :func:`materialize.dense_ids` numbers each kind
        ``0..N-1`` by name in one window partition per kind. The write is
        partitioned by ``kind`` (``dicts/kind=entity``,
        ``dicts/kind=relation``, one file each), and both dictionary sizes
        ride it as an ``Observation``, so sizing the embeddings needs no
        re-read. The seeded embedding checkpoint is written on the driver:
        2 jobs on the unit fixture.
        """
        pats = read_parquet(self.spark, self.patterns_path)
        names = self._alias_map().select(
            F.lit("entity").alias("kind"), F.col("canonical").alias("name")
        ).unionByName(pats.select(F.lit("relation").alias("kind"), F.col("pred").alias("name")))
        # hash partitioning on kind clusters both the distinct and the
        # window: the plan has one Exchange
        ids = materialize.dense_ids(names.repartition("kind"), by=("kind",))
        obs = Observation()
        sizes = [F.count_if(F.col("kind") == k).alias(k) for k in _DICT_KINDS]
        ids.observe(obs, *sizes).write.mode("overwrite").partitionBy("kind").parquet(
            self._out("dicts")
        )
        n_ent, n_rel = (int(obs.get[k]) for k in _DICT_KINDS)
        # A20: the model parameters the link/eval stages score with live
        # in a Parquet (id, vec) checkpoint. A trained checkpoint
        # (training.train* → io_openke.write_embeddings_parquet) plugs in
        # via embeddings_path; otherwise seeded frozen embeddings sized
        # to the dictionaries are generated once and checkpointed here —
        # either way downstream stages READ the same format.
        if self.embeddings_path is None:
            emb = fixtures.gen_embeddings(
                n_ent=n_ent, n_rel=n_rel, dim=16, seed=self.embeddings_seed
            )
            io_openke.write_embeddings_parquet(emb, self._emb_dir())
        return {"n_entities": n_ent, "n_relations": n_rel}

    def _dict_path(self, kind: str) -> str:
        return os.path.join(self._out("dicts"), f"kind={kind}")

    def _dicts(self):
        """``(entity2id, relation2id)`` as ``(name, id)`` DataFrames."""
        return tuple(read_parquet(self.spark, self._dict_path(k)) for k in _DICT_KINDS)

    def _emb_dir(self) -> str:
        return self.embeddings_path or os.path.join(self.work, "embeddings")

    def _embeddings(self) -> dict[str, np.ndarray]:
        """Link-scoring parameters from the A20 Parquet checkpoint
        (written by stage_dicts, or an external trained checkpoint via
        ``embeddings_path``). NumPy load is parameter-sized by design —
        the same matrices get broadcast to every worker anyway — and
        the driver reads the files without a Spark job."""
        return io_openke.read_embeddings_parquet(self._emb_dir())

    def stage_link(self) -> dict:
        tri = read_parquet(self.spark, os.path.join(self._out("extract"), "triples"))
        e2id, r2id = self._dicts()
        emb = self._embeddings()
        # the alias dictionary is the canonicalize stage's CC output —
        # B7/B8 are load-bearing, not decorative
        linked = link.link_triples(
            self.spark, tri, self._alias_map(), e2id, r2id, emb, self.model, self.norm
        )
        _write(linked, self._out("link"))
        return {}

    def stage_materialize(self) -> dict:
        linked = read_parquet(self.spark, self._out("link"))
        out = os.path.join(self._out("materialize"), "triples")
        lineage = materialize.salted_write(
            linked.select("s", "p", "o"),
            out,
            n_partitions=self.out_partitions,
            salt_cols=("s",),
        )
        # OpenKE-format export (A20 interchange). Dictionaries are
        # dictionary-sized one-file outputs, read on the driver without a
        # Spark job; the triple file is data-sized and is written
        # distributed + stream-concatenated. The fact table is read back
        # rather than re-executing the link plan.
        fact = read_parquet(self.spark, out).select("s", "p", "o")
        exp = os.path.join(self._out("materialize"), "openke")
        os.makedirs(exp, exist_ok=True)
        for kind in _DICT_KINDS:
            io_openke.write_dict_txt(
                pd.read_parquet(self._dict_path(kind)), os.path.join(exp, f"{kind}2id.txt")
            )
        io_openke.write_triples_txt_spark(
            fact.selectExpr("s as h", "o as t", "p as r"),
            os.path.join(exp, "train2id.txt"),
            n_partitions=self.out_partitions,
        )
        # optional bucketed copy of the fact table: pays the subject-key
        # shuffle ONCE at write time so every downstream groupBy/join on
        # `s` (degree stats, blocked-eval candidate ingestion, self-joins)
        # runs with zero Exchange — the canonical layout for a fact table
        # consumed by many jobs (joins.write_bucketed).
        if self.bucket_table:
            from .joins import write_bucketed

            write_bucketed(
                fact,
                self.bucket_table,
                key="s",
                buckets=self.out_partitions,
            )
        # optional W3C interchange export: the canonical STRING triples
        # as N-Triples (io_rdf) next to the OpenKE txt. The fact table
        # holds dense ids, so map back through the (dictionary-sized,
        # broadcast) entity/relation dicts — the export vocabulary is
        # exactly entity2id/relation2id, and the write itself is
        # distributed with no driver concatenation (no count header).
        if self.export_ntriples:
            from .io_rdf import write_ntriples

            e2id, r2id = self._dicts()
            e_s = e2id.select(F.col("id").alias("s"), F.col("name").alias("_s"))
            e_o = e2id.select(F.col("id").alias("o"), F.col("name").alias("_o"))
            r_p = r2id.select(F.col("id").alias("p"), F.col("name").alias("_p"))
            named = (
                fact.join(F.broadcast(e_s), "s")
                .join(F.broadcast(r_p), "p")
                .join(F.broadcast(e_o), "o")
                .select(
                    F.col("_s").alias("s"),
                    F.col("_p").alias("p"),
                    F.col("_o").alias("o"),
                )
            )
            write_ntriples(
                named, os.path.join(exp, "ntriples"),
                n_partitions=self.out_partitions,
            )
        return {"row_count": int(lineage["row_count"]), "lineage": lineage}

    def stage_evaluate(self) -> dict:
        """B12 gate: link-prediction protocol on the CONSTRUCTED KG.

        A deterministic content-hash bucket of the materialized triples
        (~10%, capped at 500, ordered take) is ranked against the full
        entity dictionary with the same checkpointed embeddings the link
        stage scored with — so a regression anywhere upstream
        (extraction, canonicalization, dense ids, materialization) moves
        ``eval_metrics.json``, and the stage's manifest dependency on
        materialize is real. Ranks come from
        ``evaluate.link_prediction_ranks`` with the materialized set
        itself as the known-triple DataFrame: only the known triples that
        share a test triple's fixed slot are collected, so the gate never
        collects the KG to the driver — only the ≤500-row test sample's
        neighbourhood and the final one-row metrics land there. 4 jobs on
        the unit fixture.
        """
        from . import evaluate as ev

        tri = read_parquet(
            self.spark, os.path.join(self._out("materialize"), "triples")
        ).selectExpr("s as h", "o as t", "p as r")
        bucket = F.pmod(F.xxhash64("h", "t", "r"), F.lit(10))
        test = tri.where(bucket == F.lit(9)).orderBy("h", "t", "r").limit(500)
        if test.isEmpty():  # tiny KGs: gate on everything
            test = tri.orderBy("h", "t", "r").limit(500)
        ranks = ev.link_prediction_ranks(
            self.spark, test, self._embeddings(), tri, model=self.model, norm=self.norm
        )
        # the gate count rides the metrics query: one execution of ranks
        obs = Observation()
        counted = ranks.observe(obs, F.count(F.lit(1)).alias("n"))
        metrics = ev.link_prediction_metrics(counted).collect()[0].asDict()
        metrics["n_gate_triples"] = obs.get["n"]
        with open(os.path.join(self.work, "eval_metrics.json"), "w") as f:
            json.dump({k: float(v) for k, v in metrics.items()}, f, indent=1, sort_keys=True)
        return {"hits10_filt": float(metrics["hits10_filt"]), "mrr_filt": float(metrics["mrr_filt"])}

    # -- driver -------------------------------------------------------------

    def run(self, stages: list[str] | None = None) -> dict:
        """Run ``stages`` (all by default) in order. A patterns table with
        no rows names no relation and raises before any Spark job: pandas
        writes its empty ``pred`` column as Arrow ``null``, and the dicts
        stage's union would cast the entity names to BIGINT."""
        stages = stages or self.STAGES
        if {"extract", "dicts"} & set(stages) and pd.read_parquet(
            self.patterns_path, columns=["pred"]
        ).empty:
            raise ValueError(f"patterns table {self.patterns_path} has no rows")
        deps = {
            "reassemble": [self.input_path],
            "extract": [self._out("reassemble"), self.gazetteer_path, self.patterns_path],
            "canonicalize": [self._out("extract"), self.gazetteer_path],
            "dicts": [self._out("canonicalize"), self.patterns_path],
            "link": [self._out("extract"), self._out("dicts"), self._out("canonicalize"), self._emb_dir()],
            "materialize": [self._out("link"), self._out("dicts")],
            "evaluate": [self._out("materialize"), self._emb_dir()],
        }
        out = self._out
        exp = os.path.join(out("materialize"), "openke")
        outputs = {
            "reassemble": [out("reassemble")],
            "extract": [os.path.join(out("extract"), "triples")],
            "canonicalize": [os.path.join(out("canonicalize"), "alias_map")],
            "dicts": [out("dicts")]
            + ([os.path.join(self._emb_dir(), "components")] if self.embeddings_path is None else []),
            "link": [out("link")],
            "materialize": [os.path.join(out("materialize"), "triples")]
            + [os.path.join(exp, f"{t}.txt") for t in ("entity2id", "relation2id", "train2id")],
            "evaluate": [os.path.join(self.work, "eval_metrics.json")],
        }
        for s in stages:
            self._run_stage(s, deps[s], outputs[s], getattr(self, f"stage_{s}"))
        return {"timings_sec": self.timings, "manifest": self.manifest.entries()}
