"""Stage DAG + spark-submit entry (SURVEY.md §3.4).

``transcripts → reassemble (B1) → extract (B3) → canonicalize (B7/B8) →
dicts (B9) → link (B4–B6) → materialize (B10) → evaluate (B12)``

Mention detection (B2, ``extract.detect_mentions``) is a library
operator, not a stage output: no stage reads mentions.

Each stage is a pure DataFrame → DataFrame function wrapped with:
read inputs → build plan → execute → write parquet + ``_SUCCESS`` →
manifest commit (B11). ``--resume`` skips stages whose manifest entry
matches the current input fingerprint; changing any upstream output
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
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fixtures, io_openke
from .manifest import Manifest, fingerprint_config, fingerprint_paths
from .session import read_parquet
from .stages import extract, link, materialize, reassemble


def _write(df: DataFrame, path: str, partitions: int | None = None) -> None:
    w = df.repartition(partitions) if partitions else df
    w.write.mode("overwrite").parquet(path)


def _write_counted(df: DataFrame, path: str, partitions: int | None = None) -> int:
    """Write + row count in ONE job: the count rides the write via
    ``df.observe`` instead of a count-after-write re-read — each re-read
    was a whole extra (footer-only, but scheduled) job per stage."""
    from pyspark.sql import Observation

    obs = Observation()
    _write(df.observe(obs, F.count(F.lit(1)).alias("n")), path, partitions)
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

    def _run_stage(self, stage: str, input_paths: list[str], fn) -> None:
        fp = fingerprint_paths(*input_paths) + ":" + self.cfg_fp
        if self.resume and self.manifest.is_done(stage, fp):
            self.timings[stage] = 0.0
            return
        t0 = time.time()
        extra = fn() or {}
        wall = (time.time() - t0) * 1000
        self.timings[stage] = wall / 1000
        rows = extra.pop("row_count", None)
        self.manifest.commit(stage, fp, rows, wall, extra=extra or None)

    def _gaz(self):
        return read_parquet(self.spark, self.gazetteer_path)

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
        gaz_pdf = self._gaz().toPandas()
        pat_pdf = read_parquet(self.spark, self.patterns_path).toPandas()
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
        so unseen alias variants ride along with known groups.

        Outputs: ``alias_map(surface, canonical)`` — the link stage's
        dictionary — and ``entities(canonical, aliases)``.
        """
        from .stages import canonicalize as canon

        tri = read_parquet(self.spark, os.path.join(self._out("extract"), "triples"))
        gaz = self._gaz()
        gazmap = gaz.select("surface", "canonical").dropDuplicates(["surface"])
        # pinned: referenced by the LSH chain AND the alias_map build —
        # each reference would otherwise re-read + re-distinct the triples
        names = (
            tri.select(F.col("subj").alias("name"))
            .unionByName(tri.select(F.col("obj").alias("name")))
            .unionByName(gaz.select(F.col("surface").alias("name")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # driver_threshold: like the CC fast path below, the alias
        # universe is dictionary-scale, so the LSH chain's ~10 small
        # jobs collapse into one driver pass under the gate (identical
        # output; above the gate the distributed chain runs unchanged)
        pairs = canon.alias_pairs(names, threshold=0.5, driver_threshold=10_000)
        a_can = gazmap.select(F.col("surface").alias("a"), F.col("canonical").alias("_ca"))
        b_can = gazmap.select(F.col("surface").alias("b"), F.col("canonical").alias("_cb"))
        anchored = (
            pairs.join(F.broadcast(a_can), "a", "left")
            .join(F.broadcast(b_can), "b", "left")
            .where(
                F.col("_ca").isNull() | F.col("_cb").isNull() | (F.col("_ca") == F.col("_cb"))
            )
            .select("a", "b")
        )
        # driver_threshold: the alias graph is DICTIONARY-scale (bounded
        # by distinct surfaces, not the corpus), so its CC wall is
        # per-round job overhead — the union-find fast path collapses
        # ~8 scheduling rounds into one job below the gate; above it the
        # distributed loop runs unchanged (see connected_components)
        cc = canon.connected_components(anchored, driver_threshold=100_000)
        # component -> min known canonical (if any anchor in component)
        comp_canon = (
            cc.join(gazmap.withColumnRenamed("surface", "node"), "node", "left")
            .groupBy("component")
            .agg(F.min("canonical").alias("anchor_canonical"))
        )
        alias_map = (
            names.join(cc.withColumnRenamed("node", "name"), "name", "left")
            .withColumn("component", F.coalesce("component", "name"))
            .join(F.broadcast(comp_canon), "component", "left")
            # fallback chain: anchored canonical > own gazetteer canonical > min surface in component
            .join(F.broadcast(gazmap.withColumnRenamed("surface", "name").withColumnRenamed("canonical", "_own")), "name", "left")
            .withColumn("canonical", F.coalesce("anchor_canonical", "_own", "component"))
            .select(F.col("name").alias("surface"), "canonical")
        )
        n = _write_counted(alias_map, os.path.join(self._out("canonicalize"), "alias_map"), 1)
        # the entities rollup reads the written parquet back rather than
        # re-executing the alias_map join plan
        ents = (
            self._alias_map().groupBy("canonical")
            .agg(F.sort_array(F.collect_set("surface")).alias("aliases"))
        )
        _write(ents, os.path.join(self._out("canonicalize"), "entities"), 1)
        return {"row_count": n}

    def _alias_map(self):
        return read_parquet(self.spark, os.path.join(self._out("canonicalize"), "alias_map"))

    def stage_dicts(self) -> dict:
        # one dense-id path (materialize.dense_ids): a single-partition
        # sort, sized for dictionary cardinality. The dictionary sizes
        # ride the writes, so sizing the embeddings needs no re-read.
        pats = read_parquet(self.spark, self.patterns_path)
        e2id = materialize.dense_ids(self._alias_map().select(F.col("canonical").alias("name")))
        r2id = materialize.dense_ids(pats.select(F.col("pred").alias("name")))
        n_ent = _write_counted(e2id, os.path.join(self._out("dicts"), "entity2id"), 1)
        n_rel = _write_counted(r2id, os.path.join(self._out("dicts"), "relation2id"), 1)
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
            io_openke.write_embeddings_parquet(self.spark, emb, self._emb_dir())
        return {"n_entities": n_ent, "n_relations": n_rel}

    def _dicts(self):
        d = self._out("dicts")
        return (
            read_parquet(self.spark, os.path.join(d, "entity2id")),
            read_parquet(self.spark, os.path.join(d, "relation2id")),
        )

    def _emb_dir(self) -> str:
        return self.embeddings_path or os.path.join(self.work, "embeddings")

    def _embeddings(self) -> dict[str, np.ndarray]:
        """Link-scoring parameters from the A20 Parquet checkpoint
        (written by stage_dicts, or an external trained checkpoint via
        ``embeddings_path``). NumPy load is parameter-sized by design —
        the same matrices get broadcast to every worker anyway."""
        return io_openke.read_embeddings_parquet(self.spark, self._emb_dir())

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
            linked.select("s", "p", "o").dropDuplicates(["s", "p", "o"]),
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
        for name in ("entity2id", "relation2id"):
            io_openke.write_dict_txt(
                pd.read_parquet(os.path.join(self._out("dicts"), name)),
                os.path.join(exp, f"{name}.txt"),
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
        ``evaluate.link_prediction_ranks_blocked`` with the materialized
        set itself as the known-triple filter, consumed **relationally**
        (joined into per-candidate skip lists; the gate never collects
        the KG to the driver — only the ≤500-row test sample, its h/t
        vectors and the final one-row metrics land there).
        """
        from . import evaluate as ev

        tri = read_parquet(
            self.spark, os.path.join(self._out("materialize"), "triples")
        ).selectExpr("s as h", "o as t", "p as r")
        bucket = F.pmod(F.xxhash64("h", "t", "r"), F.lit(10))
        test = tri.where(bucket == F.lit(9)).orderBy("h", "t", "r").limit(500)
        if test.isEmpty():  # tiny KGs: gate on everything
            test = tri.orderBy("h", "t", "r").limit(500)
        emb = self._embeddings()
        ranks = ev.link_prediction_ranks_blocked(
            self.spark, test, emb, tri, model=self.model, norm=self.norm
        ).localCheckpoint()  # ≤500 rows; one execution feeds metrics + count
        metrics = ev.link_prediction_metrics(ranks).toPandas().iloc[0].to_dict()
        metrics["n_gate_triples"] = int(ranks.count())
        with open(os.path.join(self.work, "eval_metrics.json"), "w") as f:
            json.dump({k: float(v) for k, v in metrics.items()}, f, indent=1, sort_keys=True)
        return {"hits10_filt": float(metrics["hits10_filt"]), "mrr_filt": float(metrics["mrr_filt"])}

    # -- driver -------------------------------------------------------------

    def run(self, stages: list[str] | None = None) -> dict:
        stages = stages or self.STAGES
        deps = {
            "reassemble": [self.input_path],
            "extract": [self._out("reassemble"), self.gazetteer_path, self.patterns_path],
            "canonicalize": [self._out("extract"), self.gazetteer_path],
            "dicts": [self._out("canonicalize"), self.patterns_path],
            "link": [self._out("extract"), self._out("dicts"), self._out("canonicalize"), self._emb_dir()],
            "materialize": [self._out("link"), self._out("dicts")],
            "evaluate": [self._out("materialize"), self._emb_dir()],
        }
        for s in stages:
            self._run_stage(s, deps[s], getattr(self, f"stage_{s}"))
        return {"timings_sec": self.timings, "manifest": self.manifest.entries()}
