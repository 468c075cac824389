"""Stages B4–B6 — entity-linking: candidate generation, translational
kernel scoring, best-link selection.

* B4: normalize the mention surface (casefold, strip punctuation) and
  broadcast-join the alias dictionary → candidate canonical entities.
  The dictionary is small; the mention table never shuffles for this.
* B5: score candidate (subj, pred, obj) id-combinations with a
  translational kernel (A7–A10) — embedding matrices broadcast once as
  NumPy, scores computed vectorized per Arrow batch
  (BASELINE.json north_star: "vectorized NumPy inside pandas UDFs —
  never per-row Python").
* B6: the minimum of ``(link_score, s, o)`` per extracted triple wins;
  deterministic tie-break on ids.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import kernels
from ..session import pin_broadcast
from .extract import normalize_surface


def candidate_links(surfaced: DataFrame, gazetteer: DataFrame, col: str, out: str) -> DataFrame:
    """B4: add candidate canonical names for surface column ``col``.

    ``gazetteer``: (surface, canonical[, mtype]) Spark DF. Join is on the
    normalized surface; broadcast (dictionary-scale right side).
    """
    alias = (
        gazetteer.select(
            normalize_surface(F.col("surface")).alias("_norm"),
            F.col("canonical").alias(out),
        )
        .dropDuplicates(["_norm", out])
    )
    return (
        surfaced.withColumn("_norm", normalize_surface(F.col(col)))
        .join(F.broadcast(alias), "_norm", "left")
        .drop("_norm")
    )


def link_triples(
    spark: SparkSession,
    surface_triples: DataFrame,
    gazetteer: DataFrame,
    entity2id: DataFrame,
    relation2id: DataFrame,
    emb: dict[str, np.ndarray],
    model: str = "transe",
    norm: int = 1,
) -> DataFrame:
    """B4+B5+B6: surface triples → linked ``(..., s, p, o, link_score)``.

    Every (subj-candidate × obj-candidate) combination is scored with the
    kernel over broadcast embeddings; rank-1 per extracted triple wins.
    Unlinkable triples (no candidate for either side) are dropped — they
    feed the canonicalization stage's unseen-alias path instead.

    Precondition: ``surface_triples`` is distinct on ``(conv_id,
    turn_idx, subj, pred, obj)`` (``extract.surface_triples_dedup``
    output, as both callers pass). The best link is then chosen inside
    the partition its candidates are born in; two input rows with one
    key in different partitions would each keep a winner.
    """
    cands = candidate_links(surface_triples, gazetteer, "subj", "subj_canon")
    cands = candidate_links(cands, gazetteer, "obj", "obj_canon")
    cands = cands.where(F.col("subj_canon").isNotNull() & F.col("obj_canon").isNotNull())

    e2 = F.broadcast(entity2id)
    r2 = F.broadcast(relation2id)
    withids = (
        cands.join(e2.withColumnRenamed("name", "subj_canon").withColumnRenamed("id", "s"), "subj_canon")
        .join(e2.withColumnRenamed("name", "obj_canon").withColumnRenamed("id", "o"), "obj_canon")
        .join(r2.withColumnRenamed("name", "pred").withColumnRenamed("id", "p"), "pred")
        # slim before the scoring UDF: every byte here crosses Arrow —
        # canon strings are recoverable from ids downstream.
        .select("conv_id", "turn_idx", "subj", "pred", "obj", "s", "p", "o")
    )

    # B6 best-link selection, min over (link_score, s, o) per extracted
    # triple. Candidate rows for one extracted triple are *born
    # co-partitioned* — they fan out of a single input row via broadcast
    # joins, which never move rows — so the argmin is computable per
    # partition with ZERO shuffle (mapInPandas sort + drop_duplicates).
    # The b5 oracle check guards the co-partitioning assumption. Scoring
    # and selection are FUSED into one mapInPandas: two back-to-back
    # pandas stages would ship the full candidate table across the Arrow
    # boundary twice (JVM→Py→JVM→Py→JVM) for no plan benefit.
    keys = ["conv_id", "turn_idx", "subj", "pred", "obj"]

    scored_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in withids.schema.fields
    ) + ", link_score double"
    b_emb = pin_broadcast(spark, emb)

    def score_select(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in batches if len(p)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        pdf["link_score"] = kernels.score_batch(
            model, b_emb.value,
            pdf["s"].to_numpy(np.int64),
            pdf["p"].to_numpy(np.int64),
            pdf["o"].to_numpy(np.int64),
            norm,
        ).astype("float64")
        pdf = pdf.sort_values(["link_score", "s", "o"], kind="stable")
        yield pdf.drop_duplicates(subset=keys, keep="first")

    return withids.mapInPandas(score_select, scored_schema)
