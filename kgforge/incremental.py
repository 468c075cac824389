"""B13 — incremental KG construction over catalog append snapshots.

The batch pipeline (pipeline.py) rebuilds from scratch; a production
ingest appends transcripts continuously. This module composes existing
pieces into an incremental path:

* catalog append snapshots give a precise "what arrived since I last
  processed" diff (:meth:`catalog.IcebergLiteTable.read_added` — reads
  ONLY the new commits' data dirs, never rescans the table);
* :func:`build_triples` — the dictionary-link composition the streaming
  ingest uses (``str_continuous_kg``), batch flavor: per-turn extraction
  → broadcast gazetteer link → dense-id triples;
* :func:`incremental_build` — previous output ∪ build(diff), distinct.

Equal to a full rebuild BY CONSTRUCTION: extraction is per-turn and
dictionary linking is per-triple (no cross-document state), so the
build distributes over input unions — ``build(A ∪ B) = build(A) ∪
build(B)`` — and the final distinct collapses re-extracted duplicates.
The contract query ``b13_incremental_build`` pins exactly this: its
DuckDB oracle is the FULL rebuild over all transcripts. (Alias
canonicalization via B7/B8 is intentionally absent here, same caveat as
the streaming path: the LSH/CC alias map is corpus-global state — its
refresh is the batch pipeline's job, after which the refreshed map
simply replaces ``gaz`` below.)

Cost scales with the NEW transcripts: the diff read is diff-sized, the
extraction/link stages are diff-sized with broadcast dictionaries, and
the only corpus-sized touch is the one distinct shuffle against the
previous output — the same shape Iceberg MERGE-append consumers pay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import IcebergLiteTable
from .stages import extract, materialize


def dictionary_link_triples(
    extracted: DataFrame, gaz: DataFrame, e2id: DataFrame, r2id: DataFrame
) -> DataFrame:
    """Surface triples → distinct dense-id ``(s, p, o)`` via the
    gazetteer dictionary: two broadcast surface → canonical joins, then
    :func:`materialize.to_id_triples` (three more broadcast joins) —
    dictionaries are dictionary-sized by definition, so the triple table
    never shuffles."""
    surf2canon = F.broadcast(gaz.select("surface", "canonical"))
    canon = extracted.join(
        surf2canon.withColumnRenamed("surface", "subj").withColumnRenamed("canonical", "_sc"),
        "subj",
    ).join(
        surf2canon.withColumnRenamed("surface", "obj").withColumnRenamed("canonical", "_oc"),
        "obj",
    )
    return materialize.to_id_triples(canon, e2id, r2id, "_sc", "pred", "_oc")


def build_triples(
    transcripts: DataFrame,
    gaz_pdf,
    pat_pdf,
    gaz: DataFrame,
    e2id: DataFrame,
    r2id: DataFrame,
) -> DataFrame:
    """Transcript rows → distinct dense-id triples (extract + link)."""
    tri = extract.extract_triples(transcripts, gaz_pdf, pat_pdf)
    return dictionary_link_triples(tri, gaz, e2id, r2id)


def incremental_build(
    spark: SparkSession,
    table: IcebergLiteTable,
    since_snapshot_id: int,
    prev_triples: DataFrame,
    gaz_pdf,
    pat_pdf,
    gaz: DataFrame,
    e2id: DataFrame,
    r2id: DataFrame,
) -> DataFrame:
    """One incremental step: process ONLY the transcripts appended after
    ``since_snapshot_id`` and fold their triples into ``prev_triples``
    (the output of processing up to that snapshot). Returns the full
    up-to-date distinct triple set — hash-equal to rebuilding from the
    current snapshot (see module docstring for why)."""
    new_rows = table.read_added(spark, since_snapshot_id)
    new_triples = build_triples(new_rows, gaz_pdf, pat_pdf, gaz, e2id, r2id)
    return prev_triples.unionByName(new_triples).dropDuplicates(["s", "p", "o"])
