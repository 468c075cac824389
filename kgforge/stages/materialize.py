"""Stages B9/B10 — dense-ID assignment + skew-aware triple materialization.

Reference parity: dictionaries reproduce the reference's dense id spaces
(``entity2id.txt`` ids ``0..|E|-1``; OpenKEonSpark
``base/Reader.h::importTrainFiles``, recalled symbol — SURVEY.md §0) and
the output triples are the reference's ``(h, t, r)``-style integer rows,
named ``(s, p, o)`` per the north_star contract.

Dense IDs are deterministic: ``row_number() over (order by name)``, per
dictionary. Never ``monotonically_increasing_id``
(partition-layout-dependent). There is one implementation, a sort per
dictionary in one window partition: dictionaries hold the *distinct
canonical names* (entities) and predicates, orders of magnitude fewer
rows than the corpus, so one partition holds each.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(names: DataFrame, name_col: str = "name", by: tuple[str, ...] = ()) -> DataFrame:
    """Distinct names → ``(*by, name, id)`` with ids dense 0..N-1 per
    value of the ``by`` columns, ordered by name. Without ``by`` it is a
    single-partition global row_number, sized for DICTIONARY cardinality
    (distinct names, not corpus rows); it costs fewer jobs than any
    range-bucketed variant at that size. With ``by`` (the pipeline's
    ``kind``), several dictionaries are numbered in one plan, one window
    partition each. Spark's WindowExec single-partition warning on the
    global operator is expected and benign: Spark 4 emits it whenever the
    window executes in one partition, even under a constant partition key
    (verified — both lit(1) and column-derived constants still warn), so
    it cannot be silenced without changing the plan."""
    w = Window.partitionBy(*by).orderBy("name")
    return (
        names.select(*by, F.col(name_col).alias("name"))
        .distinct()
        .withColumn("id", (F.row_number().over(w) - F.lit(1)).cast("long"))
    )


def to_id_triples(
    canon_triples: DataFrame,
    entity2id: DataFrame,
    relation2id: DataFrame,
    subj_col: str = "subj_canon",
    pred_col: str = "pred",
    obj_col: str = "obj_canon",
) -> DataFrame:
    """Canonical string triples → distinct ``(s, p, o)`` long triples.

    Dictionaries are broadcast (small by construction) so the big fact
    table never shuffles for the id lookup.
    """
    e = F.broadcast(entity2id)
    r = F.broadcast(relation2id)
    return (
        canon_triples
        .join(e.withColumnRenamed("name", subj_col).withColumnRenamed("id", "s"), subj_col)
        .join(e.withColumnRenamed("name", obj_col).withColumnRenamed("id", "o"), obj_col)
        .join(r.withColumnRenamed("name", pred_col).withColumnRenamed("id", "p"), pred_col)
        .select("s", "p", "o")
        .dropDuplicates(["s", "p", "o"])
    )


def salted_partitions(df: DataFrame, n_partitions: int, salt_cols: tuple[str, ...] = ("s",)) -> DataFrame:
    """Distinct rows of ``df`` with their salted ``part`` column, hash
    partitioned on ``part`` into ``n_partitions``: one shuffle.

    ``part`` is ``pmod(hash(salt_cols..., salt), n)`` — the extra salt
    term spreads hot subject keys across partitions so no single output
    file/task absorbs a hot entity. The salt is ``pmod(xxhash64(<all
    columns>), 16)`` — a *content* hash, never ``rand()``: partition
    assignment is a pure function of the row, so two runs (or a resume)
    produce byte-identical partition layout regardless of input
    partitioning. Because ``part`` is a function of the row, duplicate
    rows share it, and the hash partitioning on ``part`` already
    clusters them for the ``dropDuplicates``: the plan holds one
    Exchange. That Exchange carries every raw row (the dedup runs after
    it, with no map-side combine), so it moves fewer rows than a dedup
    shuffle plus a ``part`` shuffle only while rows repeat less than
    about 2× within input partitions (``docs/DESIGN_SCALE.md`` B10)."""
    cols = df.columns
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(16))
    part = F.pmod(F.hash(*[F.col(c) for c in salt_cols], salt), F.lit(n_partitions))
    return (
        df.withColumn("part", part)
        .repartition(n_partitions, "part")
        .dropDuplicates(["part", *cols])
    )


def salted_write(
    df: DataFrame,
    path: str,
    n_partitions: int,
    salt_cols: tuple[str, ...] = ("s",),
    lineage_name: str = "triples",
) -> dict:
    """B10: skew-aware, deduplicating partitioned write with lineage
    counters.

    Writes the distinct rows of ``df`` into hive-style ``part=`` directories
    (Iceberg-shaped salted partitions, see :func:`salted_partitions`), one
    file per directory. Lineage counters come from ``df.observe`` and the
    written files' footers (no second scan).

    Returns the lineage row (dict) that the manifest records: the row
    count, the approximate distinct ``salt_cols[0]`` keys, the rows per
    partition and the largest partition's rows.
    """
    from pyspark.sql import Observation

    obs = Observation(lineage_name)
    salted_partitions(df, n_partitions, salt_cols).observe(
        obs,
        F.count(F.lit(1)).alias("row_count"),
        F.approx_count_distinct(salt_cols[0]).alias("approx_distinct_keys"),
    ).write.mode("overwrite").partitionBy("part").parquet(path)
    lineage = dict(obs.get)
    parts = _partition_rows(path)
    lineage["partitions"] = parts
    lineage["max_partition_rows"] = max(parts.values(), default=0)
    return lineage


def _partition_rows(path: str) -> dict[int, int]:
    """Rows per hive ``part=N`` directory of a just-finished write, summed
    from the Parquet footers on the driver — the write already knows the
    counts, so a read-back aggregation would only add Spark jobs."""
    import pyarrow.parquet as pq

    rows = {}
    for d in os.listdir(path):
        if not d.startswith("part="):
            continue
        files = [f for f in os.listdir(os.path.join(path, d)) if not f.startswith(("_", "."))]
        rows[int(d[len("part="):])] = sum(
            pq.read_metadata(os.path.join(path, d, f)).num_rows for f in files
        )
    return dict(sorted(rows.items()))
