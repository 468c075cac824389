"""Stages B9/B10 — dense-ID assignment + skew-aware triple materialization.

Reference parity: dictionaries reproduce the reference's dense id spaces
(``entity2id.txt`` ids ``0..|E|-1``; OpenKEonSpark
``base/Reader.h::importTrainFiles``, recalled symbol — SURVEY.md §0) and
the output triples are the reference's ``(h, t, r)``-style integer rows,
named ``(s, p, o)`` per the north_star contract.

Dense IDs are deterministic: ``row_number() over (order by name)``.
Never ``monotonically_increasing_id`` (partition-layout-dependent).
There is one implementation, a single-partition sort: dictionaries hold
the *distinct canonical names* (entities) and predicates, orders of
magnitude fewer rows than the corpus, so one partition holds them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Distinct names → ``(name, id)`` with ids dense 0..N-1, ordered by
    name. Deliberately a single-partition global row_number, sized for
    DICTIONARY cardinality (distinct names, not corpus rows); it costs
    fewer jobs than any range-bucketed variant at that size. Spark's
    WindowExec single-partition warning on this operator is expected and
    benign: Spark 4 emits it whenever the window executes in one
    partition, even under a constant partition key (verified — both
    lit(1) and column-derived constants still warn), so it cannot be
    silenced without changing the plan."""
    w = Window.orderBy(name_col)
    return (
        names.select(F.col(name_col).alias("name"))
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


def salted_write(
    df: DataFrame,
    path: str,
    n_partitions: int,
    salt_cols: tuple[str, ...] = ("s",),
    lineage_name: str = "triples",
) -> dict:
    """B10: skew-aware partitioned write with lineage counters.

    Partitions by ``pmod(hash(salt_cols..., salt), n)`` — the extra salt
    term spreads hot subject keys across partitions so no single output
    file/task absorbs a hot entity. The salt is ``pmod(xxhash64(<all
    columns>), 16)`` — a *content* hash, never ``rand()``: partition
    assignment is a pure function of the row, so two runs (or a resume)
    produce byte-identical partition layout regardless of input
    partitioning. Lineage counters come from ``df.observe`` and the
    written files' footers (no second scan).

    Returns the lineage row (dict) that the manifest records.
    """
    from pyspark.sql import Observation

    obs = Observation(lineage_name)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(16))
    salted = df.withColumn(
        "part",
        F.pmod(
            F.hash(*[F.col(c) for c in salt_cols], salt),
            F.lit(n_partitions),
        ),
    )
    observed = salted.observe(
        obs,
        F.count(F.lit(1)).alias("row_count"),
        F.approx_count_distinct(salt_cols[0]).alias("approx_distinct_keys"),
    )
    # hive-style `part=` directories (Iceberg-shaped salted partitions);
    # `repartition` on the salt first so each output dir is one file
    observed.repartition(n_partitions, "part").write.mode("overwrite").partitionBy(
        "part"
    ).parquet(path)
    lineage = dict(obs.get)
    parts = _partition_rows(path)
    from ..session import tiny_df

    lin = tiny_df(df.sparkSession, list(parts.items()), "part int, rows bigint")
    lin.coalesce(1).write.mode("overwrite").parquet(path + "_lineage")
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
