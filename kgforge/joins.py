"""Relational join extensions and co-location utilities.

:func:`asof_join` — the classic time-series join (each left row picks
the LATEST right row at-or-before its timestamp, per key). Spark has no
native ASOF; the naive formulations are a range join (explodes to
O(|L|·|R|) per key before filtering) or a per-key Python loop. This is
the scale-correct composition: tag the two sides, union, ONE window
pass partitioned by key (single shuffle, sort within partition), carry
the last non-null right values forward, keep the left rows. DuckDB's
native ``ASOF JOIN`` is the cross-engine oracle (contract query
``asof_purchases``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: every ``left`` row gains the ``value_cols`` (and
    ``<ts><suffix>``) of the latest ``right`` row with
    ``right.ts <= left.ts`` for the same ``key``; nulls when no prior
    right row exists (LEFT semantics, tie at equal ts matches — same
    rule as DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``).

    ``right`` must be unique per ``(key, ts)`` — pre-aggregate
    otherwise (which of several same-instant rows "the" match is would
    be undefined in any engine).

    Plan shape: one shuffle on ``key`` (the window), no range-join
    candidate explosion; cost is the sort of |L|+|R| rows within each
    key partition — the same shape a windowed lag/lead pays, and skew
    on ``key`` is AQE's standard case.
    """
    # All right-side fields ride in ONE struct carried by a single
    # last(ignorenulls=True): the struct is non-null for every right row
    # even when individual value_cols are null, so the output is always
    # the matched row wholesale — never a column-wise mix of different
    # right rows (carrying each suffixed column independently would pull
    # a non-null value from an OLDER row past a newer row's null,
    # diverging from DuckDB ASOF semantics, which returns the matched
    # row's null).
    rv = F.struct(
        F.col(ts).alias(ts + suffix),
        *[F.col(c).alias(c + suffix) for c in value_cols],
    )
    r = right.select(F.col(key), F.col(ts), rv.alias("_rv")).withColumn(
        "_side", F.lit(0)
    )
    lf = left.withColumn("_side", F.lit(1))
    u = lf.unionByName(r, allowMissingColumns=True)
    # right rows sort BEFORE left rows at equal ts (side 0 < 1) so an
    # exactly-simultaneous right row is matched (inclusive <=); "_rv" as
    # the final sort key makes the pick deterministic (max struct) even
    # if the (key, ts)-uniqueness precondition is violated
    w = (
        Window.partitionBy(key)
        .orderBy(ts, "_side", "_rv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn("_rv", F.last("_rv", ignorenulls=True).over(w))
    out_cols = [ts + suffix] + [c + suffix for c in value_cols]
    u = u.where(F.col("_side") == 1)
    for c in out_cols:
        u = u.withColumn(c, F.col("_rv")[c])
    return u.drop("_side", "_rv")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and bucket-sorted) by ``key``.

    Bucketing is the pre-shuffle: rows are hash-partitioned into
    ``buckets`` files AT WRITE TIME, so every later equi-join or
    aggregation on ``key`` between same-bucketed tables runs with ZERO
    Exchange — the join cost moves from every-query-shuffles to
    one-write-shuffles. This is the canonical layout for a fact table
    that is joined on the same key by many downstream jobs (at 100 TB
    the repeated shuffle IS the bill). Verified by
    ``test_bucketed_join_has_no_exchange``: the physical plan of a
    bucketed-bucketed join contains no Exchange node.

    Spark requires a catalog table for bucketing metadata
    (``saveAsTable``; plain ``.parquet(path)`` writes lose bucket
    spec) — the default in-memory catalog + ``spark-warehouse`` dir
    works; on a real deployment this is the metastore.
    """
    if mode == "overwrite":
        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        # the default in-memory catalog forgets tables across sessions but
        # leaves the managed-table dir in the warehouse — a leftover dir
        # with no catalog entry fails creation (LOCATION_ALREADY_EXISTS),
        # so overwrite clears the orphan too (metastore deployments never
        # hit this branch: DROP TABLE removes the location)
        import os
        import shutil

        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        wh = wh.removeprefix("file:")
        orphan = os.path.join(wh, table.split(".")[-1].lower())
        if os.path.isdir(orphan):
            shutil.rmtree(orphan)
    w = df.write.mode(mode).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    pos_col: str = "pos",
    start_col: str = "start",
    end_col: str = "end",
    bucket_width: int = 3600,
) -> DataFrame:
    """Scalable point-in-interval (range) join: keep every (point,
    interval) pair with ``start <= pos < end`` — event-in-campaign,
    read-overlaps-gene, trade-in-auction-window. Positions are plain
    longs; convert timestamps with a tz-free ``timestampdiff`` first
    (the SCD2 NTZ lesson).

    Spark has no native range join, and the naive formulations are a
    broadcast-nested-loop (O(|P|·|I|) comparisons) or a theta SMJ.
    This is the standard bucketization: each point hashes to ONE
    coarse bucket of width ``bucket_width``; each interval explodes to
    the ``~len/width + 1`` buckets it overlaps; the join becomes an
    EQUI-join on the bucket key (shuffle hash join — partitionable,
    AQE-skew-splittable) followed by the exact inequality filter. A
    pair can only meet in the point's single bucket, so no dedup is
    needed. Pick ``bucket_width`` near the median interval length:
    wider buckets mean fewer interval replicas but more false
    candidates filtered after the join.

    Empty/degenerate intervals (``end <= start``) match nothing and
    are dropped before the explode (Spark's ``sequence`` would
    otherwise count DOWN and fabricate buckets).
    """
    w = int(bucket_width)
    p = points.withColumn("_b", F.floor(F.col(pos_col) / w))
    iv = intervals.where(F.col(end_col) > F.col(start_col)).withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / w),
                F.floor((F.col(end_col) - 1) / w),
            )
        ),
    )
    return (
        p.join(iv, "_b")
        .where(
            (F.col(pos_col) >= F.col(start_col))
            & (F.col(pos_col) < F.col(end_col))
        )
        .drop("_b")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join: join a LARGE, possibly hot-keyed ``left``
    against a smaller-but-not-broadcastable ``right`` without letting a
    hot key collapse one shuffle partition.

    Each left row gets a deterministic salt in ``[0, n_salts)`` hashed
    from ALL its columns (partition-independent — never a stateful
    RNG), spreading a hot key's rows across ``n_salts`` reducers; the
    right side replicates each row ``n_salts`` times (explode of a
    literal salt array), so the join key becomes ``(key, salt)`` and
    every left row still meets its right match exactly once. Output
    equals the plain equi-join row-for-row (duplicate right keys fan
    out identically).

    Cost model: right-side replication costs ``n_salts × |right|``
    shuffle rows — the price of bounding the hottest reducer at
    ``hot_key_rows / n_salts``. AQE's skew-join split handles the
    sort-merge case adaptively; this explicit form is for when the
    skew is KNOWN up front (the pipeline's conv_id hot keys), works
    under any join strategy, and keeps the fan-out auditable in the
    plan (one explode + one Exchange on (key, salt)).

    ``how``: ``inner`` or ``left``. Left-join semantics survive the
    salt: each left row carries exactly ONE salt value, so an unmatched
    left row emits exactly one null-extended row, never one per salt.
    """
    if how not in ("inner", "left"):
        raise ValueError("salted_join: how must be 'inner' or 'left'")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    lsalted = left.withColumn("_salt", salt.cast("int"))
    rsalted = right.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i).cast("int") for i in range(int(n_salts))])),
    )
    cond = (lsalted[left_key] == rsalted[right_key]) & (
        lsalted["_salt"] == rsalted["_salt"]
    )
    joined = lsalted.join(rsalted, cond, how)
    return joined.drop(lsalted["_salt"]).drop(rsalted["_salt"])
