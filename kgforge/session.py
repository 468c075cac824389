"""SparkSession builder tuned for the kgforge pipeline.

Scale stance (100 TB / 1000 executors): AQE on (skew-join splitting +
partition coalescing for the hot ``conv_id`` keys), Arrow on (every
pandas UDF ships Arrow record batches), shuffle partitions sized to the
cluster not hard-coded per query, and broadcast threshold left to AQE's
runtime statistics. On a real cluster only ``master`` changes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

#: sc.broadcast handles pinned for the session's lifetime: releasing one
#: while a lazy plan still references it triggers a Spark-4 ContextCleaner
#: race ("Block broadcast_N does not exist") in task-completion listeners.
_PINNED: list = []


def pin_broadcast(spark: SparkSession, value):
    """``sc.broadcast(value)``, kept alive for the rest of the session."""
    b = spark.sparkContext.broadcast(value)
    _PINNED.append(b)
    return b


def local_cpus() -> str:
    """Core count for a ``local[N]`` master: ``$SPARK_GRAFT_CPUS``, else
    the host's CPU count."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)


def get_spark(
    master: str | None = None,
    app_name: str = "kgforge",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with kgforge defaults.

    ``master`` defaults to ``local[N]`` with N from :func:`local_cpus`;
    on a cluster set ``SPARK_MASTER_SET`` and let spark-submit decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER_SET"):
        master = f"local[{local_cpus()}]"
    if master:
        builder = builder.master(master)

    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("KGFORGE_SHUFFLE_PARTITIONS", "32"))

    conf = {
        # Arrow transport for every pandas UDF / toPandas boundary.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # measured: 4096-row batches make pandas-UDF per-batch overhead the
        # dominant extraction cost (45.6s -> 26.7s at 16k on the bench
        # corpus); 32k keeps batches ~MB-sized for transcript-length text
        "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
        # AQE: runtime coalescing + skew-join splitting (conv_id hot keys).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Keep timestamps deterministic across JVM/Arrow/DuckDB comparisons.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        # Quieter driver in tests.
        "spark.ui.enabled": os.environ.get("KGFORGE_SPARK_UI", "false"),
        "spark.driver.memory": os.environ.get("KGFORGE_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: footer key-value entry where Spark's Parquet writer stores the row
#: schema as JSON; schema inference deserializes the same entry
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _first_data_file(path: str) -> str | None:
    """First Parquet data file under ``path`` in sorted order, skipping
    ``_``/``.`` entries (``_SUCCESS``, ``.crc``, ``_temporary``) the way
    Spark's file index does; ``path`` itself if it is a file."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        found = _first_data_file(os.path.join(path, name))
        if found:
            return found
    return None


def _footer_spark_type(t):
    """The Spark type that schema inference gives a Parquet column whose
    footer maps to Arrow type ``t``, all nullable as inference makes
    them; ``None`` where the mapping is not known to agree (nanosecond
    timestamps, unsigned ints, maps, dictionaries, ...)."""
    import pyarrow.types as pat
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import ArrayType, StructField, StructType

    if pat.is_list(t):
        el = _footer_spark_type(t.value_type)
        return None if el is None else ArrayType(el, True)
    if pat.is_struct(t):
        types = [_footer_spark_type(f.type) for f in t]
        if any(x is None for x in types):
            return None
        return StructType([StructField(f.name, x, True) for f, x in zip(t, types)])
    known = (
        pat.is_signed_integer(t) or pat.is_float32(t) or pat.is_float64(t)
        or pat.is_boolean(t) or pat.is_string(t) or pat.is_binary(t)
        or pat.is_date32(t) or pat.is_decimal128(t)
        or (pat.is_timestamp(t) and t.unit in ("ms", "us"))
    )
    # tz-naive Arrow timestamps are Parquet isAdjustedToUTC=false, which
    # inference reads as timestamp_ntz
    return from_arrow_type(t, prefer_timestamp_ntz=True) if known else None


def read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` without the schema-inference job.

    A read without a schema runs one Spark job to deserialize the row
    schema from a file footer. The driver reads that footer itself (one
    ``pyarrow`` metadata read) and passes the schema, so the read
    schedules nothing: a Spark-written output's stored row schema as is,
    a file written by another Parquet writer (pandas, pyarrow) through
    its Arrow schema. Hive partition columns are still discovered from
    the directory names. A column type whose mapping is not known to
    match inference, and a path the driver cannot list, fall back to
    plain inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    first = _first_data_file(path)
    if first is None:
        return spark.read.parquet(path)
    meta = pq.read_metadata(first)
    stored = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if stored is not None:
        schema = StructType.fromJson(json.loads(stored))
    else:
        schema = _footer_spark_type(pa.struct(list(meta.schema.to_arrow_schema())))
        if schema is None:
            return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def tiny_df(spark, rows, schema: str):
    """``createDataFrame`` for SMALL driver-side row lists via a pandas
    frame (Arrow path). The plain list path parallelizes into
    ``defaultParallelism`` pickled slices — measured ~4 s per call for a
    32-row frame at local[32] vs ~0.15 s through pandas. Values are kept
    as Python objects (object dtype), so the non-Arrow fallback never
    sees numpy scalars (the round-3 incident class). Column names come
    from Spark's DDL parser, so types with commas (``decimal(10,2)``,
    ``struct<…>``) are handled."""
    import pandas as pd
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], struct)
    pdf = pd.DataFrame(list(rows), columns=struct.names, dtype=object)
    return spark.createDataFrame(pdf, struct)


def ensure_min_partitions(df, n: int | None = None):
    """Repartition ``df`` up to ``n`` partitions if it has fewer.

    Guard for compute-heavy pandas-UDF stages fed by a small file count:
    a single-file parquet read arrives as 1 split, serializing the UDF
    onto one core (measured 5.7 s vs 1.6 s for MinHash signatures at
    sf0.1). At corpus scale inputs carry thousands of splits and this is
    a no-op — the shuffle only ever happens on inputs small enough for
    it to be cheap.
    """
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
