"""Structured Streaming ingest for transcript tables.

The reference is pure batch (SURVEY.md §2.2: no streams); this is the
engine's forward-looking surface: the same extraction operators run
unchanged on a streaming DataFrame (``mapInPandas`` is
streaming-compatible), so a transcript firehose can be mined for triples
continuously.

* :func:`stream_transcripts` — file-source ``readStream`` with the
  contract schema (new parquet files under a directory = micro-batches).
* :func:`stream_triples` — streaming triple extraction (stateless pass).
* :func:`windowed_triple_counts` — per-predicate counts in event-time
  tumbling windows with a watermark for late turns.
* :func:`session_windows` — gap-based session windows
  (``F.session_window``), identical on batch and streaming input.
* :func:`stream_dedup` — stateful in-stream exact dedup (first arrival
  of each key wins; state expires with the watermark).
* :func:`stream_stream_join` — watermarked interval join of two streams
  (state bounded by the time window on both sides).
* :func:`run_to_parquet` — append sink + ``availableNow`` trigger (drain
  what exists, then stop — the batch-parity execution mode).

At scale: the file source becomes Kafka/Iceberg-CDC; nothing else
changes — the plan below the source is identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def stream_transcripts(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def stream_triples(
    transcripts: DataFrame, gazetteer: pd.DataFrame, patterns: pd.DataFrame
) -> DataFrame:
    """Stateless streaming extraction — same operator as batch B3."""
    from .stages.extract import extract_triples

    return extract_triples(transcripts, gazetteer, patterns)


def windowed_triple_counts(
    triples_with_ts: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling-window per-predicate counts with late-data
    tolerance ``watermark``. Input needs a ``ts`` column."""
    return (
        triples_with_ts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "pred")
        .agg(F.count("*").alias("n_triples"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "pred",
            "n_triples",
        )
    )


def session_windows(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based session windows (``F.session_window``): consecutive
    events of the same key merge while each arrives within ``gap`` of
    the previous (delta <= gap merges — the boundary is inclusive,
    pinned by test_session_windows_stream_equals_batch); the window end
    extends to last event + gap. One stateful aggregation — identical semantics on batch and
    streaming input (parity tested), which is the whole point: the
    sessionization that ``evt_sessionize`` does with a batch window
    function runs continuously under a watermark here.

    Output: ``<key>, session_start, session_end, n_events``.
    """
    ts = F.col(ts_col).cast("timestamp")
    return (
        events.select(key, ts.alias("_ts"))
        .withWatermark("_ts", watermark)
        .groupBy(F.session_window("_ts", gap).alias("w"), key)
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_dedup(
    docs: DataFrame,
    key: str = "doc_hash",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful in-stream exact dedup: the FIRST arrival of each ``key``
    survives; any duplicate arriving within ``watermark`` of the stream's
    event-time frontier is dropped across micro-batches
    (``dropDuplicatesWithinWatermark``). State is bounded by
    keys-per-horizon, not keys-ever-seen — the property that makes
    continuous dedup viable on an unbounded firehose (plain streaming
    ``dropDuplicates`` without the event-time column in the key keeps
    state forever). Matches batch ``dropDuplicates([key])`` whenever all
    duplicates fall inside the horizon (parity tested, plus a
    cross-micro-batch test that forces duplicates into separate
    triggers).
    """
    return docs.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def stateful_running_counts(
    events: DataFrame, key: str = "user_id", key_type: str = "long"
) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-key
    RUNNING event counts maintained in explicit group state across
    micro-batches — the escape hatch for stateful logic the built-in
    windowed/dedup operators can't express.

    Each micro-batch emits the updated running total for every key it
    touched (update mode), so the sink holds a monotone count series per
    key; ``max(n_events)`` per key equals the batch ``groupBy count``
    (the stream==batch parity oracle). State is one long per key —
    bounded by key cardinality, the right cost model for per-user
    counters on an unbounded firehose.

    Output per emission: ``<key>, n_events``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key_tuple, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n]})

    return events.groupBy(key).applyInPandasWithState(
        fn,
        outputStructType=f"{key} {key_type}, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    left_watermark: str = "2 hours",
    right_watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: pair each left row with the right
    rows of the same key whose event time falls in
    ``[left_ts, left_ts + within]``.

    Both sides carry watermarks and the join condition is time-bounded —
    the two requirements that let Spark expire join state: a right row
    can stop waiting for matches once the left watermark passes
    ``right_ts``, and vice versa once ``left_ts + within`` is behind the
    right watermark. Without the time bound the engine would have to
    buffer both streams forever. State ≈ rows-per-horizon on each side,
    the same cost envelope as the windowed aggregations above.

    Column names must be disjoint across sides (rename before calling);
    semantics are identical to the equivalent batch join (parity
    tested + ``str_view_purchase_join`` oracle).
    """
    ljoin = left.withWatermark(left_ts, left_watermark)
    rjoin = right.withWatermark(right_ts, right_watermark)
    cond = (F.col(left_key) == F.col(right_key)) & F.expr(
        f"{right_ts} >= {left_ts} AND {right_ts} <= {left_ts} + INTERVAL {within}"
    )
    return ljoin.join(rjoin, cond, how)


def run_to_parquet(stream_df: DataFrame, out_dir: str, checkpoint_dir: str, mode: str = "append"):
    """Drain all available input (availableNow) into parquet and stop."""
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "append"):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_to_catalog(
    stream_df: DataFrame,
    table,
    checkpoint_dir: str,
    source_id: str = "stream",
    partition_by: tuple[str, ...] = (),
):
    """Continuous ingest INTO the Iceberg-lite catalog: drain the
    stream (``availableNow``) committing each micro-batch as an atomic
    fast-append snapshot — the streaming half of the table-maintenance
    story (`catalog.py` owns expiry/compaction; this owns arrival).

    Exactly-once: ``foreachBatch`` is at-least-once on retry, so each
    commit records ``(source_id, batch_id)`` in the snapshot summary
    and a batch whose key a snapshot in main's history already carries
    is SKIPPED — the idempotent-commit pattern real Iceberg sinks use.
    Only main's ``parent_id`` chain counts: a batch whose manifest was
    written but whose pointer swap died is an orphan, and its retry
    commits it. The check walks manifest summaries (metadata-sized,
    driver-side), never data.

    At scale the file source becomes Kafka and availableNow becomes a
    continuous trigger; the commit protocol is unchanged. Returns the
    drained query (``table.read(spark)`` then serves batch consumers).
    """

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        key = f"{source_id}:{batch_id}"
        done = {s.get("summary", {}).get("stream_batch") for s in table.ancestors()}
        if key in done:
            return
        table.append(
            batch_df,
            partition_by=partition_by,
            summary_extra={"stream_batch": key},
        )

    q = (
        stream_df.writeStream.foreachBatch(commit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def sliding_window_counts(
    events: DataFrame,
    window: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str = "1 hour",
    key: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time SLIDING-window counts: each event contributes to the
    ``window/slide`` overlapping windows covering it (the trend-line /
    moving-rate aggregation tumbling windows can't express). Same
    operator in batch and streaming (``F.window`` with a slide);
    under a stream the watermark bounds state to windows younger than
    ``watermark`` past the max seen event time.

    Scale: one shuffle on (window, key) with map-side partials; the
    window/slide expansion multiplies rows by a small constant (3 for
    30m/10m) BEFORE the partial agg, so the shuffle still carries
    aggregated counts.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"), key)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key,
            "n_events",
        )
    )
