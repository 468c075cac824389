"""Structured Streaming: streaming extraction == batch extraction;
watermarked windowed counts."""

import os
import time

import pandas as pd
from pyspark.sql import functions as F

from kgforge import streaming
from kgforge.fixtures import gazetteer, gen_transcripts, patterns_df
from kgforge.stages.extract import extract_triples


def _stage_files(tmp_path, n_convs=25, parts=3):
    t, _, _m = gen_transcripts(n_convs)
    d = tmp_path / "in"
    d.mkdir()
    step = (len(t) + parts - 1) // parts
    for i in range(parts):
        t.iloc[i * step:(i + 1) * step].to_parquet(d / f"part-{i}.parquet", index=False)
    return str(d), t


def _write_arrivals(src, *frames):
    """Write ``frames`` as ``part-<i>.parquet`` files under ``src``, each
    file one micro-batch under ``maxFilesPerTrigger=1``. The file source
    takes files in modification-time order, with millisecond resolution,
    and two small files written back to back often share a millisecond,
    so their mtimes are set one second apart, in arrival order."""
    os.makedirs(src)
    now = time.time()
    for i, pdf in enumerate(frames):
        path = os.path.join(src, f"part-{i}.parquet")
        pdf.assign(ts=pdf["ts"].astype("datetime64[us]")).to_parquet(path, index=False)
        os.utime(path, (now + i, now + i))


def test_streaming_extraction_matches_batch(spark, tmp_path):
    in_dir, t = _stage_files(tmp_path)
    stream = streaming.stream_transcripts(spark, in_dir)
    tri = streaming.stream_triples(stream, gazetteer(), patterns_df())
    streaming.run_to_memory(tri, "tri_stream")
    got = (
        spark.sql("select * from tri_stream").toPandas()
        .sort_values(["conv_id", "turn_idx", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    want = (
        extract_triples(spark.createDataFrame(t), gazetteer(), patterns_df())
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "subj", "pred", "obj"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_windowed_counts(spark, tmp_path):
    in_dir, t = _stage_files(tmp_path)
    stream = streaming.stream_transcripts(spark, in_dir)
    from pyspark.sql import functions as F

    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    streaming.run_to_memory(counts, "turn_counts", mode="append")
    got = spark.sql("select * from turn_counts").toPandas()
    # availableNow + append only emits windows closed by the watermark;
    # totals must never exceed the batch count and windows are disjoint
    assert got["n"].sum() <= len(t)
    assert got["ws"].is_unique


def test_session_windows_stream_equals_batch(spark, tmp_path):
    """Gap-based session windows: the streaming run (file source,
    availableNow, complete mode) must equal the batch run AND a manual
    gap-island computation (new session when delta > gap — the boundary
    is inclusive-merge; end = last event + gap)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = pd.Timestamp("2025-06-01T00:00:00")
    rows = []
    eid = 0
    for uid in range(6):
        t = base + pd.Timedelta(minutes=int(rng.integers(0, 60)))
        for _ in range(40):
            rows.append((eid, t, uid))
            eid += 1
            # mix of intra-session gaps, one exact-gap edge case, and
            # session-breaking gaps
            step = int(rng.choice([1, 5, 29, 30, 31, 90]))
            t = t + pd.Timedelta(minutes=step)
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark can't read NANOS parquet
    src = str(tmp_path / "events")
    os.makedirs(src)
    pdf.to_parquet(os.path.join(src, "part-0.parquet"), index=False)

    batch = streaming.session_windows(
        spark.read.parquet(src), gap="30 minutes", key="user_id"
    ).toPandas()

    schema = spark.read.parquet(src).schema
    st = spark.readStream.schema(schema).parquet(src)
    sw = streaming.session_windows(st, gap="30 minutes", watermark="2 hours", key="user_id")
    streaming.run_to_memory(sw, "sess_parity", mode="complete")
    stream = spark.table("sess_parity").toPandas()

    key = ["user_id", "session_start"]
    pd.testing.assert_frame_equal(
        batch.sort_values(key).reset_index(drop=True),
        stream.sort_values(key).reset_index(drop=True),
    )

    # manual gap islands (Spark merge rule: delta <= gap merges; an
    # event exactly gap later still extends the session)
    want = []
    gap = pd.Timedelta(minutes=30)
    for uid, g in pdf.sort_values(["user_id", "ts", "event_id"]).groupby("user_id"):
        ts = g["ts"].tolist()
        start, last, n = ts[0], ts[0], 1
        for x in ts[1:]:
            if x - last > gap:
                want.append((uid, start, last + gap, n))
                start, n = x, 0
            last = x
            n += 1
        want.append((uid, start, last + gap, n))
    wdf = pd.DataFrame(want, columns=["user_id", "session_start", "session_end", "n_events"])
    got = batch.sort_values(key).reset_index(drop=True)
    wdf = wdf.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"n_events": "int64"}), wdf.astype({"n_events": "int64"}),
        check_dtype=False,
    )


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """In-stream exact dedup must be STATEFUL across micro-batches:
    duplicates planted in a LATER file (forced into its own trigger via
    maxFilesPerTrigger=1) are dropped by dropDuplicatesWithinWatermark
    state, not merely by within-batch distinct. Also parity: output key
    set == batch dropDuplicates == pandas drop_duplicates."""
    base = pd.Timestamp("2030-01-01T00:00:00")
    f1 = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["alpha", "beta", "gamma", "alpha"],  # within-batch dup
            "ts": [base] * 4,
        }
    )
    f2 = pd.DataFrame(
        {
            "doc_id": [4, 5, 6],
            "text": ["beta", "delta", "gamma"],  # cross-batch dups + 1 new
            "ts": [base + pd.Timedelta(minutes=5)] * 3,
        }
    )
    src = str(tmp_path / "docs")
    _write_arrivals(src, f1, f2)

    schema = spark.read.parquet(src).schema
    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # pandas-written parquet reads back TIMESTAMP_NTZ; watermarks
        # require TIMESTAMP
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("doc_hash", F.md5("text"))
    )
    ded = streaming.stream_dedup(st, key="doc_hash", ts_col="ts", watermark="1 hour")
    streaming.run_to_memory(ded.select("doc_id", "doc_hash", "text"), "sdedup_xbatch")
    got = spark.table("sdedup_xbatch").toPandas()

    # exactly one survivor per distinct text, across both micro-batches
    assert sorted(got["text"]) == ["alpha", "beta", "delta", "gamma"]
    # and it is the FIRST arrival that survives (doc_ids 0,1,2 from file
    # 1; only delta=5 from file 2 — the file-2 duplicates 4 and 6 and the
    # within-batch duplicate 3 are all dropped)
    batch_keys = sorted(
        r["doc_hash"]
        for r in spark.read.parquet(src)
        .withColumn("doc_hash", F.md5("text"))
        .dropDuplicates(["doc_hash"])
        .select("doc_hash")
        .collect()
    )
    assert sorted(got["doc_hash"]) == batch_keys
    assert sorted(got["doc_id"]) == [0, 1, 2, 5]


def test_stateful_running_counts_across_microbatches(spark, tmp_path):
    """applyInPandasWithState keeps per-key counts across micro-batches:
    with one file per trigger, a key seen in both files must emit a
    RUNNING total (file2's emission includes file1's rows), and the
    final max per key equals the batch groupBy count."""
    base = pd.Timestamp("2030-01-01T00:00:00")
    f1 = pd.DataFrame({"user_id": [1, 1, 2], "ts": [base] * 3})
    f2 = pd.DataFrame({"user_id": [1, 2, 3], "ts": [base + pd.Timedelta(minutes=1)] * 3})
    src = str(tmp_path / "ev")
    _write_arrivals(src, f1, f2)
    schema = spark.read.parquet(src).schema
    st = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming.stateful_running_counts(st, key="user_id")
    streaming.run_to_memory(out, "state_counts", mode="update")
    got = spark.table("state_counts").toPandas()
    final = got.groupby("user_id")["n_events"].max()
    assert final.to_dict() == {1: 3, 2: 2, 3: 1}
    # running (not per-batch) totals: user 1's emissions are 2 then 3
    assert sorted(got[got["user_id"] == 1]["n_events"]) == [2, 3]


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join == the equivalent batch join, with
    matching rows forced into SEPARATE micro-batches (view file first,
    purchase file later; maxFilesPerTrigger=1) so the buffered-state
    path is actually exercised."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    views = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 3],
            "event_id": [10, 11, 20, 30],
            "ts": [base, base + dt.timedelta(minutes=50),
                   base + dt.timedelta(minutes=5), base],
        }
    )
    purchases = pd.DataFrame(
        {
            "user_id": [1, 2, 2, 3],
            "event_id": [100, 200, 201, 300],
            # 100 matches view 10 (+20m) and NOT view 11 (before it);
            # 200 matches view 20 (+25m); 201 outside the 30m bound;
            # 300 exactly on the bound (inclusive)
            "ts": [base + dt.timedelta(minutes=20),
                   base + dt.timedelta(minutes=30),
                   base + dt.timedelta(minutes=40),
                   base + dt.timedelta(minutes=30)],
            "value": [5.0, 6.0, 7.0, 8.0],
        }
    )
    d = tmp_path / "ssj"
    d.mkdir()
    # us-precision timestamps: Spark's TIMESTAMP reader rejects pandas'
    # default ns-INT64 parquet encoding under an explicit schema
    views.to_parquet(d / "part-0.parquet", index=False, coerce_timestamps="us")
    purchases.to_parquet(d / "part-1.parquet", index=False, coerce_timestamps="us")
    # views carry no value column in part-0: make schemas identical
    schema = "user_id long, event_id long, ts timestamp, value double"
    st = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))

    def split(df):
        v = df.where(F.col("event_id") < 100).select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").cast("timestamp").alias("view_ts"),
        )
        p = df.where(F.col("event_id") >= 100).select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        return v, p

    sv, sp = split(st)
    joined = streaming.stream_stream_join(
        sv, sp, left_key="user_id", right_key="p_user_id",
        left_ts="view_ts", right_ts="purchase_ts", within="30 minutes",
    ).select("user_id", "view_id", "purchase_id", "amount")
    streaming.run_to_memory(joined, "ssj_out")
    got = spark.sql("select * from ssj_out").toPandas()

    batch = spark.read.schema(schema).parquet(str(d))
    bv, bp = split(batch)
    want = (
        bv.join(
            bp,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("view_ts"))
            & (F.col("purchase_ts") <= F.expr("view_ts + INTERVAL 30 minutes")),
        )
        .select("user_id", "view_id", "purchase_id", "amount")
        .toPandas()
    )
    key = ["view_id", "purchase_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )
    # hand-checked expectations: inclusive bound kept, out-of-window dropped
    pairs = set(map(tuple, got[["view_id", "purchase_id"]].itertuples(index=False)))
    assert (10, 100) in pairs and (20, 200) in pairs and (30, 300) in pairs
    assert (11, 100) not in pairs and (20, 201) not in pairs


def test_stream_to_catalog_commits_batches_idempotently(spark, tmp_path):
    """Each micro-batch lands as its own fast-append snapshot keyed by
    (source_id, batch_id); a replayed batch is skipped (exactly-once);
    the final read equals the batch input regardless of batching. The
    retry of a batch whose commit died is in test_catalog.py."""
    import pandas as pd

    from kgforge.catalog import IcebergLiteTable
    from kgforge.streaming import stream_to_catalog

    sdir = str(tmp_path / "in")
    pdf = pd.DataFrame({"k": range(40), "v": [f"x{i}" for i in range(40)]})
    spark.createDataFrame(pdf).repartition(4).write.parquet(sdir)
    st = (
        spark.readStream.schema("k bigint, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(sdir)
    )
    t = IcebergLiteTable(str(tmp_path / "tbl"))
    stream_to_catalog(st, t, str(tmp_path / "ckpt"), source_id="s1")
    snaps = t.snapshots()
    assert len(snaps) >= 2  # multiple micro-batches -> multiple commits
    keys = [s["summary"]["stream_batch"] for s in snaps]
    assert len(keys) == len(set(keys))  # one commit per batch id
    got = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert got == set(pdf.itertuples(index=False, name=None))
    # a replay of the same batch ids (a fresh checkpoint numbers the
    # batches from 0 again) commits nothing; another source_id commits
    n_before = len(t.snapshots())
    stream_to_catalog(st, t, str(tmp_path / "ckpt_replay"), source_id="s1")
    assert len(t.snapshots()) == n_before
    stream_to_catalog(st, t, str(tmp_path / "ckpt_s2"), source_id="s2")
    assert len(t.snapshots()) == 2 * n_before
    assert t.read(spark).count() == 2 * len(pdf)
    # time travel to the first streaming commit still reads its rows only
    first = t.snapshots()[0]
    early = t.read(spark, snapshot_id=first["snapshot_id"]).count()
    assert 0 < early <= 40


def test_sliding_window_stream_equals_batch(spark, tmp_path):
    """Sliding windows: the streaming drain (file source, availableNow,
    complete mode) equals the batch run of the SAME operator, and each
    event lands in exactly window/slide windows."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = pd.Timestamp("2025-06-01T00:00:00")
    ev = pd.DataFrame(
        {
            "event_id": range(300),
            "ts": [
                base + pd.Timedelta(seconds=int(s))
                for s in np.sort(rng.integers(0, 6 * 3600, 300))
            ],
            "event_type": [["a", "b", "c"][i % 3] for i in range(300)],
        }
    )
    src = tmp_path / "ev_parquet"
    spark.createDataFrame(ev).repartition(3).write.parquet(str(src))
    batch = streaming.sliding_window_counts(
        spark.read.parquet(str(src)), window="30 minutes", slide="10 minutes"
    )
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in batch.collect()
    }
    # each event contributes to exactly 3 windows
    assert sum(want.values()) == 3 * len(ev)
    st = (
        spark.readStream.schema(spark.read.parquet(str(src)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    counts = streaming.sliding_window_counts(
        st, window="30 minutes", slide="10 minutes"
    ).select("window_start", "event_type", "n_events")
    q = (
        counts.writeStream.format("memory")
        .queryName("sliding_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("select * from sliding_counts").collect()
    }
    assert got == want
