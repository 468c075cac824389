"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction query on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for each SQL-expressible
query. Tables ``region nation customer supplier part orders lineitem
events documents embeddings`` are pre-registered views; kgforge fixture
tables (transcripts/golden/gazetteer/OpenKE split/embeddings) are read
via ``read_parquet`` from the committed ``fixtures/`` directory — the
golden tables there are generator-intent, produced by a code path
independent of the engine operators under test.

Ops intentionally *without* an oracle entry (rows-only check, 7 of 95):
LSH pair generation (b7_alias_pairs), counter-RNG sample rows
(a4_negative_sampling, a6_training_batches), MinHash/SimHash pair rows
(dedup_minhash, dedup_simhash), approximate ANN rows (ann_lsh_topk,
ann_ivf_topk) — intrinsically hash/RNG-valued. Each has an
oracle-checked property companion: b7_lsh_covers_exact_jaccard,
a4_negative_properties / a5_bern_properties, a6_batch_properties,
dedup_minhash_containment / dedup_simhash_pigeonhole,
ann_lsh_topk_recall / ann_ivf_topk_recall / ann_ivf_persisted_recall.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.abspath(__file__))
FIX01 = os.path.join(REPO, "fixtures", "sf0.01")   # oracle-side fixture paths (driver runs sf0.01)
OKE = os.path.join(REPO, "fixtures", "openke")


def _fixture_dir(sf_dir: str) -> str:
    """Map the driver's sf dir onto the matching committed fixture set."""
    from kgforge.fixtures import TAG_SIZES, ensure_fixtures

    tag = os.path.basename(os.path.normpath(sf_dir))
    if tag not in TAG_SIZES:
        tag = "sf0.01"
    return ensure_fixtures(tag)


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_fixture_dir(sf_dir), "transcripts.parquet"))


def _golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(_fixture_dir(sf_dir), "golden_triples.parquet"))


def _gaz_pdf() -> pd.DataFrame:
    from kgforge.fixtures import gazetteer

    return gazetteer()


def _dicts(spark: SparkSession):
    from kgforge.fixtures import gazetteer, patterns_df
    from kgforge.stages.materialize import dense_ids

    gaz = spark.createDataFrame(gazetteer())
    pats = spark.createDataFrame(patterns_df())
    e2id = dense_ids(gaz.select(F.col("canonical").alias("name")))
    r2id = dense_ids(pats.select(F.col("pred").alias("name")))
    return gaz, pats, e2id, r2id


def _openke(spark: SparkSession, name: str) -> DataFrame:
    from kgforge.fixtures import ensure_openke_fixture

    return spark.read.parquet(os.path.join(ensure_openke_fixture(), f"{name}.parquet"))


def _openke_emb():
    from kgforge.fixtures import gen_embeddings, gen_openke_split

    split = gen_openke_split()
    emb = gen_embeddings(n_ent=len(split["entity2id"]), n_rel=len(split["relation2id"]))
    known = pd.concat([split["train2id"], split["valid2id"], split["test2id"]])
    return split, emb, known


_MINI_PIPE: dict = {}


def _mini_pipeline(spark: SparkSession) -> dict:
    """Unit-fixture pipeline: one full run, then a ``resume=True`` re-run
    in the same work dir — executed once per process; the B11/B12
    contract queries read the results. Deterministic end to end (seeded
    embeddings, content-hash gate sample)."""
    if "r1" not in _MINI_PIPE:
        import tempfile

        from kgforge.fixtures import ensure_fixtures
        from kgforge.pipeline import Pipeline

        fdir = ensure_fixtures("unit")
        work = tempfile.mkdtemp(prefix="kgforge_b11_")

        def mk(resume: bool) -> Pipeline:
            return Pipeline(
                spark,
                input_path=os.path.join(fdir, "transcripts.parquet"),
                work_dir=work,
                gazetteer_path=os.path.join(fdir, "gazetteer.parquet"),
                patterns_path=os.path.join(fdir, "patterns.parquet"),
                out_partitions=4,
                resume=resume,
            )

        _MINI_PIPE["r1"] = mk(False).run()
        _MINI_PIPE["r2"] = mk(True).run()
        _MINI_PIPE["work"] = work
    return _MINI_PIPE


_A20_CKPT: dict[str, str] = {}


def _a20_ckpt_dir() -> str:
    """Seeded A20 embedding checkpoint, written once per process and
    reused by every Parquet-ingested eval query (fixture setup isn't the
    operator under measurement)."""
    if "dir" not in _A20_CKPT:
        import tempfile

        from kgforge.io_openke import write_embeddings_parquet

        _split, emb, _known = _openke_emb()
        d = tempfile.mkdtemp(prefix="kgforge_a20_")
        write_embeddings_parquet(emb, d)
        _A20_CKPT["dir"] = d
    return _A20_CKPT["dir"]


# ---------------------------------------------------------------------------
# entry: flagship query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts → extraction → canonical ID triples →
    per-relation triple counts (sf0.001)."""
    from kgforge.fixtures import ensure_fixtures, patterns_df
    from kgforge.stages.extract import extract_triples, surface_triples_dedup
    from kgforge.stages.materialize import to_id_triples

    fdir = ensure_fixtures("sf0.001")
    transcripts = spark.read.parquet(os.path.join(fdir, "transcripts.parquet"))
    gaz, pats, e2id, r2id = _dicts(spark)
    tri = surface_triples_dedup(extract_triples(transcripts, _gaz_pdf(), patterns_df()))
    linked = (
        tri.join(
            F.broadcast(gaz.select(F.col("surface").alias("subj"), F.col("canonical").alias("subj_canon"))).dropDuplicates(["subj"]),
            "subj",
        )
        .join(
            F.broadcast(gaz.select(F.col("surface").alias("obj"), F.col("canonical").alias("obj_canon"))).dropDuplicates(["obj"]),
            "obj",
        )
    )
    ids = to_id_triples(linked, e2id, r2id)
    return (
        ids.join(F.broadcast(r2id.withColumnRenamed("id", "p").withColumnRenamed("name", "relation")), "p")
        .groupBy("relation")
        .agg(F.count("*").alias("n_triples"), F.countDistinct("s").alias("n_subjects"))
        .orderBy(F.desc("n_triples"), "relation")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kgforge import evaluate as ev
    from kgforge import similarity, textops
    from kgforge.fixtures import patterns_df
    from kgforge.sampling import bern_stats, negative_samples
    from kgforge.stages import canonicalize, extract, link, materialize, reassemble

    # -- KG pipeline ---------------------------------------------------------

    def b1_turn_ordering(spark, sf):
        return reassemble.ordered_turns(_transcripts(spark, sf)).select(
            "conv_id", "turn_idx", "turn_rank", "role", "text"
        )

    def b1_conversation_text(spark, sf):
        return reassemble.conversation_text(_transcripts(spark, sf))

    def b2_detect_mentions(spark, sf):
        # full-span oracle: generator-intent golden mentions (exact char
        # offsets, derived at generation time). Detected mentions are
        # filtered to intended surfaces first — the generic hyphen branch
        # also (rightly) flags hyphen tokens in noise text ("follow-up"),
        # which are not generator intent.
        fdir = _fixture_dir(sf)
        men = extract.detect_mentions(_transcripts(spark, sf), _gaz_pdf())
        gm = spark.read.parquet(os.path.join(fdir, "golden_mentions.parquet"))
        return men.join(gm.select("surface").dropDuplicates(), "surface", "left_semi").select(
            "conv_id", "turn_idx", "mention_id", "surface", "start", "end", "mtype"
        )

    def b3_extract_triples(spark, sf):
        tri = extract.extract_triples(_transcripts(spark, sf), _gaz_pdf(), patterns_df())
        return tri.select("conv_id", "turn_idx", "subj", "pred", "obj").dropDuplicates()

    def b3_streaming_extract(spark, sf):
        # Structured Streaming parity: the SAME extraction operator run
        # as a file-source stream (availableNow micro-batches, memory
        # sink) must reproduce batch B3 exactly — oracle is the same
        # generator-intent golden as b3_extract_triples.
        import shutil
        import tempfile
        import uuid

        from kgforge import streaming
        from kgforge.fixtures import patterns_df

        src = os.path.join(_fixture_dir(sf), "transcripts.parquet")
        d = tempfile.mkdtemp(prefix="kgforge_stream_")
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        if os.path.isdir(src):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f), os.path.join(sdir, f))
        else:
            shutil.copy(src, os.path.join(sdir, "part-0.parquet"))
        st = streaming.stream_transcripts(spark, sdir)
        tri = streaming.stream_triples(st, _gaz_pdf(), patterns_df())
        name = "b3_stream_" + uuid.uuid4().hex[:8]
        streaming.run_to_memory(
            tri.select("conv_id", "turn_idx", "subj", "pred", "obj"), name
        )
        # the memory sink holds the drained rows — the staged input files
        # are no longer referenced (repeated contract runs were leaking a
        # parquet copy per query into /tmp)
        shutil.rmtree(d, ignore_errors=True)
        return spark.table(name).dropDuplicates()

    def str_windowed_triples(spark, sf):
        # the streaming module's event-time tumbling-window aggregation,
        # exercised on a batch frame (F.window is the same operator in
        # both modes): golden triples joined to their turn timestamps,
        # per-predicate counts in 10-minute windows. Oracle: DuckDB
        # time_bucket (both engines align windows to the epoch).
        from kgforge.streaming import windowed_triple_counts

        g = _golden(spark, sf).select("conv_id", "turn_idx", "pred").dropDuplicates()
        t = _transcripts(spark, sf).select("conv_id", "turn_idx", "ts")
        tri = g.join(t, ["conv_id", "turn_idx"])
        return windowed_triple_counts(tri).select(
            "window_start", "pred", F.col("n_triples").cast("long").alias("n_triples")
        )

    def str_sliding_counts(spark, sf):
        # sliding-window (30m window / 10m slide) per-type event rates
        # (streaming.sliding_window_counts — F.window with a slide is
        # the same operator in batch and streaming; the stream variant
        # bounds state via the 1h watermark). Oracle replays the 3x
        # window expansion with time_bucket arithmetic.
        from kgforge.streaming import sliding_window_counts

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return sliding_window_counts(ev).select(
            "window_start",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )

    def dedup_simhash_pigeonhole(spark, sf):
        # pigeonhole invariant of 4 x 16-bit banding: any pair within
        # hamming distance 3 has >=1 intact band, so it can NEVER be
        # missed by the candidate join — all-pairs hamming<=3 minus
        # candidates must be empty (a banding/keying bug breaks this)
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        sim = textops.simhash_docs(docs)
        a = sim.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
        b = sim.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
        close = (
            a.crossJoin(b)
            .where(F.col("a") < F.col("b"))
            .where(F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 3)
            .select("a", "b")
        )
        cands = textops.simhash_candidate_pairs(sim, max_hamming=64).select("a", "b")
        missed = close.join(cands, ["a", "b"], "left_anti")
        return (
            close.agg(F.count("*").cast("long").alias("n_close_pairs"))
            .crossJoin(missed.agg(F.count("*").cast("long").alias("n_missed")))
        )

    def a3_bern_stats(spark, sf):
        g = _golden(spark, sf).select(
            F.col("pred").alias("r"), F.col("subj_canon").alias("h"), F.col("obj_canon").alias("t")
        )
        return bern_stats(g)

    def b9_dense_ids(spark, sf):
        _, _, e2id, _ = _dicts(spark)
        return e2id

    def b10_id_triples(spark, sf):
        _, _, e2id, r2id = _dicts(spark)
        return materialize.to_id_triples(_golden(spark, sf), e2id, r2id)

    def b5_link_triples(spark, sf):
        gaz, _, e2id, r2id = _dicts(spark)
        from kgforge.fixtures import gen_embeddings

        emb = gen_embeddings(n_ent=60, n_rel=12, dim=16)
        tri = extract.surface_triples_dedup(
            extract.extract_triples(_transcripts(spark, sf), _gaz_pdf(), patterns_df())
        )
        linked = link.link_triples(spark, tri, gaz, e2id, r2id, emb)
        return linked.select("conv_id", "turn_idx", "s", "p", "o").dropDuplicates()

    def b7_alias_pairs(spark, sf):  # rows-only (minhash)
        gaz, _, _, _ = _dicts(spark)
        return canonicalize.alias_pairs(gaz.select(F.col("surface").alias("name")))

    def b8_connected_components(spark, sf):
        gaz, _, _, _ = _dicts(spark)
        edges = gaz.select(F.col("surface").alias("a"), F.col("canonical").alias("b"))
        return canonicalize.connected_components(edges)

    def b8b_component_sizes(spark, sf):
        """Canonicalization quality profile: the alias-graph component
        SIZE DISTRIBUTION (component_size, n_components) — a giant
        component means over-merging, all-singletons means the blocker
        found nothing; the first thing to read after B8. One extra
        count aggregation over the CC labels."""
        gaz, _, _, _ = _dicts(spark)
        edges = gaz.select(F.col("surface").alias("a"), F.col("canonical").alias("b"))
        cc = canonicalize.connected_components(edges)
        sizes = cc.groupBy("component").agg(
            F.count(F.lit(1)).cast("long").alias("component_size")
        )
        return sizes.groupBy("component_size").agg(
            F.count(F.lit(1)).cast("long").alias("n_components")
        )

    def a2_triple_dedup(spark, sf):
        t = _openke(spark, "train2id")
        return t.unionAll(t).dropDuplicates(["h", "t", "r"])

    def a4_negative_sampling(spark, sf):  # rows-only (counter-based RNG)
        t = _openke(spark, "train2id")
        return negative_samples(t, n_ent=200, neg_per_pos=1, mode="bern", seed=42)

    def a4_negative_properties(spark, sf):
        # the corruption contract as an oracle-checkable property:
        # exactly neg_per_pos negatives per positive, zero of which are
        # known triples. The oracle derives both numbers from the same
        # train parquet — a genuine cross-engine check even though the
        # sampled rows themselves are counter-RNG.
        t = _openke(spark, "train2id")
        neg = negative_samples(t, n_ent=200, neg_per_pos=2, mode="uniform", seed=7)
        viol = neg.join(t.select("h", "t", "r"), ["h", "t", "r"], "left_semi")
        return (
            neg.agg(F.count("*").cast("long").alias("n_neg"))
            .crossJoin(viol.agg(F.count("*").cast("long").alias("n_known_violations")))
        )

    def a5_bern_properties(spark, sf):
        # the bern contract as an oracle-checkable property: one draw per
        # positive; per relation, n must equal the SQL positive count and
        # the observed head-corruption ratio must sit within a 4-sigma
        # binomial band of tph/(tph+hpt) — the EXPECTED ratio is computed
        # independently by both engines (Spark bern_stats vs DuckDB SQL),
        # so this cross-checks A3 and the bern wiring together. The draw
        # itself is counter-RNG; within_tol is deterministic at the fixed
        # seed and pinned TRUE by the oracle.
        from kgforge.sampling import corruption_side_stats

        t = _openke(spark, "train2id")
        obs = corruption_side_stats(t, n_ent=200, mode="bern", seed=42)
        exp = bern_stats(t).withColumn(
            "p_exp", F.col("tph") / (F.col("tph") + F.col("hpt"))
        )
        j = obs.join(exp.select("r", "p_exp"), "r")
        ratio = F.col("n_head_corrupt") / F.col("n")
        tol = 4 * F.sqrt(F.col("p_exp") * (1 - F.col("p_exp")) / F.col("n")) + F.lit(0.02)
        return j.select(
            "r",
            F.col("n").cast("long").alias("n"),
            F.round("p_exp", 6).alias("p_exp"),
            (F.abs(ratio - F.col("p_exp")) <= tol).alias("within_tol"),
        )

    def a14_train_eval_metrics(spark, sf):
        # train-to-eval parity, end to end: A11/A12/A14 NumPy trainer →
        # A20 Parquet checkpoint → A15/A17 protocol on the loaded model.
        # Training is iterative (not SQL-expressible); everything is
        # seeded/counter-based, so the oracle pins the resulting metric
        # row — any regression in trainer, checkpoint codec, or eval
        # protocol moves a pinned value.
        import tempfile

        from kgforge import training
        from kgforge.fixtures import gen_openke_split
        from kgforge.io_openke import read_embeddings_parquet, write_embeddings_parquet

        split = gen_openke_split(n_ent=50, n_rel=4, n_train=300, n_valid=30, n_test=30, seed=5)
        emb = training.train(
            split["train2id"], n_ent=50, n_rel=4, dim=8, epochs=20, lr=0.05,
            margin=1.0, seed=11, valid_triples=split["valid2id"], eval_every=10,
        )
        d = tempfile.mkdtemp(prefix="kgforge_a14_")
        write_embeddings_parquet(emb, d)
        back = read_embeddings_parquet(d)
        known = pd.concat([split["train2id"], split["valid2id"], split["test2id"]])
        ranks = ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), back, known
        )
        m = ev.link_prediction_metrics(ranks)
        return m.select(*[F.round(F.col(c), 6).alias(c) for c in m.columns])

    def a6_batch_properties(spark, sf):
        from kgforge.sampling import training_batches

        t = _openke(spark, "train2id")
        b = training_batches(t, n_ent=200, n_rel=12, nbatches=4, neg_ent=1, neg_rel=1)
        return b.agg(
            F.sum((F.col("y") == 1).cast("long")).alias("n_pos"),
            F.sum((F.col("y") == -1).cast("long")).alias("n_neg"),
            F.countDistinct("batch_id").cast("long").alias("n_batches"),
        )

    def b2_mentions_cover_golden(spark, sf):
        # every golden (conv, turn, surface) slot whose surface the
        # gazetteer knows must be detected as a mention (span recall
        # property; corrupted unseen variants are B7/B8's job, not B2's)
        gaz = spark.createDataFrame(_gaz_pdf())
        men = (
            extract.detect_mentions(_transcripts(spark, sf), _gaz_pdf())
            .select("conv_id", "turn_idx", "surface").dropDuplicates()
        )
        g = _golden(spark, sf)
        slots = (
            g.select("conv_id", "turn_idx", F.col("subj").alias("surface"))
            .unionByName(g.select("conv_id", "turn_idx", F.col("obj").alias("surface")))
            .join(gaz.select("surface").dropDuplicates(), "surface", "left_semi")
            .dropDuplicates()
        )
        covered = slots.join(men, ["conv_id", "turn_idx", "surface"], "left_semi")
        return (
            slots.agg(F.count("*").cast("long").alias("n_golden_slots"))
            .crossJoin(covered.agg(F.count("*").cast("long").alias("n_covered")))
        )

    def b7_lsh_covers_exact_jaccard(spark, sf):
        # LSH blocking recall property: every exact char-3-Jaccard >= 0.5
        # surface pair must survive minhash+banding+verify. The oracle
        # recomputes n_exact_pairs independently with DuckDB list ops.
        names = spark.createDataFrame(_gaz_pdf()[["surface"]].drop_duplicates())
        exact = textops.exact_char_jaccard_pairs(
            names.select(F.col("surface").alias("doc_id"), F.col("surface").alias("text")),
            k=3, threshold=0.5,
        ).select("a", "b")
        lsh = canonicalize.alias_pairs(
            names.select(F.col("surface").alias("name")), threshold=0.5
        ).select("a", "b", F.lit(True).alias("_hit"))
        # one left join and one aggregate: the exact pair set is built once
        return exact.join(lsh, ["a", "b"], "left").agg(
            F.count("*").cast("long").alias("n_exact_pairs"),
            F.count_if(F.col("_hit").isNull()).cast("long").alias("n_missed"),
        )

    def dedup_minhash_containment(spark, sf):
        # exact char-5-Jaccard >= 0.5 doc pairs must ALL appear in the
        # MinHash-LSH candidate set (pairs on this corpus sit at
        # j >= 0.93 where banding recall is ~1-1e-10). The oracle
        # recomputes n_exact_pairs independently with DuckDB list ops
        # and expects n_missed = 0. The chain at threshold=0 returns every
        # LSH candidate: its size prefilter and jaccard >= 0 always hold.
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        exact = textops.exact_char_jaccard_pairs(docs, k=5, threshold=0.5).select("a", "b")
        cands = textops.minhash_neardup_docs(docs, threshold=0.0).select(
            "a", "b", F.lit(True).alias("_hit")
        )
        return exact.join(cands, ["a", "b"], "left").agg(
            F.count("*").cast("long").alias("n_exact_pairs"),
            F.count_if(F.col("_hit").isNull()).cast("long").alias("n_missed"),
        )

    def ann_lsh_topk_recall(spark, sf):
        # LSH ANN quality as a pinned single-row metric: recall@10 of
        # lsh_topk vs exact cosine_topk on the planted fixture —
        # deterministic (fixed planes seed), so the oracle pins the value
        from kgforge.fixtures import ensure_neardup_fixture

        emb = spark.read.parquet(os.path.join(ensure_neardup_fixture(), "embeddings.parquet"))
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")
        # n_planes=4 + Hamming-1 multiprobe scans ~31% of the corpus for
        # recall 0.625 on generic top-10 (most of a random query's top-10
        # are weak neighbors LSH rightly skips; the planted true dup is
        # always found)
        lsh = similarity.lsh_topk(emb, q, k=10, n_planes=4).select("query_id", "neighbor_id")
        hits = exact.join(lsh, ["query_id", "neighbor_id"], "left_semi")
        return (
            exact.agg(F.count("*").alias("_n"))
            .crossJoin(hits.agg(F.count("*").alias("_h")))
            .select(F.round(F.col("_h") / F.col("_n"), 6).alias("recall_at_10"))
        )

    def a15_link_prediction_ranks(spark, sf):
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known, model="transe", norm=1
        )

    def a15_ranks_blocked(spark, sf):
        # the A15 ranks with the known set as a DataFrame: only the known
        # triples sharing a test triple's fixed slot are collected — same
        # oracle as a15_link_prediction_ranks
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb,
            spark.createDataFrame(known[["h", "t", "r"]]),
        )

    def a15_ranks_blocked_transh(spark, sf):
        # A15 ranks under TransH (hyperplane projection in the kernel)
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known,
            model="transh", score_decimals=6,
        )

    def a15_ranks_blocked_transd(spark, sf):
        # A15 ranks under TransD (rank-1 dynamic projection; ent_p is
        # broadcast beside ent)
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known,
            model="transd", score_decimals=6,
        )

    def a15_ranks_blocked_transr(spark, sf):
        # A15 ranks under TransR: the kernel's per-relation matmul over
        # the broadcast |R|-sized matrices. Same oracle as the relfilter
        # TransR query (the DuckDB proj CTE is the same matmul).
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known,
            model="transr", score_decimals=6,
        )

    def a15_ranks_blocked_from_parquet(spark, sf):
        # A20 → A15 eval end to end: the embeddings come from a Parquet
        # checkpoint (read on the driver, no Spark job) and the known set
        # is the union of the split parquets as a DataFrame — only the
        # triples sharing a test triple's fixed slot reach the driver.
        from kgforge.io_openke import read_embeddings_parquet

        # checkpoint fixture is written ONCE per process (seeded, so
        # reuse is exact); the query itself measures the Parquet-ingested
        # eval path — read + ranks — not fixture setup
        emb = read_embeddings_parquet(_a20_ckpt_dir())
        known_df = (
            _openke(spark, "train2id")
            .unionByName(_openke(spark, "valid2id"))
            .unionByName(_openke(spark, "test2id"))
        )
        return ev.link_prediction_ranks(spark, _openke(spark, "test2id"), emb, known_df)

    def a15_ranks_relfilter(spark, sf):
        # the B12 gate's call shape: the known set as a DataFrame of the
        # split parquets, cut to the test triples' fixed slots before it
        # is collected — must equal the pandas-filter oracle exactly
        split, emb, known = _openke_emb()
        known_df = (
            _openke(spark, "train2id")
            .unionByName(_openke(spark, "valid2id"))
            .unionByName(_openke(spark, "test2id"))
        )
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known_df
        )

    def a15_ranks_relfilter_transr(spark, sf):
        # TransR in the B12 gate's call shape (known set as a DataFrame):
        # full rank-protocol oracle coverage of the per-relation matmul
        # kernel — the DuckDB side does the matmul relationally (proj
        # CTE). score_decimals=6: matmul product sums round
        # accumulation-order-dependently.
        split, emb, known = _openke_emb()
        known_df = (
            _openke(spark, "train2id")
            .unionByName(_openke(spark, "valid2id"))
            .unionByName(_openke(spark, "test2id"))
        )
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known_df,
            model="transr", score_decimals=6,
        )

    def a20_checkpoint_scores(spark, sf):
        # A20 round-trip: save → load → score; f32 survives Parquet
        # bit-identically, so the oracle is the same as a7_transe_scores
        import tempfile

        from kgforge.fixtures import gen_embeddings, gen_openke_split
        from kgforge.io_openke import read_embeddings_parquet, write_embeddings_parquet

        split = gen_openke_split()
        emb = gen_embeddings(n_ent=len(split["entity2id"]), n_rel=len(split["relation2id"]))
        d = tempfile.mkdtemp(prefix="kgforge_a20s_")
        write_embeddings_parquet(emb, d)
        back = read_embeddings_parquet(d)
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, back, model="transe", norm=1).select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a17_link_prediction_metrics(spark, sf):
        split, emb, known = _openke_emb()
        ranks = ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known
        )
        m = ev.link_prediction_metrics(ranks)
        return m.select(*[F.round(F.col(c), 9).alias(c) for c in m.columns])

    def a17_kernel_leaderboard(spark, sf):
        """Kernel-selection leaderboard: every kernel whose full rank
        protocol carries a DuckDB oracle (TransE, TransH, DistMult,
        ComplEx, RotatE, Analogy, HolE), scored on the same test split
        through the same raw+filtered protocol and aggregated to the
        A17 metric row with a model tag — the one-query answer to
        "which embedding model fits this KG". Per-kernel
        score_decimals match each oracle's rounding (L1 TransE is exact
        unrounded; every product-sum kernel ranks on 1e-6-rounded
        scores). The oracle is the union of the per-kernel rank-CTE
        metric blocks — identical aggregation text per block."""
        split, emb, known = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        # fused: one mapInPandas scores all 7 kernels (one broadcast set,
        # one Arrow crossing), one grouped aggregation replaces the
        # 7-branch union — per-kernel rank/metric values are identical
        # (pinned by test_kernel_leaderboard_consistent_with_...)
        ranks = ev.link_prediction_ranks_multi(
            spark, test, emb, known,
            models=[(name, dec) for name, dec, _ctes in _LEADERBOARD_KERNELS],
        )
        m = ev.link_prediction_metrics_by_model(ranks)
        order = F.array(*[F.lit(name) for name, _d, _c in _LEADERBOARD_KERNELS])
        return m.select(
            "model",
            *[F.round(F.col(c), 9).alias(c) for c in m.columns if c != "model"],
        ).orderBy(F.array_position(order, F.col("model")))  # 7-row sort: kernel order

    def kg_ntriples_roundtrip(spark, sf):
        """RDF N-Triples codec (io_rdf): canonical string triples →
        distributed percent-encoded N-Triples export (directory of
        range-sorted part files, no driver concatenation — the format
        has no count header) → distributed parse back. The read-back
        set must equal the relational source exactly, so any
        encode/decode regression — including on names carrying '#'
        and spaces, which TPC-H customer names do — is a hash
        mismatch. The W3C interchange path out of materialize:
        OpenKE txt for the reference's tooling, N-Triples for every
        RDF store."""
        import tempfile

        from kgforge.io_rdf import read_ntriples, write_ntriples

        cust = spark.read.parquet(f"{sf}/customer.parquet")
        nat = spark.read.parquet(f"{sf}/nation.parquet")
        triples = cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        ).select(
            F.col("c_name").alias("s"),
            F.lit("in_nation").alias("p"),
            F.col("n_name").alias("o"),
        )
        out = os.path.join(tempfile.mkdtemp(prefix="kgforge_nt_"), "nt")
        write_ntriples(triples, out, n_partitions=8)
        return read_ntriples(spark, out)

    def kg_nquads_provenance_roundtrip(spark, sf):
        """N-Quads codec (io_rdf): same contract as
        kg_ntriples_roundtrip plus a 4th graph-label IRI carrying the
        statement's provenance key — the interchange form of the
        kg_provenance story (per-source filtering/partitioning inside
        any RDF store). Read-back must equal the relational source
        including the graph column."""
        import tempfile

        from kgforge.io_rdf import read_nquads, write_nquads

        cust = spark.read.parquet(f"{sf}/customer.parquet")
        nat = spark.read.parquet(f"{sf}/nation.parquet")
        quads = cust.join(
            F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
        ).select(
            F.col("c_name").alias("s"),
            F.lit("in_nation").alias("p"),
            F.col("n_name").alias("o"),
            F.col("c_mktsegment").alias("g"),
        )
        out = os.path.join(tempfile.mkdtemp(prefix="kgforge_nq_"), "nq")
        write_nquads(quads, out, n_partitions=8)
        return read_nquads(spark, out)

    def a17_metrics_by_category(spark, sf):
        split, emb, known = _openke_emb()
        ranks = ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known
        )
        cats = ev.relation_categories(spark.createDataFrame(split["train2id"]))
        m = ev.link_prediction_metrics_by_category(ranks, cats)
        num = [c for c in m.columns if c not in ("category", "n_triples")]
        return m.select("category", "n_triples", *[F.round(F.col(c), 9).alias(c) for c in num])

    def a17_category_relfilter(spark, sf):
        """Per-category (1-1/1-N/N-1/N-N) metrics in the B12 gate's
        call shape at data-sized known sets: ranks from
        link_prediction_ranks with the known set as a DataFrame,
        categories from train tph/hpt, one aggregation. Output — and
        oracle — identical to the pandas-known category metrics."""
        split, emb, known = _openke_emb()
        ranks = ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb,
            spark.createDataFrame(known[["h", "t", "r"]]),
        )
        cats = ev.relation_categories(spark.createDataFrame(split["train2id"]))
        m = ev.link_prediction_metrics_by_category(ranks, cats)
        num = [c for c in m.columns if c not in ("category", "n_triples")]
        return m.select("category", "n_triples", *[F.round(F.col(c), 9).alias(c) for c in num])

    def a1_dict_roundtrip(spark, sf):
        """A1 txt dictionary codec: dense-id table → entity2id.txt
        (count header + name\\tid TSV, the reference's file layout) →
        read back. Output must equal the dense-id oracle exactly, so a
        byte-level codec regression is a hash mismatch."""
        import tempfile

        from kgforge import io_openke as io

        _, _, e2id, _ = _dicts(spark)
        p = os.path.join(tempfile.mkdtemp(prefix="kgforge_a1_"), "entity2id.txt")
        io.write_dict_txt(e2id.toPandas(), p)
        back = io.read_dict_txt(p)
        return spark.createDataFrame(back[["name", "id"]])

    def a1_type_constrain_roundtrip(spark, sf):
        """type_constrain.txt codec under oracle check: domains/ranges
        derived from the known split -> write (upstream OpenKE layout:
        count header, per-relation domain line + range line) -> read
        back -> (r, position, e) rows. Oracle re-derives the same sets
        with DISTINCT projections."""
        import tempfile

        from kgforge import io_openke as io

        _, _, known = _openke_emb()
        domains = {int(r): sorted(set(g["h"])) for r, g in known.groupby("r")}
        ranges = {int(r): sorted(set(g["t"])) for r, g in known.groupby("r")}
        p = os.path.join(tempfile.mkdtemp(prefix="kgforge_tc_"), "type_constrain.txt")
        io.write_type_constraint(domains, ranges, p)
        dback, rback = io.read_type_constraint(p)
        rows = [(r, "domain", int(e)) for r, es in dback.items() for e in es]
        rows += [(r, "range", int(e)) for r, es in rback.items() for e in es]
        return spark.createDataFrame(rows, "r long, position string, e long")

    def a12_optimizer_grid(spark, sf):
        """A12: every optimizer (sgd/adagrad/adam/adadelta) trains the
        fixture KG and must REDUCE the deterministic-corruption margin
        loss vs the untrained (epochs=0) init. Loss is the a11 hinge
        (h+1 mod |E| corruption) evaluated in NumPy on the
        dictionary-scale split; the oracle asserts the 4-row property
        table. Training itself is seeded and single-process here —
        the distributed path is a13/a21."""
        from kgforge import kernels, training

        split, _, _ = _openke_emb()
        n_ent, n_rel = len(split["entity2id"]), len(split["relation2id"])
        tr = split["train2id"]

        def mean_hinge(emb):
            h = tr["h"].to_numpy(np.int64)
            t = tr["t"].to_numpy(np.int64)
            r = tr["r"].to_numpy(np.int64)
            s_pos = kernels.score_batch("transe", emb, h, r, t, 1)
            s_neg = kernels.score_batch("transe", emb, (h + 1) % n_ent, r, t, 1)
            return float(np.maximum(0.0, 1.0 + s_pos - s_neg).mean())

        base = mean_hinge(training.train(tr, n_ent, n_rel, dim=16, epochs=0))
        rows = []
        for opt in ("sgd", "adagrad", "adam", "adadelta"):
            loss = mean_hinge(
                training.train(tr, n_ent, n_rel, dim=16, epochs=15, opt_method=opt)
            )
            rows.append((opt, bool(loss < base)))
        return spark.createDataFrame(rows, "opt_method string, improved boolean")

    def a13_param_averaging(spark, sf):
        """A13 (param-averaging replaces the reference's ps mesh):
        synchronous data-parallel training over hash-assigned shards.
        Properties the oracle pins: output shapes match the dictionary,
        every parameter is finite, entity rows are unit-normalized, and
        the trained model separates positives from deterministic
        corruptions (mean pos score < mean neg score)."""
        from kgforge import kernels, training

        split, _, _ = _openke_emb()
        n_ent, n_rel = len(split["entity2id"]), len(split["relation2id"])
        tr = spark.createDataFrame(split["train2id"]).select("h", "t", "r")
        emb = training.train_distributed(
            spark, tr, n_ent, n_rel, dim=16, rounds=4, epochs_per_round=4, n_shards=4
        )
        pdf = split["train2id"]
        h = pdf["h"].to_numpy(np.int64)
        t = pdf["t"].to_numpy(np.int64)
        r = pdf["r"].to_numpy(np.int64)
        s_pos = kernels.score_batch("transe", emb, h, r, t, 1)
        s_neg = kernels.score_batch("transe", emb, (h + 1) % n_ent, r, t, 1)
        norms = np.linalg.norm(emb["ent"].astype("float64"), axis=1)
        return spark.createDataFrame(
            [(
                int(emb["ent"].shape[0]), int(emb["rel"].shape[0]), int(emb["ent"].shape[1]),
                bool(np.isfinite(emb["ent"]).all() and np.isfinite(emb["rel"]).all()),
                bool(np.abs(norms - 1.0).max() < 1e-5),
                bool(s_pos.mean() < s_neg.mean()),
            )],
            "n_ent long, n_rel long, dim long, finite boolean, "
            "ent_unit_norm boolean, separates boolean",
        )

    def b11_resume_manifest(spark, sf):
        """B11 checkpoint/resume: full unit-fixture pipeline, then a
        --resume re-run in the same work dir. Every stage must be
        committed 'done' by run 1 and skipped (wall 0.0) by run 2; the
        oracle pins the 7-row table."""
        mp = _mini_pipeline(spark)
        status = {m["stage"]: m["status"] for m in mp["r1"]["manifest"]}
        rows = [
            (s, status[s], bool(mp["r2"]["timings_sec"][s] == 0.0))
            for s in sorted(status)
        ]
        return spark.createDataFrame(rows, "stage string, status string, resumed_zero boolean")

    def b12_eval_gate(spark, sf):
        """B12 eval gate on the constructed KG (same pipeline run as
        b11): eval_metrics.json must exist and satisfy the protocol
        invariants — a non-empty content-hash gate sample, filtered
        metrics at least as good as raw (MR ≤, MRR ≥: the filter only
        removes competing true triples), MRR in (0, 1], and Hits@k
        monotone in k."""
        import json

        mp = _mini_pipeline(spark)
        with open(os.path.join(mp["work"], "eval_metrics.json")) as f:
            m = json.load(f)
        return spark.createDataFrame(
            [(
                int(m["n_gate_triples"]),
                bool(m["n_gate_triples"] > 0),
                bool(m["mr_filt"] <= m["mr_raw"]),
                bool(m["mrr_filt"] >= m["mrr_raw"]),
                bool(0.0 < m["mrr_filt"] <= 1.0),
                bool(m["hits1_filt"] <= m["hits3_filt"] <= m["hits10_filt"] <= 1.0),
            )],
            "n_gate_triples long, nonempty boolean, mr_improves boolean, "
            "mrr_improves boolean, mrr_in_range boolean, hits_monotone boolean",
        )

    def a15_constrained_ranks(spark, sf):
        split, emb, known = _openke_emb()
        # domains/ranges from all splits (guarantees the true entity is
        # always a candidate — the reference's type_constrain semantics)
        domains = {
            int(r): np.unique(g["h"].to_numpy()) for r, g in known.groupby("r")
        }
        ranges = {
            int(r): np.unique(g["t"].to_numpy()) for r, g in known.groupby("r")
        }
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known,
            constraints=(domains, ranges),
        )

    def a19_topk_constrained(spark, sf):
        """A19 under type constraints: tail completion draws candidates
        from the relation's known range only (type_constrain semantics):
        each query row is scored against all entities in one block, and
        only the range's candidates are ranked. Oracle replays the
        range-restricted top-k in SQL."""
        split, emb, known = _openke_emb()
        domains = {
            int(r): np.unique(g["h"].to_numpy()) for r, g in known.groupby("r")
        }
        ranges = {
            int(r): np.unique(g["t"].to_numpy()) for r, g in known.groupby("r")
        }
        q = spark.createDataFrame(split["test2id"].head(20)[["h", "r"]])
        return ev.top_k_completions(
            spark, q, emb, k=10, constraints=(domains, ranges)
        ).select("h", "r", "candidate", "rk")

    def a19_topk_completions(spark, sf):
        split, emb, _ = _openke_emb()
        q = spark.createDataFrame(split["test2id"].head(20)[["h", "r"]])
        return ev.top_k_completions(spark, q, emb, k=10).select("h", "r", "candidate", "rk")

    def _kernel_scores(spark, model, norm=1):
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model=model, norm=norm).select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a7_transe_scores(spark, sf):
        return _kernel_scores(spark, "transe")

    def a7b_distmult_scores(spark, sf):
        """DistMult bilinear-diagonal kernel scores on the test split —
        first non-translational kernel family (Yang 2015); negated to
        the engine's shared lower-is-better ranking convention so every
        eval path applies unchanged."""
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="distmult").select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a7c_complex_scores(spark, sf):
        """ComplEx kernel scores (Trouillon 2016): Re(<h, r, conj(t)>)
        over complex embeddings (real parts = ent/rel tables, imaginary
        parts drawn after them in the fixture), expanded to real
        arithmetic and negated — the asymmetric-relation scorer the
        diagonal DistMult cannot express."""
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="complex").select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a7d_rotate_scores(spark, sf):
        """RotatE kernel scores (Sun 2019): relations as element-wise
        complex rotations, score = per-dimension complex modulus of
        h∘r − t (already a distance). The rotation is carried as a
        precomputed (cos θ, sin θ) fixture pair so neither engine
        computes trig — sqrt/mul/add only, exact under round(9)."""
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="rotate").select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a7e_simple_scores(spark, sf):
        """SimplE kernel scores (Kazemi & Poole 2018): the two CP
        halves ½(⟨he_h, v_r, te_t⟩ + ⟨he_t, v_r', te_h⟩) over
        head-role/tail-role entity vectors and forward/inverse relation
        vectors (head-role and forward reuse the ent/rel tables;
        tail-role and inverse drawn after every earlier fixture
        tensor). Negated to the shared lower-is-better convention."""
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="simple").select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a7f_rescal_scores(spark, sf):
        """RESCAL kernel scores (Nickel 2011): full bilinear h^T M_r t
        per relation — DistMult's non-diagonal generalization, reusing
        the per-relation d×d matrix tensor TransR already carries (no
        new fixture state). Negated to the shared convention; the
        oracle computes the double contraction relationally over the
        (id, i, j, val) matrix table."""
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="rescal").select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a7g_analogy_scores(spark, sf):
        """Analogy kernel scores (Liu, Wen & Yuille 2017): bilinear form
        with a block-diagonal normal relation matrix — computed as the
        reference family does, DistMult over a scalar block (ent_sc/
        rel_sc fixture tensors, drawn append-only after every earlier
        tensor) plus ComplEx over the complex block (reusing ent/rel +
        ent_im/rel_im). Negated to the shared lower-is-better
        convention; the oracle sums all three product terms in one
        relational aggregation."""
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="analogy").select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a7h_hole_scores(spark, sf):
        """HolE kernel scores (Nickel, Rosasco & Poggio 2016):
        ``r · (h ⋆ t)`` with ⋆ = circular correlation — the d-parameter
        compression of RESCAL's d² pairwise interaction; reuses the
        ent/rel tables with NO new fixture state. The engine computes
        the direct index-gather einsum Σ_{{i,k}} r_k h_i t_(i+k mod d);
        the oracle replays it as a modular-index three-way join —
        identical double-precision products, round(9) absorbing
        summation-order ulp exactly as for the other bilinear
        kernels."""
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="hole").select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a12b_distmult_training(spark, sf):
        """DistMult under the A12 training harness: the deterministic-
        corruption margin loss must fall vs the untrained init for both
        sgd and adagrad — same property-table protocol as
        a12_optimizer_grid, scoring with the shared kernels path."""
        from kgforge import kernels, training

        split, _, _ = _openke_emb()
        n_ent, n_rel = len(split["entity2id"]), len(split["relation2id"])
        tr = split["train2id"]
        rng = np.random.default_rng(11)
        ent0 = training._xavier(rng, n_ent, 16)
        rel0 = training._xavier(rng, n_rel, 16)

        def mean_hinge(ent, rel):
            h = tr["h"].to_numpy(np.int64)
            t = tr["t"].to_numpy(np.int64)
            r = tr["r"].to_numpy(np.int64)
            emb = {"ent": ent, "rel": rel}
            sp = kernels.score_batch("distmult", emb, h, r, t)
            sn = kernels.score_batch("distmult", emb, (h + 1) % n_ent, r, t)
            return float(np.maximum(0.0, 1.0 + sp - sn).mean())

        base = mean_hinge(ent0, rel0)
        rows = []
        for opt in ("sgd", "adagrad"):
            e1, r1 = training.sgd_epochs(
                tr, ent0, rel0, epochs=15, lr=0.05, margin=1.0, seed=11,
                model="distmult", opt_method=opt,
            )
            rows.append((opt, bool(mean_hinge(e1, r1) < base)))
        return spark.createDataFrame(rows, "opt_method string, improved boolean")

    def a12c_complex_training(spark, sf):
        """ComplEx under the training harness: the four-matrix margin
        trainer must cut the deterministic-corruption loss to under
        half the untrained init's — same property-table protocol as
        a12/a12b, scored through the shared kernels path."""
        from kgforge import kernels, training

        split, _, _ = _openke_emb()
        n_ent, n_rel = len(split["entity2id"]), len(split["relation2id"])
        tr = split["train2id"]
        rng = np.random.default_rng(13)
        er, ei = training._xavier(rng, n_ent, 16), training._xavier(rng, n_ent, 16)
        rr, ri = training._xavier(rng, n_rel, 16), training._xavier(rng, n_rel, 16)

        def mean_hinge(er_, ei_, rr_, ri_):
            h = tr["h"].to_numpy(np.int64)
            t = tr["t"].to_numpy(np.int64)
            r = tr["r"].to_numpy(np.int64)
            emb = {"ent": er_, "ent_im": ei_, "rel": rr_, "rel_im": ri_}
            sp = kernels.score_batch("complex", emb, h, r, t)
            sn = kernels.score_batch("complex", emb, (h + 1) % n_ent, r, t)
            return float(np.maximum(0.0, 1.0 + sp - sn).mean())

        base = mean_hinge(er, ei, rr, ri)
        er1, ei1, rr1, ri1 = training.sgd_epochs_complex(
            tr, er, ei, rr, ri, epochs=20, lr=0.02, margin=1.0, seed=13
        )
        after = mean_hinge(er1, ei1, rr1, ri1)
        return spark.createDataFrame(
            [("complex", bool(after < base * 0.5))],
            "model string, improved boolean",
        )

    def a12d_rotate_training(spark, sf):
        """RotatE under the training harness: θ-parametrized rotations
        (unit modulus by construction under any SGD step) plus complex
        entity embeddings must cut the deterministic-corruption margin
        loss to under half the untrained init's — same property-table
        protocol as a12b/a12c."""
        from kgforge import kernels, training

        split, _, _ = _openke_emb()
        n_ent, n_rel = len(split["entity2id"]), len(split["relation2id"])
        tr = split["train2id"]
        rng = np.random.default_rng(17)
        er, ei = training._xavier(rng, n_ent, 16), training._xavier(rng, n_ent, 16)
        th = rng.uniform(-np.pi, np.pi, size=(n_rel, 16))

        def mean_hinge(er_, ei_, th_):
            h = tr["h"].to_numpy(np.int64)
            t = tr["t"].to_numpy(np.int64)
            r = tr["r"].to_numpy(np.int64)
            emb = {"ent": er_, "ent_im": ei_,
                   "rot_re": np.cos(th_), "rot_im": np.sin(th_)}
            sp = kernels.score_batch("rotate", emb, h, r, t)
            sn = kernels.score_batch("rotate", emb, (h + 1) % n_ent, r, t)
            return float(np.maximum(0.0, 2.0 + sp - sn).mean())

        base = mean_hinge(er, ei, th)
        er1, ei1, th1 = training.sgd_epochs_rotate(
            tr, er, ei, th, epochs=25, lr=0.05, margin=2.0, seed=17
        )
        return spark.createDataFrame(
            [("rotate", bool(mean_hinge(er1, ei1, th1) < base * 0.5))],
            "model string, improved boolean",
        )

    def a11_margin_loss(spark, sf):
        # A11 margin ranking loss in the oracle regime: a DETERMINISTIC
        # corruption (h+1 mod |E|, a bijection) replaces the RNG sampler
        # so DuckDB replays the exact pos/neg pairing — the sampler
        # itself keeps its own property oracles (a4/a5). hinge =
        # max(0, margin + s_pos - s_neg), the reference's pairwise loss
        # (recalled base/Model.h margin term); L1-f32 scores are exact
        # in f64, rounded to 9 like every kernel-score oracle.
        split, emb, _ = _openke_emb()
        n_ent = len(split["entity2id"])
        train = spark.createDataFrame(split["train2id"]).select("h", "t", "r").dropDuplicates()
        pos = ev.score_triples(spark, train, emb).withColumnRenamed("score", "s_pos")
        neg_in = train.select(
            F.pmod(F.col("h") + 1, F.lit(n_ent)).cast("long").alias("h"), "t", "r"
        )
        neg = ev.score_triples(spark, neg_in, emb).select(
            F.pmod(F.col("h") - 1 + n_ent, F.lit(n_ent)).cast("long").alias("h"),
            "t", "r", F.col("score").alias("s_neg"),
        )
        return (
            pos.join(neg, ["h", "t", "r"])
            .select(
                "h", "t", "r",
                F.round("s_pos", 9).alias("s_pos"),
                F.round("s_neg", 9).alias("s_neg"),
                F.round(
                    F.greatest(F.lit(0.0), F.lit(1.0) + F.col("s_pos") - F.col("s_neg")), 9
                ).alias("hinge"),
            )
        )

    def a7_transe_scores_l2(spark, sf):
        # the reference's L1/L2 switch, L2 half (Config.p_norm, recalled)
        split, emb, _ = _openke_emb()
        test = spark.createDataFrame(split["test2id"])
        return ev.score_triples(spark, test, emb, model="transe", norm=2).select(
            "h", "t", "r", F.round("score", 9).alias("score")
        )

    def a15_ranks_l2(spark, sf):
        # score_decimals=6: L2 sums of squares round accumulation-order-
        # dependently (L1 stays exact in float64) — both engines rank on
        # 1e-6-rounded scores; see link_prediction_ranks docstring
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known,
            model="transe", norm=2, score_decimals=6,
        )

    def a19_topk_heads(spark, sf):
        # head-mode completions (reference predict_head_entity)
        split, emb, _ = _openke_emb()
        q = spark.createDataFrame(split["test2id"].head(20)[["t", "r"]])
        return ev.top_k_completions(spark, q, emb, k=10, mode="head").select(
            "t", "r", "candidate", "rk"
        )

    def a8_transh_scores(spark, sf):
        return _kernel_scores(spark, "transh")

    def a9_transr_scores(spark, sf):
        return _kernel_scores(spark, "transr")

    def a10_transd_scores(spark, sf):
        return _kernel_scores(spark, "transd")

    def a8_transh_scores_l2(spark, sf):
        return _kernel_scores(spark, "transh", norm=2)

    def a9_transr_scores_l2(spark, sf):
        return _kernel_scores(spark, "transr", norm=2)

    def a10_transd_scores_l2(spark, sf):
        return _kernel_scores(spark, "transd", norm=2)

    def a6_training_batches(spark, sf):  # rows-only (counter-based RNG)
        from kgforge.sampling import training_batches

        t = _openke(spark, "train2id")
        return training_batches(t, n_ent=200, n_rel=12, nbatches=4, neg_ent=1, neg_rel=1)

    def a21_incremental_training(spark, sf):  # rows-only (iterative NumPy)
        import tempfile

        from kgforge import training
        from kgforge.fixtures import gen_openke_split
        from kgforge.io_openke import write_split

        d = tempfile.mkdtemp(prefix="kgforge_a21_")
        write_split(gen_openke_split(n_ent=30, n_rel=4, n_train=150, n_valid=15, n_test=15, seed=1), os.path.join(d, "0"))
        write_split(gen_openke_split(n_ent=40, n_rel=4, n_train=200, n_valid=15, n_test=15, seed=2), os.path.join(d, "1"))
        out = training.train_incremental(d, dim=8, epochs=5)
        pdf = pd.DataFrame(
            {"id": range(out["ent"].shape[0]), "dim": out["ent"].shape[1]}
        )
        return spark.createDataFrame(pdf)

    def _tc_scored(spark):
        _, emb, _ = _openke_emb()
        tc = _openke(spark, "tc_sets")
        return ev.score_triples(spark, tc, emb)

    def a18_thresholds(spark, sf):
        sv = _tc_scored(spark).where(F.col("split") == "valid")
        thresholds, _acc = ev.triple_classification(sv, sv)
        return thresholds.select("r", F.round("threshold", 9).alias("threshold"))

    def a18_accuracy(spark, sf):
        scored = _tc_scored(spark)
        sv = scored.where(F.col("split") == "valid")
        st = scored.where(F.col("split") == "test")
        _th, acc = ev.triple_classification(sv, st)
        return spark.createDataFrame([(round(acc, 9),)], "accuracy double")

    # -- training-data ops (driver testdata tables) ---------------------------

    def dedup_exact(spark, sf):
        return textops.exact_dedup(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_fingerprint(spark, sf):
        return textops.fingerprint_docs(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_token_counts(spark, sf):
        return textops.token_counts(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_quality_scores(spark, sf):
        return textops.quality_scores(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_lang_id(spark, sf):
        return textops.lang_id(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_tfidf_top_terms(spark, sf):
        # corpus TF-IDF, top-10 terms per doc: explode → (doc,term) agg →
        # term-aligned df/idf agg → vocab-sized join back → bounded
        # per-doc window. Both engines round idf and tfidf to 6 decimals
        # (double log products) and tie-break rank by term.
        return textops.tfidf_top_terms(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_length_quantiles(spark, sf):
        # exact continuous quantiles (Spark percentile == DuckDB
        # quantile_cont, bit-equal interpolation)
        return textops.length_quantiles(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_length_quantiles_approx(spark, sf):
        """Property query for the 100 TB quantile path: percentile_approx
        (Greenwald-Khanna sketch, single pass, mergeable — no global
        sort) must return, for every requested prob p, an actual column
        element whose RANK is within n/accuracy (+1 slack) of p*n. The
        check computes each approx value's true rank interval
        [count(<v)+1, count(<=v)] against the target rank p*n — all 4
        probs must be in bound (oracle asserts the constant)."""
        docs = spark.read.parquet(f"{sf}/documents.parquet").select("n_chars")
        probs = (0.25, 0.5, 0.75, 0.99)
        acc = 10_000
        approx = textops.length_quantiles(docs, exact=False, probs=probs, accuracy=acc)
        vals = approx.selectExpr(
            "stack(4, 0.25D, q25, 0.5D, q50, 0.75D, q75, 0.99D, q99) as (p, v)"
        )
        ranked = (
            docs.crossJoin(F.broadcast(vals))
            .groupBy("p", "v")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("n_chars") < F.col("v")).cast("long")).alias("n_lt"),
                F.sum((F.col("n_chars") <= F.col("v")).cast("long")).alias("n_le"),
            )
        )
        tol = F.col("n") / acc + F.lit(1.0)
        target = F.col("p") * F.col("n")
        ok = (F.col("n_lt") <= target + tol) & (F.col("n_le") >= target - tol)
        return ranked.agg(
            F.count(F.lit(1)).cast("long").alias("n_probs"),
            F.sum(ok.cast("long")).alias("n_within_bound"),
        )

    def txt_repetition_stats(spark, sf):
        # Gopher repetition gates: dup-line / dup-bigram / top-bigram
        # fractions per document (textops.repetition_stats docstring for
        # the shuffle budget); oracle replays lines + lead-window grams.
        return textops.repetition_stats(spark.read.parquet(f"{sf}/documents.parquet"))

    def txt_duplicate_spans(spark, sf):
        """Cross-document exact substring duplication (Lee et al. 2022
        substring dedup): per doc, the tokens covered by word 8-grams
        shared with at least one OTHER document — overlapping spans
        unioned by a sweep-line window, so no token double-counts. The
        near-dup family finds copied documents; this finds copied
        PASSAGES. Oracle replays splitting, lead-window grams, the
        cross-doc df gate, and the same running-max sweep."""
        return textops.duplicate_spans(
            spark.read.parquet(f"{sf}/documents.parquet"), n=8
        )

    def docs_benchmark_contamination(spark, sf):
        # train-test leakage gate: deterministic doc_id%37 split plays
        # the benchmark/eval set; the benchmark gram table is broadcast
        # (textops.benchmark_contamination docstring for the scale
        # argument). Oracle replays the identical n-gram construction
        # on raw strings (list-slice == Spark slice, short-doc clamp
        # included).
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        bench = docs.where(F.col("doc_id") % 37 == 0)
        corpus = docs.where(F.col("doc_id") % 37 != 0)
        return textops.benchmark_contamination(corpus, bench, n=3, threshold=0.5)

    def docs_weighted_sample(spark, sf):
        # Efraimidis-Spirakis weighted sampling without replacement:
        # 50 documents proportional to n_chars, md5-keyed exponential
        # order statistics (engine-replayable; the oracle re-draws the
        # identical keys and takes the same top-k).
        from kgforge.sampling import weighted_sample

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return weighted_sample(docs, "doc_id", "n_chars", k=50, seed=42).select(
            "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "sample_key"
        )

    def docs_pii_scrub(spark, sf):
        # PII redaction scrub (textops.pii_scrub): fixture text holds
        # no PII, so the query injects a deterministic doc_id-derived
        # email/IP/SSN/phone tail into 2/3 of the docs (plain string
        # concat, replayed verbatim by the oracle) and scrubs it. The
        # operator itself is the generic sequential count+redact chain.
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        injected = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 != 0,
                F.concat(
                    F.col("text"),
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example.com from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7 ssn 123-45-6789 tel 555-867-5309"),
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        return textops.pii_scrub(injected)

    def docs_strip_boilerplate(spark, sf):
        # cross-doc boilerplate removal (textops.strip_boilerplate):
        # fixture docs are single-line and all-distinct, so the query
        # injects a footer into every doc (always boilerplate at
        # min_docs=100), a newsletter line into half (boilerplate),
        # and an editor line into 1/9 (below threshold -> KEPT) —
        # exercising the doc-frequency gate in both directions.
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        injected = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit("\nCopyright Example Corp. All rights reserved."),
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.lit("\nSubscribe to our newsletter!"),
                ).otherwise(F.lit("")),
                F.when(
                    F.col("doc_id") % 9 == 0, F.lit("\nPosted by editor.")
                ).otherwise(F.lit("")),
            ).alias("text"),
        )
        return textops.strip_boilerplate(injected, min_docs=100)

    def docs_pack_sequences(spark, sf):
        # LLM sequence-packing manifest (textops.pack_sequences):
        # concat-then-chunk at seq_len=256 whitespace tokens; the
        # two-phase distributed cumsum supplies each doc's global
        # token offset. Oracle replays with a window cumsum +
        # generate_series explode — all-integer, hash-exact.
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.pack_sequences(docs, seq_len=256)

    def docs_assign_splits(spark, sf):
        # deterministic 80/10/10 train/valid/test assignment
        # (sampling.assign_splits): md5-keyed integer per-mille gate —
        # zero shuffles, replayed bit-exactly by the oracle.
        from kgforge.sampling import assign_splits

        docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
        return assign_splits(
            docs, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1}, seed=42
        )

    def docs_training_export(spark, sf):
        """END-TO-END training-data export — the LLM-pipeline user
        story composed from the per-op pieces: quality∧lang gates →
        exact dedup (training_corpus_filter) → hash-gated 90/10 split
        (assign_splits, train side kept) → sequence-packing manifest
        at seq_len=128 (pack_sequences). One dedup shuffle + the
        two-phase cumsum; everything else narrow or broadcast. The
        oracle replays the entire composition in SQL."""
        from kgforge.sampling import assign_splits

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        surv = textops.training_corpus_filter(docs).select("doc_id")
        clean = docs.join(surv, "doc_id").select("doc_id", "text")
        train = (
            assign_splits(clean, "doc_id", {"train": 0.9, "valid": 0.1}, seed=7)
            .where(F.col("split") == "train")
            .select("doc_id", "text")
        )
        return textops.pack_sequences(train, seq_len=128)

    def txt_build_vocab(spark, sf):
        # tokenizer-fitting step (textops.build_vocab): top-20 word
        # vocabulary with dense ids by (count desc, token). One count
        # shuffle + TakeOrdered; the row_number window runs over the
        # 20-row result only.
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.build_vocab(docs, size=20)

    def txt_oov_stats(spark, sf):
        # per-doc OOV rate against the fitted top-20 vocab
        # (textops.oov_stats): broadcast vocab, one explode + left
        # join + doc_id agg.
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        vocab = textops.build_vocab(docs, size=20)
        return textops.oov_stats(docs, vocab)

    def docs_corpus_filter(spark, sf):
        # composite training-data cleanup: quality gate AND en-language
        # gate, then exact dedup of the survivors — the operators
        # composed as a user would chain them; oracle replays the same
        # gates + group-by in SQL.
        return textops.training_corpus_filter(spark.read.parquet(f"{sf}/documents.parquet"))

    def dedup_ngram_jaccard(spark, sf):
        # df_cap: the stop-shingle skew guard is live (capped candidate
        # generation + exact array_intersect verify). Output is exact for
        # every pair sharing >=1 shingle with df <= cap; on this corpus
        # max df = 25 so the cap provably drops nothing and the DuckDB
        # oracle (uncapped) must match bit-for-bit.
        return textops.ngram_jaccard_pairs(
            spark.read.parquet(f"{sf}/documents.parquet"), n=3, threshold=0.5, df_cap=100
        )

    def dedup_neardup_groups(spark, sf):
        """Near-dup pairs -> canonical dedup GROUPS: connected
        components over the verified pair graph (near-duplication
        isn't transitive; CC is the standard resolution), group_id =
        min doc in the cluster, is_canonical marks the kept
        representative. Every document appears — singletons group with
        themselves. Oracle replays pairs + a recursive-CTE CC."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        pairs = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=100)
        return textops.neardup_groups(docs, pairs)

    def dedup_minhash(spark, sf):  # rows-only (minhash)
        return textops.minhash_neardup_docs(
            spark.read.parquet(f"{sf}/documents.parquet"), threshold=0.5
        )

    def dedup_simhash(spark, sf):  # rows-only (hash-based)
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.simhash_candidate_pairs(textops.simhash_docs(docs), max_hamming=8)

    def ann_quantize(spark, sf):
        """Per-vector int8 scalar quantization of the embedding table
        (similarity.quantize_embeddings): codes against the vector's
        own [min,max], worst-dimension reconstruction error. Narrow
        map, zero shuffles; oracle replays the identical double
        arithmetic (float casts exact, max is order-independent)."""
        from kgforge.similarity import quantize_embeddings

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        return quantize_embeddings(emb)

    def ann_quantized_topk(spark, sf):
        """Asymmetric quantized ANN: exact float queries ranked
        against int8-decoded vectors (similarity.dequantized_vectors
        + cosine_topk). Rank-only output, same contract as
        ann_cosine_topk; the oracle decodes with identical double
        arithmetic and ranks with list_cosine_similarity."""
        from kgforge.similarity import cosine_topk, dequantized_vectors

        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        q = emb.where(F.col("vec_id") < 8).selectExpr(
            "vec_id as query_id", "embedding"
        )
        return cosine_topk(dequantized_vectors(emb), q, k=10).select(
            "query_id", "neighbor_id", "rk"
        )

    def ann_cosine_topk(spark, sf):
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id", "rk")

    def ann_cosine_neardup(spark, sf):
        # the LSH scale path, live: banded hyperplane signatures → bucket
        # join (~650x fewer candidate pairs than all-pairs on this
        # fixture) → exact cosine verify. Oracle is the exact SQL over
        # the same planted-near-dup fixture; outputs must match exactly.
        from kgforge.fixtures import ensure_neardup_fixture

        emb = spark.read.parquet(os.path.join(ensure_neardup_fixture(), "embeddings.parquet"))
        return similarity.cosine_neardup_pairs(emb, threshold=0.9, method="lsh")

    def ann_cosine_neardup_exact(spark, sf):
        # exact all-pairs baseline on the driver testdata embeddings —
        # at tau=0.4 on near-random vectors hyperplane LSH generates MORE
        # candidates than the cross product (see cosine_neardup_pairs
        # docstring), so the O(N^2) plan is the honest one here.
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        return similarity.cosine_neardup_pairs(emb, threshold=0.4, method="exact")

    def ann_lsh_topk(spark, sf):  # rows-only (approximate)
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.lsh_topk(emb, q, k=10, n_planes=8).select(
            "query_id", "neighbor_id", "rk"
        )

    def ann_ivf_topk(spark, sf):  # rows-only (approximate candidates)
        from kgforge.fixtures import ensure_neardup_fixture

        emb = spark.read.parquet(os.path.join(ensure_neardup_fixture(), "embeddings.parquet"))
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.ivf_topk(emb, q, k=10, n_clusters=16, nprobe=4).select(
            "query_id", "neighbor_id", "rk"
        )

    def ann_ivf_topk_recall(spark, sf):
        # IVF recall/compute dial, pinned: nprobe=4 of 16 clusters scans
        # ~25% of the corpus for recall 0.6625; nprobe=n_clusters is
        # exact (tested). Deterministic (seeded fixed-iteration k-means).
        from kgforge.fixtures import ensure_neardup_fixture

        emb = spark.read.parquet(os.path.join(ensure_neardup_fixture(), "embeddings.parquet"))
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")
        ivf = similarity.ivf_topk(emb, q, k=10, n_clusters=16, nprobe=4).select(
            "query_id", "neighbor_id"
        )
        hits = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        return (
            exact.agg(F.count("*").alias("_n"))
            .crossJoin(hits.agg(F.count("*").alias("_h")))
            .select(F.round(F.col("_h") / F.col("_n"), 6).alias("recall_at_10"))
        )

    def ann_ivf_persisted_recall(spark, sf):
        # the IVF serving shape: centroids + (id, cluster) assignments
        # persisted to parquet once, later query batches answered FROM
        # the index (no re-quantization, no corpus re-scan). Same seeded
        # quantizer → byte-equal candidates → the same pinned recall as
        # the in-memory build (a wrong persisted assignment moves it).
        import tempfile

        from kgforge.fixtures import ensure_neardup_fixture

        emb = spark.read.parquet(os.path.join(ensure_neardup_fixture(), "embeddings.parquet"))
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        d = tempfile.mkdtemp(prefix="kgforge_ivf_")
        similarity.ivf_index_write(spark, emb, d, n_clusters=16)
        idx = similarity.ivf_index_read(spark, d)
        exact = similarity.cosine_topk(emb, q, k=10).select("query_id", "neighbor_id")
        ivf = similarity.ivf_topk(emb, q, k=10, nprobe=4, index=idx).select(
            "query_id", "neighbor_id"
        )
        hits = exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        return (
            exact.agg(F.count("*").alias("_n"))
            .crossJoin(hits.agg(F.count("*").alias("_h")))
            .select(F.round(F.col("_h") / F.col("_n"), 6).alias("recall_at_10"))
        )

    def str_session_windows(spark, sf):
        # gap-based session windows run as a REAL stream (file source,
        # availableNow drain, complete-mode memory sink): consecutive
        # events of a user merge while each arrives within 30 min of the
        # previous (delta <= gap merges — an event exactly gap later
        # still extends; pinned by a synthetic edge-case test); window
        # end = last event + gap. The oracle recomputes sessions as gap
        # islands in SQL with the same boundary rule.
        import shutil
        import tempfile
        import uuid

        from kgforge import streaming

        src = f"{sf}/events.parquet"
        d = tempfile.mkdtemp(prefix="kgforge_sess_")
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        if os.path.isdir(src):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f), os.path.join(sdir, f))
        else:
            shutil.copy(src, os.path.join(sdir, "part-0.parquet"))
        schema = spark.read.parquet(src).schema
        st = spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).parquet(sdir)
        sw = streaming.session_windows(st, gap="30 minutes", watermark="2 hours")
        name = "sess_" + uuid.uuid4().hex[:8]
        streaming.run_to_memory(sw, name, mode="complete")
        shutil.rmtree(d, ignore_errors=True)
        return spark.table(name)

    def str_dedup_docs(spark, sf):
        # stateful in-stream exact dedup as a REAL stream (file source,
        # availableNow drain): the first arrival of each content hash
        # wins, duplicates in LATER micro-batches are dropped by
        # dropDuplicatesWithinWatermark state (bounded by the watermark
        # horizon, not keys-ever-seen). Output = the distinct content-
        # hash set — oracle is SELECT DISTINCT md5(text). Event time is
        # a constant (all rows inside one horizon), so stream output ==
        # batch dropDuplicates == SQL DISTINCT; the cross-micro-batch
        # statefulness itself is pinned by
        # test_stream_dedup_across_microbatches.
        import shutil
        import tempfile
        import uuid

        from kgforge import streaming

        src = f"{sf}/documents.parquet"
        d = tempfile.mkdtemp(prefix="kgforge_sdedup_")
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        if os.path.isdir(src):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f), os.path.join(sdir, f))
        else:
            shutil.copy(src, os.path.join(sdir, "part-0.parquet"))
        schema = spark.read.parquet(src).schema
        st = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(sdir)
            .withColumn("doc_hash", F.md5("text"))
            .withColumn("_ts", F.lit("2030-01-01 00:00:00").cast("timestamp"))
        )
        ded = streaming.stream_dedup(st, key="doc_hash", ts_col="_ts")
        name = "sdedup_" + uuid.uuid4().hex[:8]
        streaming.run_to_memory(ded.select("doc_hash"), name)
        shutil.rmtree(d, ignore_errors=True)
        return spark.table(name)

    def str_stateful_counts(spark, sf):
        # custom stateful operator as a REAL stream: per-user running
        # event counts via applyInPandasWithState (explicit group state,
        # update mode). The sink holds a monotone count series per user;
        # max(n_events) per user == batch groupBy count — the oracle.
        # Cross-micro-batch accumulation is pinned by
        # test_stateful_running_counts_across_microbatches.
        import shutil
        import tempfile
        import uuid

        from kgforge import streaming

        src = f"{sf}/events.parquet"
        d = tempfile.mkdtemp(prefix="kgforge_state_")
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        if os.path.isdir(src):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f), os.path.join(sdir, f))
        else:
            shutil.copy(src, os.path.join(sdir, "part-0.parquet"))
        schema = spark.read.parquet(src).schema
        st = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(sdir)
        out = streaming.stateful_running_counts(st, key="user_id")
        name = "state_" + uuid.uuid4().hex[:8]
        streaming.run_to_memory(out, name, mode="update")
        shutil.rmtree(d, ignore_errors=True)
        return (
            spark.table(name)
            .groupBy("user_id")
            .agg(F.max("n_events").cast("long").alias("n_events"))
        )

    def str_enriched_segments(spark, sf):
        # stream-static enrichment: the event stream broadcast-joins a
        # static dimension (customer market segment) mid-stream, then a
        # complete-mode count per segment — the standard dimension-
        # enrichment shape (static side re-read per micro-batch, stream
        # side never leaves its partitioning). Oracle = the same join +
        # GROUP BY in SQL.
        import shutil
        import tempfile
        import uuid

        from kgforge import streaming

        src = f"{sf}/events.parquet"
        d = tempfile.mkdtemp(prefix="kgforge_enrich_")
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        if os.path.isdir(src):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f), os.path.join(sdir, f))
        else:
            shutil.copy(src, os.path.join(sdir, "part-0.parquet"))
        schema = spark.read.parquet(src).schema
        st = spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(sdir)
        dim = spark.read.parquet(f"{sf}/customer.parquet").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
        enriched = st.join(F.broadcast(dim), "user_id")
        counts = enriched.groupBy("c_mktsegment").agg(
            F.count("*").cast("long").alias("n_events")
        )
        name = "enrich_" + uuid.uuid4().hex[:8]
        streaming.run_to_memory(counts, name, mode="complete")
        shutil.rmtree(d, ignore_errors=True)
        return spark.table(name)

    def str_continuous_kg(spark, sf):
        """Continuous KG construction composed end-to-end: transcript
        stream -> streaming extraction -> broadcast gazetteer link
        (surface -> canonical, stream-static) -> dense-id triples,
        drained availableNow, distinct canonical (s, p, o) at the sink.
        Every stage is stateless so the stream plan is the batch plan
        under a file source; oracle replays golden surface triples
        through the same gazetteer + dense-id joins in SQL. (Dictionary-
        only linking here: corrupted alias variants need the B7/B8 alias
        map, which is the batch pipeline's job — this is the low-latency
        ingest path.)"""
        import shutil
        import tempfile
        import uuid

        from kgforge import streaming
        from kgforge.fixtures import patterns_df

        src = os.path.join(_fixture_dir(sf), "transcripts.parquet")
        d = tempfile.mkdtemp(prefix="kgforge_ckg_")
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        if os.path.isdir(src):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f), os.path.join(sdir, f))
        else:
            shutil.copy(src, os.path.join(sdir, "part-0.parquet"))
        st = streaming.stream_transcripts(spark, sdir)
        tri = streaming.stream_triples(st, _gaz_pdf(), patterns_df())
        gaz, _, e2id, r2id = _dicts(spark)
        surf2canon = gaz.select("surface", "canonical")
        linked = (
            tri.join(
                F.broadcast(surf2canon.withColumnRenamed("surface", "subj")
                            .withColumnRenamed("canonical", "_sc")), "subj"
            )
            .join(
                F.broadcast(surf2canon.withColumnRenamed("surface", "obj")
                            .withColumnRenamed("canonical", "_oc")), "obj"
            )
            .join(F.broadcast(e2id.withColumnRenamed("name", "_sc")
                              .withColumnRenamed("id", "s")), "_sc")
            .join(F.broadcast(e2id.withColumnRenamed("name", "_oc")
                              .withColumnRenamed("id", "o")), "_oc")
            .join(F.broadcast(r2id.withColumnRenamed("name", "pred")
                              .withColumnRenamed("id", "p")), "pred")
            .select("s", "p", "o")
        )
        name = "ckg_" + uuid.uuid4().hex[:8]
        streaming.run_to_memory(linked, name)
        shutil.rmtree(d, ignore_errors=True)
        return spark.table(name).dropDuplicates(["s", "p", "o"])

    def str_kg_to_catalog(spark, sf):
        """The full low-latency ingest story: transcript stream ->
        streaming extraction -> broadcast dictionary link -> dense-id
        triples -> idempotent fast-append commits INTO the Iceberg-lite
        catalog (several micro-batches), then a batch read of the
        committed table. Same oracle as str_continuous_kg: however the
        stream was micro-batched and committed, the table equals the
        batch build."""
        import tempfile

        from kgforge import streaming
        from kgforge.catalog import IcebergLiteTable
        from kgforge.fixtures import patterns_df

        src = os.path.join(_fixture_dir(sf), "transcripts.parquet")
        d = tempfile.mkdtemp(prefix="kgforge_skgc_")
        sdir = os.path.join(d, "in")
        # multi-file copy => several micro-batches (maxFilesPerTrigger=8)
        spark.read.parquet(src).repartition(24).write.parquet(sdir)
        st = streaming.stream_transcripts(spark, sdir)
        tri = streaming.stream_triples(st, _gaz_pdf(), patterns_df())
        gaz, _, e2id, r2id = _dicts(spark)
        surf2canon = gaz.select("surface", "canonical")
        linked = (
            tri.join(
                F.broadcast(surf2canon.withColumnRenamed("surface", "subj")
                            .withColumnRenamed("canonical", "_sc")), "subj"
            )
            .join(
                F.broadcast(surf2canon.withColumnRenamed("surface", "obj")
                            .withColumnRenamed("canonical", "_oc")), "obj"
            )
            .join(F.broadcast(e2id.withColumnRenamed("name", "_sc")
                              .withColumnRenamed("id", "s")), "_sc")
            .join(F.broadcast(e2id.withColumnRenamed("name", "_oc")
                              .withColumnRenamed("id", "o")), "_oc")
            .join(F.broadcast(r2id.withColumnRenamed("name", "pred")
                              .withColumnRenamed("id", "p")), "pred")
            .select("s", "p", "o")
        )
        t = IcebergLiteTable(os.path.join(d, "tbl"))
        streaming.stream_to_catalog(linked, t, os.path.join(d, "ckpt"), source_id="kg")
        return t.read(spark).dropDuplicates(["s", "p", "o"])

    def str_view_purchase_join(spark, sf):
        # stream-stream interval join: every view event pairs with the
        # same user's purchase events that follow within 30 minutes.
        # Both sides are watermarked streams; the time-bound condition is
        # what lets Spark expire join state (rows-per-horizon, not
        # rows-ever). availableNow drain == the batch join (oracle: the
        # same join in SQL).
        import shutil
        import tempfile
        import uuid

        from kgforge import streaming

        src = f"{sf}/events.parquet"
        d = tempfile.mkdtemp(prefix="kgforge_ssj_")
        sdir = os.path.join(d, "in")
        os.makedirs(sdir)
        if os.path.isdir(src):
            for f in os.listdir(src):
                if f.endswith(".parquet"):
                    shutil.copy(os.path.join(src, f), os.path.join(sdir, f))
        else:
            shutil.copy(src, os.path.join(sdir, "part-0.parquet"))
        schema = spark.read.parquet(src).schema
        # single-batch drain (no maxFilesPerTrigger): a chunked drain lets
        # the watermark advance BETWEEN micro-batches, so event times that
        # regress across file boundaries by more than the watermark would
        # drop legitimate matches from join state while the batch-SQL
        # oracle sees them — parity would hinge on fixture file ordering.
        # Cross-micro-batch join-state expiry is the production property;
        # the oracle-checked query pins the join SEMANTICS.
        st = spark.readStream.schema(schema).parquet(sdir)
        views = st.where(F.col("event_type") == "view").select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").cast("timestamp").alias("view_ts"),
        )
        purchases = st.where(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        joined = streaming.stream_stream_join(
            views, purchases,
            left_key="user_id", right_key="p_user_id",
            left_ts="view_ts", right_ts="purchase_ts",
            within="30 minutes",
        ).select(
            "user_id", "view_id", "purchase_id",
            F.round("amount", 2).alias("amount"),
        )
        name = "ssj_" + uuid.uuid4().hex[:8]
        streaming.run_to_memory(joined, name, mode="append")
        shutil.rmtree(d, ignore_errors=True)
        return spark.table(name)

    def docs_stratified_sample(spark, sf):
        """Deterministic corpus balancing: md5-gated per-language
        downsampling (keep all zh/de, half of es/fr, 30% of en). The
        md5-threshold gate replays EXACTLY in SQL — the oracle selects
        the identical rows, so determinism AND partitioning-independence
        are hash-checked, not sampled."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.stratified_sample(
            docs,
            fractions={"en": 0.3, "es": 0.5, "fr": 0.5, "de": 1.0, "zh": 1.0},
        ).select("doc_id", "lang")

    def kg_degree_histogram(spark, sf):
        """Degree distribution of the constructed KG (b10's canonical id
        triples): endpoint union -> per-entity degree -> histogram.
        Oracle replays the same two aggregations over the golden-triple
        dense-id mapping."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.degree_histogram(tri)

    def kg_top_hubs(spark, sf):
        """Top-10 hub entities by total degree (TakeOrdered, not a
        global window)."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.top_hubs(tri, k=10)

    def kg_triangles(spark, sf):
        """Triangle count of the constructed KG's entity adjacency —
        degree-oriented wedge join (apex out-degree bounded O(sqrt m),
        survives power-law hubs). Count is orientation-invariant, so the
        oracle uses the simple a<b<c three-way join."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.triangle_count(tri)

    def kg_two_hop(spark, sf):
        """2-hop neighborhood expansion from 5 seed entities (entity-
        context retrieval shape): unrolled BFS as two frontier joins +
        min-hop aggregation. Oracle replays the same two joins in SQL."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        seeds = spark.createDataFrame([(i,) for i in range(5)], "seed long")
        return graphstats.k_hop_neighbors(tri, seeds, k=2)

    def kg_shortest_paths(spark, sf):
        """Bounded multi-source weighted shortest paths over the
        constructed KG (graphstats.shortest_paths): 4 Bellman-Ford
        relaxation rounds from 5 seed entities on the undirected
        entity graph with deterministic integer demo weights
        w = (u+v)%5+1. Oracle = the identical rounds unrolled as
        CTEs (bounded state per round — no all-paths recursion)."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        und = graphstats.undirected_edges(tri)
        adj = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            und.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        edges = adj.select(
            "u", "v", ((F.col("u") + F.col("v")) % 5 + 1).cast("long").alias("w")
        )
        sources = spark.range(5).select(F.col("id").alias("src"))
        return graphstats.shortest_paths(edges, sources, n_rounds=4)

    def kg_local_clustering(spark, sf):
        """Per-entity local clustering coefficient 2T(v)/(d(v)(d(v)-1))
        over the constructed KG — degree-oriented wedge closure (each
        triangle counted once, O(sqrt m) out-degree bound), corners
        exploded into per-node counts. Oracle brute-forces a<b<c
        triangles and replays the identical double arithmetic."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.local_clustering(tri)

    def kg_k_core(spark, sf):
        """k-core (k=5) of the bipartite order-part graph from lineitem
        (disjoint-parity node ids): iterative distributed peel, one
        localCheckpoint per round with the edge count observed on it
        for the fixpoint test. The oracle unrolls 5 peel rounds —
        provably past the fixpoint on this input, where extra rounds
        are no-ops — then applies the same final degree>=k cut."""
        from kgforge import graphstats

        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        tri = li.select(
            (F.col("l_orderkey") * 2).alias("h"),
            (F.col("l_partkey") * 2 + 1).alias("t"),
            F.lit(0).alias("r"),
        )
        return graphstats.k_core(tri, k=5)

    def kg_link_heuristics(spark, sf):
        """The four classic neighborhood link-prediction heuristics
        (common-neighbors / jaccard / adamic-adar / resource-allocation
        / preferential-attachment) in ONE wedge-join pass over the
        constructed KG, top-20 non-adjacent pairs by Adamic-Adar.
        Oracle replays the wedge join + identical rounding in SQL."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.link_prediction_scores(tri, k=20)

    def kg_pagerank(spark, sf):
        """Entity importance over the constructed KG: 5 iterations of
        damped PageRank (d=0.85, dangling mass redistributed). Per-
        iteration 1e-9 rounding makes the power method engine-exact, so
        the oracle is the SAME 5 iterations as unrolled materialized
        CTEs in DuckDB — hash-checked, not approximate."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.pagerank(tri, n_iter=5)

    def kg_label_propagation(spark, sf):
        """Community detection over the constructed KG: 4 rounds of
        deterministic synchronous label propagation (most frequent
        neighbor label, ties to the smallest). The oracle replays the
        same rounds as unrolled CTEs with a QUALIFY argmax — hash-exact,
        because the synchronous min-tie-break variant has no RNG or
        order dependence (the classic async LPA could never be
        oracle-checked)."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.label_propagation(tri, n_iter=4)

    def kg_random_walks(spark, sf):
        """DeepWalk-style corpus generation: 2 deterministic random
        walks of length 4 from every KG entity — the skip-gram training
        input for graph embeddings. Step choice = md5-argmin over
        (start:walk:step:u:v), so DuckDB replays every walk exactly
        (the stratified-sample md5-gate trick applied per step)."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.random_walks(tri, num_walks=2, walk_length=4)

    def kg_personalized_pagerank(spark, sf):
        """Entities related to a seed set: 5 iterations of personalized
        PageRank (teleport uniform over seeds 0..4, dangling mass
        redistributed along the teleport vector). Same per-iteration
        1e-9 rounding contract as kg_pagerank — the unrolled-CTE oracle
        is hash-exact."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        seeds = spark.createDataFrame([(i,) for i in range(5)], "seed long")
        return graphstats.personalized_pagerank(tri, seeds, n_iter=5)

    def kg_skipgram_pairs(spark, sf):
        """DeepWalk stage 2: skip-gram (center, context, n_pairs)
        co-occurrence counts within a 2-step window over the replayed
        walk corpus — the table a word2vec-style embedding trainer
        consumes. Band self-join on the walk key; the oracle replays
        the identical walks and pairing."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        walks = graphstats.random_walks(tri, num_walks=2, walk_length=4)
        return graphstats.walk_skipgram_pairs(walks, window=2)

    def kg_adamic_adar(spark, sf):
        """Structural link prediction: top-20 non-adjacent entity pairs
        by Adamic-Adar score (sum of 1/ln(degree) over common
        neighbors) — the non-embedding completion baseline next to
        a19's TransE top-k. round(…, 6) + (score, x, y) tie-break make
        the top-k engine-exact."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.adamic_adar_candidates(tri, k=20)

    def kg_hits(spark, sf):
        """HITS hubs and authorities over the directed KG (L1-normalized
        mutual power method, 5 iterations) — separates
        frequently-referenced objects (authorities) from well-connected
        subjects (hubs), which degree/PageRank-on-undirected conflate.
        Per-half-step round(…, 9) makes both engines hash-exact."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.hits(tri, n_iter=5)

    def kg_node2vec_walks(spark, sf):
        """Node2vec biased walks (p=4 suppresses returns, q=0.25 pushes
        outward/DFS-like) — the second-order walk corpus DeepWalk can't
        express. Weighted choice = hash-exponential argmin (argmin of
        Exponential(w) variates lands ∝ w — the exact node2vec kernel
        with md5 as the randomness); the oracle replays every step."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.node2vec_walks(
            tri, num_walks=2, walk_length=4, p=4.0, q=0.25
        )

    def b1b_conversation_profile(spark, sf):
        """Input-side transcript analytics: per-conversation turn/role/
        tool counts, wall duration, average turn length, and the
        largest inter-turn gap under the stable B1 ordering — one
        window pass + one groupBy sharing a single conv_id shuffle."""
        return reassemble.conversation_profile(_transcripts(spark, sf))

    def docs_token_budget(spark, sf):
        """Token-budget corpus curation: quality docs first (doc_id
        tie-break), keep while the running whitespace-token total fits
        5,000 — the two-phase distributed cumulative sum (range
        repartition + partition-local window + broadcast offsets), no
        single-partition global window anywhere. Integer cumsum =
        exact, partitioning-independent; oracle = the global QUALIFY
        running sum."""
        return textops.token_budget_select(
            spark.read.parquet(f"{sf}/documents.parquet"), budget_tokens=5000
        )

    def kg_pagerank_weighted(spark, sf):
        """PageRank over the multi-edge KG: rank distributes
        proportionally to the number of distinct predicates linking a
        pair — the importance that respects relation multiplicity,
        which the distinct-edge kg_pagerank erases. Same round-9
        power-method contract; unrolled weighted-CTE oracle."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.pagerank_weighted(tri, n_iter=5)

    def kg_deepwalk_embeddings(spark, sf):
        """DeepWalk end to end over the constructed KG: walks ->
        skip-gram pair counts -> distributed param-averaged SGNS
        (A13's scheme) -> structural entity embeddings. Property row:
        the pair count (oracle replays the walk+pairing SQL) and the
        separation gate — observed pairs must be more cosine-similar
        than uniform-random pairs after training."""
        from kgforge import graphembed, graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        n_nodes = int(e2id.count())
        walks = graphstats.random_walks(tri, num_walks=2, walk_length=4)
        pairs = graphstats.walk_skipgram_pairs(walks, window=2)
        emb = graphembed.train_deepwalk(
            spark, pairs, n_nodes=n_nodes, dim=16, rounds=4,
            epochs_per_round=12, lr=0.05, neg=3, n_shards=4, seed=9,
        )
        ppd = pairs.toPandas()  # pair-count-sized (bounded by |V|^2 at window 2)
        # the golden KG is near-complete (60 nodes / ~4.8k triples), so
        # observed-vs-random cosine cannot separate (observed == nearly
        # all pairs); the informative gate on dense graphs is frequency
        # ORDERING: top-quartile-count pairs must embed closer than
        # bottom-quartile ones (graphembed.frequency_ordering_gate)
        hi, lo = graphembed.frequency_ordering_gate(emb["in"], ppd)
        return spark.createDataFrame(
            [(int(len(ppd)), bool(hi > lo))], "n_pairs long, separated boolean"
        )

    def kg_node2vec_pairs(spark, sf):
        """Biased-walk training corpus end to end: skip-gram pair
        counts over the NODE2VEC walks (p=4, q=0.25) — the table a
        node2vec embedding trainer consumes, replacing DeepWalk's
        uniform corpus. Oracle replays the biased walks then the band
        pairing."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        walks = graphstats.node2vec_walks(
            tri, num_walks=2, walk_length=4, p=4.0, q=0.25
        )
        return graphstats.walk_skipgram_pairs(walks, window=2)

    def kg_modularity(spark, sf):
        """Quality gate for the LPA communities: Newman modularity
        breakdown per community (intra-edge count, subgraph degree sum,
        round-9 q_contrib whose sum is the classic Q) — degenerate
        partitions (one giant community / one-per-node) show up
        immediately. Composes label_propagation(4) with
        community_modularity; the oracle replays both."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        labels = graphstats.label_propagation(tri, n_iter=4)
        return graphstats.community_modularity(tri, labels)

    def kg_relation_properties(spark, sf):
        """Per-relation structural profile (count, head/tail
        cardinalities, tph/hpt bern statistics, symmetric fraction) —
        the table that picks the right scoring kernel per relation
        BEFORE training (symmetric relations break pure TransE; RotatE
        holds them at θ ∈ {0, π})."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.relation_properties(tri)

    def kg_inverse_relations(spark, sf):
        """Inverse-relation candidate pairs (r1, r2, overlap, frac):
        the KG redundancy detector — min_frac=0 reports every reversed
        co-occurrence so the profile is complete at fixture scale."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.inverse_relations(tri, min_frac=0.0)

    def dq_profile_orders(spark, sf):
        """Data-quality gate, stage 1: per-column profile (rows, nulls,
        null fraction, exact distinct) of the orders table — ONE
        aggregation scan, tall report via stack. The pre-flight check a
        100 TB ingest runs before spending cluster-hours."""
        from kgforge import quality

        return quality.profile_columns(
            spark.read.parquet(f"{sf}/orders.parquet"),
            [
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ],
        )

    def dq_expectations_lineitem(spark, sf):
        """Data-quality gate, stage 2: declarative expectations on
        lineitem (not_null / between / accepted_values / rlike fold
        into ONE conditional-sum scan; the composite-key uniqueness
        rule is its own count-distinct agg)."""
        from kgforge import quality as Q

        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return Q.check_expectations(
            li,
            [
                Q.expect_not_null("l_orderkey"),
                Q.expect_not_null("l_quantity"),
                Q.expect_between("l_quantity", 1, 50),
                Q.expect_between("l_discount", 0.0, 0.1),
                Q.expect_in("l_returnflag", ["A", "N", "R"]),
                Q.expect_rlike("l_linestatus", "^[OF]$"),
                Q.expect_unique(["l_orderkey", "l_linenumber"]),
            ],
        )

    def dq_referential_integrity(spark, sf):
        """Data-quality gate, stage 3: foreign-key orphan counts across
        the TPC-H star joins (left-anti join per constraint; dims
        broadcast, the fact-fact pair shuffles on the key — the join
        bucketing removes)."""
        from kgforge import quality

        def rd(t):
            return spark.read.parquet(f"{sf}/{t}.parquet")

        return quality.check_referential_integrity(
            [
                (rd("orders"), "o_custkey", rd("customer"), "c_custkey",
                 "orders.o_custkey->customer"),
                (rd("lineitem"), "l_orderkey", rd("orders"), "o_orderkey",
                 "lineitem.l_orderkey->orders"),
                (rd("lineitem"), "l_partkey", rd("part"), "p_partkey",
                 "lineitem.l_partkey->part"),
                (rd("lineitem"), "l_suppkey", rd("supplier"), "s_suppkey",
                 "lineitem.l_suppkey->supplier"),
                (rd("customer"), "c_nationkey", rd("nation"), "n_nationkey",
                 "customer.c_nationkey->nation"),
            ]
        )

    def dq_table_diff(spark, sf):
        """Row-level reconciliation (quality.table_diff): diff the
        documents table against a deterministically perturbed version
        (doc_id%11 rows deleted, doc_id%7 langs rewritten, doc_id%13
        n_chars shifted, 5 synthetic rows added). ONE full-outer key
        join; per-column NULL-safe compare; changed_cols names the
        differing columns. The oracle replays the perturbation and the
        same CASE/list_filter classification."""
        from kgforge import quality

        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        right = docs.where(F.col("doc_id") % 11 != 0).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            (
                F.col("n_chars")
                + F.when(F.col("doc_id") % 13 == 0, F.lit(5)).otherwise(F.lit(0))
            ).cast("long").alias("n_chars"),
        ).unionByName(
            docs.where(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.lit("en").alias("lang"),
                F.lit(42).cast("long").alias("n_chars"),
            )
        )
        return quality.table_diff(docs, right, ["doc_id"], ["lang", "n_chars"])

    def evt_scd2_user_state(spark, sf):
        """SCD Type-2 dimension build from the event log: per-user
        event_type state runs with valid_from/valid_to intervals,
        is_current, and a version counter. Two window passes share ONE
        Exchange on user_id; event_id is the determinism tie-breaker.
        The row-level time-travel layer next to the catalog's
        snapshot-level one."""
        from kgforge import temporal

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return temporal.scd2_build(
            ev, ["user_id"], ["event_type"], "ts", ["event_id"]
        )

    def evt_scd2_snapshot(spark, sf):
        """Point-in-time dimension read: the one state per user active
        at 2024-01-15 (valid_from <= t < valid_to, open intervals
        included) — a narrow filter over the SCD2 build, no extra
        shuffle. Feature joins as-of label time use exactly this."""
        from kgforge import temporal

        ev = spark.read.parquet(f"{sf}/events.parquet")
        scd = temporal.scd2_build(
            ev, ["user_id"], ["event_type"], "ts", ["event_id"]
        )
        return temporal.snapshot_at(scd, "2024-01-15 00:00:00")

    def str_catalog_ingest(spark, sf):
        """Streaming ingest INTO the Iceberg-lite catalog: the event
        stream (file source, 3+ micro-batches via maxFilesPerTrigger)
        is filtered/projected stream-side and each micro-batch lands as
        an atomic fast-append snapshot keyed (source_id, batch_id) for
        idempotent exactly-once commits. Result = the final table read;
        oracle = the batch filter over events — i.e. the check proves
        chunked streaming ingest == batch build regardless of how the
        stream was micro-batched."""
        import tempfile

        from kgforge import streaming
        from kgforge.catalog import IcebergLiteTable

        d = tempfile.mkdtemp(prefix="kgforge_scat_")
        sdir = os.path.join(d, "in")
        ev = spark.read.parquet(f"{sf}/events.parquet")
        ev.repartition(6).write.parquet(sdir)
        st = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(sdir)
            .where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "ts", "value")
        )
        t = IcebergLiteTable(os.path.join(d, "tbl"))
        streaming.stream_to_catalog(st, t, os.path.join(d, "ckpt"), source_id="ev")
        return t.read(spark)

    def b13_incremental_build(spark, sf):
        """Incremental KG construction over catalog appends: transcripts
        land in an Iceberg-lite table in two commits (split by a
        deterministic md5 gate on conv_id); the first slice is processed
        to triples, then ONLY the appended diff (catalog read_added —
        just the new commit's data dirs) is processed and folded in.
        The DuckDB oracle is the FULL rebuild over all transcripts —
        i.e. the oracle check IS the incremental == full-rebuild proof."""
        import tempfile

        from kgforge import incremental
        from kgforge.catalog import IcebergLiteTable
        from kgforge.fixtures import patterns_df

        trans = _transcripts(spark, sf)
        gate = F.md5(F.col("conv_id").cast("string").cast("binary")) < "8"
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_b13_"))
        t.append(trans.where(gate))
        snap1 = t.current_snapshot_id()
        t.append(trans.where(~gate))
        gaz, pats, e2id, r2id = _dicts(spark)
        out1 = incremental.build_triples(
            t.read(spark, snap1), _gaz_pdf(), patterns_df(), gaz, e2id, r2id
        )
        return incremental.incremental_build(
            spark, t, snap1, out1, _gaz_pdf(), patterns_df(), gaz, e2id, r2id
        )

    def q5_local_supplier_volume(spark, sf):
        """TPC-H Q5 shape — the 6-table star join: revenue per nation
        for ASIA-region suppliers serving same-nation customers in one
        order-year. Plan: region/nation/customer/supplier broadcast
        (dims), ONE shuffle joins the two facts on l_orderkey, decimal-
        exact revenue sum (the q1 money contract), TakeOrdered output.
        The customer-nation == supplier-nation equi-condition rides the
        same join, no extra shuffle."""
        rd = lambda t: spark.read.parquet(f"{sf}/{t}.parquet")  # noqa: E731
        asia_nations = (
            rd("nation")
            .join(
                F.broadcast(rd("region").where(F.col("r_name") == "ASIA")),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .select("n_nationkey", "n_name")
        )
        cust = rd("customer").join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", "c_nationkey", "n_name")
        supp = rd("supplier").select("s_suppkey", "s_nationkey")
        orders = rd("orders").where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        li = rd("lineitem")
        rev = (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (1 - F.col("l_discount")).cast("decimal(4,2)")
        )
        return (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
            .where(F.col("c_nationkey") == F.col("s_nationkey"))
            .groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "n_name")
        )

    def q10_returned_items(spark, sf):
        """TPC-H Q10 shape: top-20 customers by revenue lost to
        returned items in one quarter. Dims broadcast, ONE fact join
        shuffle, decimal-exact revenue (q1 money contract), TakeOrdered
        with (revenue desc, c_custkey) tie-break for an engine-exact
        LIMIT."""
        rd = lambda t: spark.read.parquet(f"{sf}/{t}.parquet")  # noqa: E731
        li = rd("lineitem").where(F.col("l_returnflag") == "R")
        orders = rd("orders").where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01"))
        )
        rev = (
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (1 - F.col("l_discount")).cast("decimal(4,2)")
        )
        return (
            li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(rd("customer")), F.col("o_custkey") == F.col("c_custkey"))
            .join(
                F.broadcast(rd("nation")),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "c_custkey")
            .limit(20)
        )

    def q6_forecast_revenue(spark, sf):
        """TPC-H Q6 shape — the pushed-filter scan aggregate: one
        year's revenue change from discounted small-quantity lines.
        Plan: NO join, NO data-sized shuffle — every predicate reaches
        the Parquet scan (PushedFilters), a 4-column ReadSchema, and a
        map-side partial sum feeding a single-row final agg. Decimal
        money arithmetic (q1 contract) keeps the sum engine-exact."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet").where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        rev = F.col("l_extendedprice").cast("decimal(12,2)") * F.col(
            "l_discount"
        ).cast("decimal(4,2)")
        return li.agg(F.sum(rev).cast("double").alias("revenue"))

    def q4_priority_late_orders(spark, sf):
        """TPC-H Q4 shape — order-priority checking via EXISTS: count
        orders per priority in one half-year having at least one line
        shipped >30 days after the order date (the fixture lacks
        commit/receipt dates, so late-shipment plays the Q4 lateness
        predicate). Plan: LEFT SEMI join on l_orderkey carrying the
        inequality (no row multiplication, no distinct needed), then a
        tiny priority aggregation."""
        orders = spark.read.parquet(f"{sf}/orders.parquet").where(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-07-01"))
        )
        li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
            "l_orderkey", "l_shipdate"
        )
        late = orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
            ),
            "left_semi",
        )
        return (
            late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
            .orderBy("o_orderpriority")
        )

    def cat_schema_evolution(spark, sf):
        """Iceberg add-column schema evolution: the first commit writes
        a narrow (event_id, user_id) schema, the second appends with an
        extra value column under allow_schema_evolution=True; read()
        null-fills the pre-evolution rows (allowMissingColumns union).
        The oracle replays the same md5 split with a CASE NULL."""
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        gate = F.md5(F.col("event_id").cast("string").cast("binary")) < "8"
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_evo_"))
        t.append(ev.where(gate).select("event_id", "user_id"))
        t.append(ev.where(~gate), allow_schema_evolution=True)
        return t.read(spark)

    def cat_partition_evolution(spark, sf):
        """Iceberg partition-spec evolution: commit 1 writes half the
        events hive-partitioned by event_type; a metadata-only
        evolve_partition_spec commit switches the table's write
        contract to a derived bucket column; commit 2 appends the other
        half under the new layout. read() scans each dir as its own
        hive tree (basePath recovers that dir's partition columns) and
        aligns the logical schema across layouts — the oracle replays
        the projection directly, pinning that NO row, partition value,
        or column is lost or duplicated across the layout boundary."""
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_id", "user_id", "event_type",
            (F.col("event_id") % 4).cast("long").alias("bucket"),
        )
        gate = F.md5(F.col("event_id").cast("string").cast("binary")) < "8"
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_pevo_"))
        t.append(ev.where(gate), partition_by=("event_type",))
        t.evolve_partition_spec(("bucket",))
        t.append(ev.where(~gate), partition_by=("bucket",))
        return t.read(spark).select(
            "event_id", "user_id", "event_type", F.col("bucket").cast("long").alias("bucket")
        )

    def cat_upsert(spark, sf):
        """Copy-on-write MERGE INTO: doubled values arrive for the
        low-id half of the events plus a batch of brand-new keys; one
        anti-join + union + overwrite commit. The oracle replays the
        merge as CASE + UNION; time travel to the pre-merge snapshot is
        pinned by pytest."""
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        ev = spark.read.parquet(f"{sf}/events.parquet").select("event_id", "value")
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_ups_"))
        t.append(ev)
        updates = ev.where(F.col("event_id") < 2000).select(
            "event_id", (F.col("value") * 2).alias("value")
        )
        inserts = ev.where(F.col("event_id") < 100).select(
            (F.col("event_id") + 100000).alias("event_id"),
            F.lit(1.0).alias("value"),
        )
        t.upsert(spark, updates.unionByName(inserts), ["event_id"])
        return t.read(spark)

    def cat_delete_rows(spark, sf):
        """Right-to-be-forgotten: copy-on-write DELETE of one user's
        events (new snapshot; the pre-delete snapshot stays auditable
        until expiry — pytest covers the purge half). Oracle = the
        negated filter."""
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "event_id", "user_id", "value"
        )
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_del_"))
        t.append(ev)
        t.delete_where(spark, F.col("user_id") == 7)
        return t.read(spark)

    def cat_compaction(spark, sf):
        """Catalog maintenance: two append commits fragment the table
        (4 files each), compact() rewrites the current snapshot into one
        file per partition as a NEW snapshot. The returned rows are the
        post-compaction read — hash-equal to the source selection
        (row-set invariance); the file-count reduction and pre-compaction
        time travel are asserted in-query (raise = driver ERR)."""
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_compact_"))
        t.append(docs.where(F.col("n_chars") < 300).repartition(4))
        t.append(docs.where(F.col("n_chars") >= 300).repartition(4))
        frag_id = t.current_snapshot_id()
        files_before = t.file_count()
        t.compact(spark, target_files=1)
        files_after = t.file_count()
        if not (files_after < files_before):
            raise AssertionError(f"compaction grew files: {files_before} -> {files_after}")
        if t.read(spark, frag_id).count() != t.read(spark).count():
            raise AssertionError("pre-compaction time travel lost rows")
        return t.read(spark).select("doc_id", "lang", "n_chars")

    def q_cheapest_part_order(spark, sf):
        """Deterministic argmin-per-group in ONE shuffle: the lexicographic
        struct-min (price, orderkey) picks the min-price row per part with
        a deterministic tie rule (lowest orderkey) — no join-back, no
        window. The oracle computes the same thing the classic way
        (min-price CTE + join + min orderkey), pinning the tie semantics
        cross-engine."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        m = li.groupBy("l_partkey").agg(
            F.min(F.struct(F.col("l_extendedprice"), F.col("l_orderkey"))).alias("m")
        )
        return m.select(
            "l_partkey",
            F.col("m.l_extendedprice").alias("min_price"),
            F.col("m.l_orderkey").alias("orderkey"),
        )

    def q_running_revenue(spark, sf):
        """Per-customer cumulative revenue over order history (window
        running sum). Money is cast to DECIMAL(14,2) BEFORE summing —
        the inputs are exact 2-decimal values, so the cast is exact and
        the cumulative decimal sum is associative ⇒ identical under any
        partitioning and in any engine (a double running sum would drift
        in the last ulp and hash-mismatch)."""
        from pyspark.sql import Window

        o = spark.read.parquet(f"{sf}/orders.parquet")
        w = (
            Window.partitionBy("o_custkey")
            .orderBy("o_orderdate", "o_orderkey")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return o.select(
            "o_custkey",
            "o_orderkey",
            # summed in decimal (associative, partitioning-independent),
            # surfaced as double — DuckDB's windowed decimal sum yields
            # DOUBLE, and the exact decimal -> double conversion is
            # identical in both engines
            F.sum(F.col("o_totalprice").cast("decimal(14,2)")).over(w)
            .cast("double").alias("cum_revenue"),
        )

    def cat_snapshot_diff(spark, sf):
        # composition: WHAT changed between two catalog snapshots —
        # time-travel reads of commit 1 (base) and commit 2 (the
        # dq_table_diff perturbation) fed through quality.table_diff.
        # Proves snapshot isolation AND read-back fidelity: the oracle
        # diffs the two versions straight from the source table, so
        # any catalog corruption would break the hash.
        import tempfile

        from kgforge import quality
        from kgforge.catalog import IcebergLiteTable

        docs = spark.read.parquet(f"{sf}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        right = docs.where(F.col("doc_id") % 11 != 0).select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
            .otherwise(F.col("lang"))
            .alias("lang"),
            (
                F.col("n_chars")
                + F.when(F.col("doc_id") % 13 == 0, F.lit(5)).otherwise(F.lit(0))
            ).cast("long").alias("n_chars"),
        ).unionByName(
            docs.where(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.lit("en").alias("lang"),
                F.lit(42).cast("long").alias("n_chars"),
            )
        )
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_catdiff_"))
        t.overwrite(docs)
        t.overwrite(right)
        return quality.table_diff(
            t.read(spark, snapshot_id=1),
            t.read(spark, snapshot_id=2),
            ["doc_id"],
            ["lang", "n_chars"],
        )

    def cat_time_travel(spark, sf):
        # Iceberg-lite catalog semantics under oracle check: snapshot 1
        # commits the short documents, snapshot 2 OVERWRITES with all of
        # them; a time-travel read of snapshot 1 must return exactly the
        # pre-overwrite row set (atomic pointer swap + per-snapshot data
        # dirs). Oracle replays snapshot 1's predicate on the source
        # table. Partitioned by lang so the hive layout is exercised.
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_cat_"))
        t.overwrite(docs.where(F.col("n_chars") < 300), partition_by=("lang",))
        t.overwrite(docs, partition_by=("lang",))
        assert t.current_snapshot_id() == 2
        return (
            t.read(spark, snapshot_id=1)
            .select("doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars"))
        )

    def cat_tagged_read(spark, sf):
        # named refs pin snapshots: tag the first commit, overwrite
        # twice, expire down to keep_last=1 — the tagged snapshot's data
        # dirs MUST survive expiry and read back bit-exact (Iceberg
        # ref-retention). Oracle replays the tagged commit's predicate.
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_cat_"))
        t.overwrite(docs.where(F.col("n_chars") < 300), partition_by=("lang",))
        t.create_tag("baseline")
        t.overwrite(docs.where(F.col("n_chars") >= 300), partition_by=("lang",))
        t.overwrite(docs, partition_by=("lang",))
        gone = t.expire_snapshots(keep_last=1)
        assert 1 not in gone["expired_snapshot_ids"]  # pinned by the tag
        assert 2 in gone["expired_snapshot_ids"]
        return t.read_tag(spark, "baseline").select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
        )

    def mm_features(spark, sf):
        # decode is an honest deterministic fake (no codecs in sandbox);
        # the ORACLE checks the structural contract — every media row
        # produces a feature vector of the requested dimension with its
        # id/kind preserved through the Arrow batch plumbing
        from kgforge.multimodal import extract_features, synth_media

        return extract_features(synth_media(spark, n=48), out_dim=16).select(
            "media_id", "kind", F.size("feat").cast("long").alias("feat_dim")
        )

    # -- classic operators on driver testdata ---------------------------------

    def w_topk_orders(spark, sf):
        from pyspark.sql import Window

        o = spark.read.parquet(f"{sf}/orders.parquet")
        w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
        return (
            o.withColumn("rk", F.row_number().over(w).cast("long"))
            .where(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        )

    def q1_pricing_summary(spark, sf):
        # TPC-H Q1 shape (scan-heavy groupBy): the cross-engine float
        # trap is the SUM — double accumulation is order-dependent, so
        # every sum runs in DECIMAL (exact, associative → bit-identical
        # regardless of partitioning) and the averages divide the exact
        # sums in double afterwards. Per-row products are computed in
        # double (deterministic IEEE) and cast once.
        li = spark.read.parquet(f"{sf}/lineitem.parquet").where(
            F.col("l_shipdate") <= F.lit("1998-09-02")
        )
        # every monetary input is an exact 2-decimal value (verified on
        # the generator output), so casting the FACTORS to decimal is
        # lossless and the products are exact decimal arithmetic — no
        # double-to-decimal rounding anywhere (engines disagree on that
        # rounding mode; it cost 3e-3 on sum_charge before this)
        qty = F.col("l_quantity").cast("decimal(12,2)")
        price = F.col("l_extendedprice").cast("decimal(12,2)")
        one_m_disc = (1 - F.col("l_discount")).cast("decimal(4,2)")
        one_p_tax = (1 + F.col("l_tax")).cast("decimal(4,2)")
        disc = price * one_m_disc
        charge = price * one_m_disc * one_p_tax
        g = (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(qty).alias("sum_qty"),
                F.sum(price).alias("sum_base_price"),
                F.sum(disc).alias("sum_disc_price"),
                F.sum(charge).alias("sum_charge"),
                F.count("*").alias("count_order"),
            )
        )
        return g.select(
            "l_returnflag", "l_linestatus",
            F.col("sum_qty").cast("double").alias("sum_qty"),
            F.col("sum_base_price").cast("double").alias("sum_base_price"),
            F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
            F.col("sum_charge").cast("double").alias("sum_charge"),
            (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
            (F.col("sum_base_price").cast("double") / F.col("count_order")).alias("avg_price"),
            F.col("count_order").cast("long").alias("count_order"),
        )

    def q3_top_revenue_orders(spark, sf):
        # TPC-H Q3 shape: selective dimension filter -> broadcast join ->
        # fact join -> agg -> top-k. Revenue sums in DECIMAL (same exact-
        # arithmetic recipe as q1); deterministic tie-break on orderkey.
        from pyspark.sql import Window

        c = spark.read.parquet(f"{sf}/customer.parquet").where(
            F.col("c_mktsegment") == "BUILDING"
        )
        o = spark.read.parquet(f"{sf}/orders.parquet").where(
            F.col("o_orderdate") < F.lit("1996-01-01")
        )
        li = spark.read.parquet(f"{sf}/lineitem.parquet").where(
            F.col("l_shipdate") > F.lit("1996-01-01")
        )
        rev = F.col("l_extendedprice").cast("decimal(12,2)") * (1 - F.col("l_discount")).cast("decimal(4,2)")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", "o_orderdate")
            .agg(F.sum(rev).alias("revenue_d"))
        )
        # distributed top-k: orderBy+limit compiles to TakeOrdered
        # (per-partition top-10 then driver merge of 10-row heads) — a
        # global row_number window would move the whole aggregate to one
        # partition. The rank window then runs over just 10 rows.
        top = j.orderBy(F.col("revenue_d").desc(), "l_orderkey").limit(10)
        # constant partition key: the window runs over the 10-row
        # TakeOrdered result, so a single partition is the POINT — the key
        # silences Spark's "No Partition Defined" warning. Must be
        # NON-foldable (col*0, not lit): Catalyst prunes foldable partition
        # expressions, which would re-empty the partition spec.
        w = Window.partitionBy(F.col("l_orderkey") * F.lit(0)).orderBy(
            F.col("revenue_d").desc(), "l_orderkey"
        )
        return (
            top.withColumn("rk", F.row_number().over(w).cast("long"))
            .select(
                "l_orderkey",
                F.col("revenue_d").cast("double").alias("revenue"),
                F.col("o_orderdate").cast("string").alias("o_orderdate"),
                "rk",
            )
        )

    def evt_interval_join(spark, sf):
        """Bucketed point-in-interval join (joins.interval_join):
        events against 60 deterministic 3-hour campaign windows on a
        12-hour stride. The range join runs as an EQUI-join on 1-hour
        buckets + exact filter; positions are tz-free timestampdiff
        seconds (NTZ-safe). Oracle = the plain inequality join."""
        from kgforge.joins import interval_join

        ev = spark.read.parquet(f"{sf}/events.parquet")
        points = ev.select(
            "event_id",
            F.expr(
                "timestampdiff(SECOND, TIMESTAMP'2024-01-01 00:00:00', ts)"
            ).cast("long").alias("pos"),
        )
        iv = spark.range(60).select(
            F.col("id").alias("campaign_id"),
            (F.col("id") * 43200).cast("long").alias("start"),
            (F.col("id") * 43200 + 10800).cast("long").alias("end"),
        )
        return interval_join(points, iv, bucket_width=3600).select(
            "event_id", "campaign_id", "pos"
        )

    def evt_json_extract(spark, sf):
        """Semi-structured extraction: parse the events.props JSON
        column JVM-side (get_json_object — no Python, no UDF) and
        aggregate per extracted key: event count + decimal-exact value
        sum (the q1 money contract sidesteps float-sum order). The
        standard lakehouse pattern for schema-on-read event payloads.
        Oracle: DuckDB json_extract_string replays the same path."""
        ev = spark.read.parquet(f"{sf}/events.parquet")
        return (
            ev.select(
                F.get_json_object("props", "$.k").cast("int").alias("k"),
                F.col("value"),
            )
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_value"),
            )
        )

    def asof_purchases(spark, sf):
        # as-of join (operator Spark lacks natively): each click event
        # picks the user's LATEST purchase at-or-before its timestamp.
        # kgforge.joins.asof_join composes it as union + ONE window pass
        # (single shuffle on user_id — no range-join candidate
        # explosion); the oracle is DuckDB's native ASOF LEFT JOIN.
        from kgforge.joins import asof_join

        ev = spark.read.parquet(f"{sf}/events.parquet")
        left = ev.where(F.col("event_type") == "click").select("user_id", "event_id", "ts")
        right = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
        return asof_join(left, right, "user_id", "ts", ["value"]).select(
            "user_id", "event_id", "ts",
            F.col("value_right").alias("purchase_value"),
            F.col("ts_right").alias("purchase_ts"),
        )

    def q_region_supplier_stats(spark, sf):
        # snowflake-dimension rollup: supplier -> nation -> region via
        # two broadcast joins (each dim is catalog-sized), then one agg;
        # acctbal sums in exact decimal (parity cookbook rule 2).
        r = spark.read.parquet(f"{sf}/region.parquet")
        n = spark.read.parquet(f"{sf}/nation.parquet")
        sup = spark.read.parquet(f"{sf}/supplier.parquet")
        agg = (
            sup.join(F.broadcast(n), sup.s_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .agg(
                F.count("*").cast("long").alias("n_suppliers"),
                F.countDistinct("n_nationkey").cast("long").alias("n_nations"),
                F.sum(F.col("s_acctbal").cast("decimal(14,2)"))
                .cast("double")
                .alias("sum_acctbal"),
            )
        )
        return agg

    def q_part_brand_prices(spark, sf):
        # last unexercised driver table: per-brand part stats, retail
        # prices summed in exact decimal, deterministic output.
        p = spark.read.parquet(f"{sf}/part.parquet")
        return p.groupBy("p_brand").agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum(F.col("p_retailprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("sum_retail"),
            F.max("p_size").cast("long").alias("max_size"),
        )

    def q_rollup_lineitem(spark, sf):
        # multi-level aggregation (ROLLUP): per (returnflag, linestatus),
        # per returnflag subtotal, and grand total in ONE pass (partial
        # aggregation handles all grouping sets map-side). NULL grouping
        # keys are the subtotal markers in both engines.
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (
            li.rollup("l_returnflag", "l_linestatus")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_qty"),
            )
        )

    def q_approx_distinct_parts(spark, sf):
        # HLL sketch vs exact: approx_count_distinct must land within 5%
        # of the exact distinct count (sketch values are engine-specific,
        # so the CONTRACT row is the property, house style of the recall
        # pins). Exact side doubles as a real count check.
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return li.select(
            F.countDistinct("l_partkey").cast("long").alias("exact_distinct"),
            (
                F.abs(
                    F.approx_count_distinct("l_partkey", 0.02).cast("double")
                    - F.countDistinct("l_partkey").cast("double")
                )
                / F.countDistinct("l_partkey").cast("double")
                <= 0.05
            ).alias("within_5pct"),
        )

    def a3_skew_stats_lineitem(spark, sf):
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        return (
            li.groupBy("l_returnflag", "l_orderkey")
            .agg(F.countDistinct("l_suppkey").alias("n"))
            .groupBy("l_returnflag")
            .agg(F.avg("n").alias("avg_suppliers_per_order"), F.count("*").alias("n_orders"))
        )

    def evt_sessionize(spark, sf):
        from pyspark.sql import Window

        e = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # NTZ → epoch seconds: cast via UTC-session timestamp (exact µs)
        sec = F.col("ts").cast("timestamp").cast("double")
        gap = sec - F.lag(sec).over(w)
        return (
            e.withColumn(
                "new_session",
                F.when(gap.isNull() | (gap > 1800.0), F.lit(1)).otherwise(F.lit(0)),
            )
            .withColumn(
                "session_seq",
                F.sum("new_session").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ).cast("long"),
            )
            .select("user_id", "event_id", "session_seq")
        )

    def evt_funnel(spark, sf):
        """Ordered view->click->purchase funnel (eventops.funnel_counts):
        chained running-min(CASE) windows over ONE user-key Exchange —
        never a self-join per step. The oracle replays the identical
        chained windows in SQL, so the at-or-after semantics (total
        (ts, event_id) per-user order) match exactly."""
        from kgforge import eventops

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return eventops.funnel_counts(ev, ["view", "click", "purchase"])

    def evt_retention_cohorts(spark, sf):
        """Weekly cohort retention (eventops.retention_cohorts): ONE
        user-key shuffle collecting each user's distinct active-week set
        (calendar-bounded state) + min week, then a cohort-sized agg.
        Oracle is the textbook distinct-activity + first-week join —
        counts agree regardless of plan shape."""
        from kgforge import eventops

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return eventops.retention_cohorts(ev)

    def kg_assortativity(spark, sf):
        """Degree assortativity of the constructed KG
        (graphstats.degree_assortativity): Pearson r between endpoint
        degrees across edges, computed from EXACT decimal(38,0)
        sufficient statistics + one fixed double expression — the
        oracle replays the identical formula, so the double matches
        bit-for-bit with no float-sum-order hazard."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.degree_assortativity(tri)

    def kg_reciprocity(spark, sf):
        """Edge reciprocity (graphstats.reciprocity): fraction of
        distinct non-loop pairs with the reverse edge present — ONE
        canonical-pair shuffle (no swapped self-join)."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.reciprocity(tri)

    def txt_bpe_pairs(spark, sf):
        """First BPE-merge candidate table (textops.bpe_pair_counts):
        top-20 adjacent word pairs via slice+arrays_zip (narrow, no
        per-doc shuffle, no interpreted-HOF re-evaluation) + one count
        agg + TakeOrdered. Oracle: 1-based list indexing over the same
        regex split."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.bpe_pair_counts(docs, k=20)

    def dedup_survivorship(spark, sf):
        """Keep-longest survivorship per near-dup group
        (textops.survivorship_pick over neardup_groups): one join + one
        max-of-struct argmax agg — no corpus-wide rank window. Oracle
        replays the recursive-CTE CC + a per-group window."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        pairs = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=100)
        return textops.survivorship_pick(docs, textops.neardup_groups(docs, pairs))

    def q18_large_orders(spark, sf):
        """TPC-H Q18 shape: HAVING-filtered per-order quantity agg
        joined back to orders + customer. The qty agg shuffles on
        l_orderkey — the SAME key the orders join needs, so the
        Exchange is reused; quantities sum in exact decimal."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        o = spark.read.parquet(f"{sf}/orders.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        qty = (
            li.groupBy("l_orderkey")
            .agg(F.sum(F.col("l_quantity").cast("decimal(12,2)")).alias("qd"))
            .where(F.col("qd") > 250)
        )
        return (
            qty.join(o, qty.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .select(
                "c_name",
                "o_orderkey",
                F.col("o_totalprice"),
                F.col("qd").cast("double").alias("total_qty"),
            )
        )

    def q14_promo_share(spark, sf):
        """TPC-H Q14 shape: monthly promo-revenue share. Part is the
        broadcast dimension; revenue in exact decimal, the percentage
        as one fixed double expression (100.0 * promo / total) replayed
        identically by the oracle."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        p = spark.read.parquet(f"{sf}/part.parquet")
        rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
            1 - F.col("l_discount")
        ).cast("decimal(4,2)")
        base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
            F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
            F.col("p_type"),
            rev.alias("rev"),
        )
        agg = base.groupBy("month").agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("rev").alias("_total"),
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("rev")).otherwise(
                    F.lit(0).cast("decimal(12,2)")
                )
            ).alias("_promo"),
        )
        return agg.select(
            "month",
            "n_items",
            F.col("_total").cast("double").alias("total_rev"),
            (
                (F.lit(100.0) * F.col("_promo").cast("double"))
                / F.col("_total").cast("double")
            ).alias("promo_pct"),
        )

    def txt_phrase_search(spark, sf):
        """Exact-phrase full-text search (textops.phrase_search over the
        positional inverted index): ONE scan + one (doc, base) shuffle
        for any phrase length via the broadcast slot-join — not k-1
        posting self-joins. Oracle replays postings + slots in SQL."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.phrase_search(docs, "table hash")

    def evt_anomaly_zscore(spark, sf):
        """Per-event-type 3-sigma outlier gate (quality.value_anomalies):
        two-pass broadcast plan — exact decimal moments per group, then
        a broadcast flag pass — instead of a whole-stream window over a
        5-key partition (maximal skew). Mean/std/threshold are one fixed
        double expression over exact decimals; the oracle replays it."""
        from kgforge import quality

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return quality.value_anomalies(ev, "event_type", "value", z=3.0)

    def q_salted_customer_orders(spark, sf):
        """Explicit skew-salted fact-dim join (joins.salted_join):
        orders spread over 8 deterministic salts, customer replicated
        8x, join on (key, salt) — the known-hot-key pattern the
        pipeline's conv_id writes use, surfaced as a reusable relational
        operator. Output equals the plain equi-join (the oracle)."""
        from kgforge.joins import salted_join

        o = spark.read.parquet(f"{sf}/orders.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        return salted_join(o, c, "o_custkey", "c_custkey", n_salts=8).select(
            "o_orderkey", "o_custkey", "c_name", "c_acctbal"
        )

    def txt_heavy_tokens(spark, sf):
        """Distributed Misra-Gries heavy hitters with exact verification
        (sketches.heavy_hitters): tokens above 1/50 of the corpus via a
        bounded per-partition sketch + a candidate-only exact count —
        NEVER a full-cardinality shuffle. The verified output is exact
        and partitioning-independent, so the plain exact SQL is the
        oracle."""
        from kgforge import sketches

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        toks = docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "token"
            )
        ).where(F.col("token") != "")
        return sketches.heavy_hitters(toks, "token", k=50)

    def evt_funnel_windowed(spark, sf):
        """Conversion-window funnel (funnel_counts(max_gap_hours=48)):
        each step must land within 48h of the previous step's first
        completion — the windowFunnel variant; same single user-key
        Exchange. Oracle replays the chained windows with the interval
        bound."""
        from kgforge import eventops

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return eventops.funnel_counts(
            ev, ["view", "click", "purchase"], max_gap_hours=48
        )

    def evt_session_stats(spark, sf):
        """Session profile (eventops.session_stats): bounce rate, mean
        events/duration per 30-min-gap session. Microsecond-offset
        positions keep every gap/duration an exact integer (Spark
        timestampdiff vs DuckDB date_diff agree at storage resolution);
        averages are single double divisions."""
        from kgforge import eventops

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return eventops.session_stats(ev, gap_sec=1800)

    def dedup_incremental(spark, sf):
        """Append-only corpus dedup (textops.incremental_exact_dedup):
        the doc_id%5==0 slice arrives as the new batch, the rest is the
        existing corpus; anti-join on distinct md5 fingerprints + a
        batch-local survivor pick — both shuffles on the same 16-byte
        key, no full-corpus re-dedup. Oracle replays the split in SQL."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        new_b = docs.where(F.col("doc_id") % 5 == 0)
        old_b = docs.where(F.col("doc_id") % 5 != 0)
        return textops.incremental_exact_dedup(new_b, old_b)

    def ann_pq_topk_recall(spark, sf):
        """Product-quantization ADC top-k (similarity.pq_topk): 32
        subspaces x 16 sub-centroids = 8x compression at recall 0.7125
        vs exact cosine on the neardup fixture (pinned, same protocol
        as the IVF recall dial). Seeded fixed-iteration codebooks +
        lexsort-consistent local pruning make the ranking
        partitioning-independent."""
        from kgforge.fixtures import ensure_neardup_fixture

        emb = spark.read.parquet(
            os.path.join(ensure_neardup_fixture(), "embeddings.parquet")
        )
        q = emb.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        exact = similarity.cosine_topk(emb, q, k=10).select(
            "query_id", "neighbor_id"
        )
        pq = similarity.pq_topk(emb, q, k=10, m=32, ksub=16).select(
            "query_id", "neighbor_id"
        )
        hits = exact.join(pq, ["query_id", "neighbor_id"], "left_semi")
        return (
            exact.agg(F.count("*").alias("_n"))
            .crossJoin(hits.agg(F.count("*").alias("_h")))
            .select(F.round(F.col("_h") / F.col("_n"), 6).alias("recall_at_10"))
        )

    def evt_scd2_join(spark, sf):
        """Point-in-time dimension join (temporal.scd2_join): each
        purchase event gains the user's SCD2 state version valid at its
        timestamp, composed as an as-of join (ONE window pass) — never
        an interval-inequality join. Oracle is the interval join over
        the same SCD2 CTE."""
        from kgforge import temporal

        ev = spark.read.parquet(f"{sf}/events.parquet")
        scd = temporal.scd2_build(
            ev, ["user_id"], ["event_type"], "ts", ["event_id"]
        )
        facts = ev.where(F.col("event_type") == "purchase").select(
            "user_id", "event_id", "ts"
        )
        return temporal.scd2_join(
            facts, scd, "user_id", "ts", ["event_type", "version"]
        ).select(
            "user_id",
            "event_id",
            F.col("event_type_at_ts").alias("state_at_purchase"),
            F.col("version_at_ts").alias("state_version"),
        )

    def evt_trailing_7d(spark, sf):
        """RANGE-frame rolling feature (eventops.trailing_value_sum):
        per event, the user's exact decimal value sum over the trailing
        7 days — time-axis frames over microsecond integer positions,
        one user-key Exchange. Oracle replays the identical RANGE
        window."""
        from kgforge import eventops

        ev = spark.read.parquet(f"{sf}/events.parquet")
        return eventops.trailing_value_sum(ev, days=7)

    def evt_type_pivot(spark, sf):
        """Pivot (long->wide): per-user event counts as one column per
        event type, explicit value list so the schema is deterministic
        and the pivot stays a single pass with map-side partials.
        Oracle = conditional sums."""
        ev = spark.read.parquet(f"{sf}/events.parquet")
        types = ["click", "error", "purchase", "signup", "view"]
        out = (
            ev.groupBy("user_id")
            .pivot("event_type", types)
            .agg(F.count(F.lit(1)))
            .na.fill(0)
        )
        return out.select(
            "user_id", *[F.col(t).cast("long").alias(f"n_{t}") for t in types]
        )

    def kg_rule_mining(spark, sf):
        """AMIE-style composition rules r1(x,z) ∧ r2(z,y) ⇒ r3(x,y)
        over the constructed KG (graphstats.mine_composition_rules):
        one wedge join + one (x,y) head join, aggregated on
        relation-tuple keys; confidence is an exact integer ratio."""
        from kgforge import graphstats

        _, _, e2id, r2id = _dicts(spark)
        tri = materialize.to_id_triples(_golden(spark, sf), e2id, r2id).selectExpr(
            "s as h", "o as t", "p as r"
        )
        return graphstats.mine_composition_rules(tri, min_support=5)

    def docs_chunks(spark, sf):
        """RAG-style overlapping chunker (textops.chunk_documents):
        64-token windows on a 48 stride, fully narrow (sequence +
        explode + slice, no shuffle, no lambda HOFs). Oracle replays
        with generate_series + list_slice."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.chunk_documents(docs, chunk_tokens=64, overlap=16)

    def evt_forward_fill(spark, sf):
        """Time-series gap fill: every event carries the user's most
        recent purchase value forward (last-non-null IGNORE NULLS over
        the running user window) — the classic sparse-signal densifier;
        one user-key Exchange, no self-join. Oracle replays the same
        window with DuckDB's last_value IGNORE NULLS."""
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        ).over(w)
        return ev.select(
            "user_id", "event_id", filled.alias("last_purchase_value")
        )

    def a1_datasource_triples(spark, sf):
        """OpenKE txt ingestion through a REGISTERED Spark 4 Python
        DataSource (kgforge.datasource.OpenKETriplesDataSource):
        byte-range partition planning like Hadoop text splits — no
        driver-side file read, no pandas import path. Oracle is the
        parquet twin of the same fixture."""
        from kgforge.datasource import OpenKETriplesDataSource

        try:
            spark.dataSource.register(OpenKETriplesDataSource)
        except Exception:
            pass  # already registered in this session
        return (
            spark.read.format("openke_triples")
            .option("path", os.path.join(OKE, "txt", "train2id.txt"))
            .option("partitions", 6)
            .load()
        )

    def a1_datasource_dict(spark, sf):
        """entity2id.txt through the openke_dict Python DataSource
        (same byte-range split planning); oracle is the parquet twin."""
        from kgforge.datasource import OpenKEDictDataSource

        try:
            spark.dataSource.register(OpenKEDictDataSource)
        except Exception:
            pass  # already registered in this session
        return (
            spark.read.format("openke_dict")
            .option("path", os.path.join(OKE, "txt", "entity2id.txt"))
            .option("partitions", 3)
            .load()
        )

    def a15_relation_ranks(spark, sf):
        """Relation prediction — rank the true r among ALL relations per
        test (h, t): the third eval direction beside head/tail ranks.
        Candidate side is the |R|-sized relation matrix (broadcast to
        the scoring mapInPandas, no candidate shuffle); raw + filtered
        protocol identical to the entity ranks. Oracle replays the same |test| x |R| scoring
        relationally over the long embedding tables."""
        split, emb, known = _openke_emb()
        return ev.relation_prediction_ranks(
            spark, spark.createDataFrame(split["test2id"]), emb, known
        )

    def txt_collocations(spark, sf):
        """PMI-scored bigram collocations (Church & Hanks): one window
        pass pairs adjacent tokens, one groupBy to the Zipf-bounded
        pair-count table, unigrams and totals derived from it without
        a second corpus pass. Oracle replays the identical counting and
        the identical left-associated double ratio, rounded to 6."""
        from kgforge import textops

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.collocations(docs, min_count=3)

    def str_datasource_tail(spark, sf):
        """Streaming ingestion through the registered openke_triples_stream
        Python DataSource: tail a directory of OpenKE txt files (offsets =
        per-file byte positions, whole lines only) and drain to a memory
        sink. Full drain == the batch read; oracle is the UNION ALL of the
        parquet twins of the two tailed files."""
        import shutil
        import tempfile
        import uuid

        from kgforge.datasource import OpenKETriplesStreamDataSource

        try:
            spark.dataSource.register(OpenKETriplesStreamDataSource)
        except Exception:
            pass  # already registered in this session
        d = tempfile.mkdtemp(prefix="kgforge_tail_")
        for f in ("valid2id.txt", "test2id.txt"):
            shutil.copy(os.path.join(OKE, "txt", f), os.path.join(d, f))
        st = (
            spark.readStream.format("openke_triples_stream")
            .option("path", d)
            .load()
        )
        name = "tail_" + uuid.uuid4().hex[:8]
        q = (
            st.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        shutil.rmtree(d, ignore_errors=True)
        return spark.table(name)

    def txt_unigram_logprob(spark, sf):
        """Per-document mean negative log unigram probability (the
        cheap CCNet-style perplexity quality gate): one corpus shuffle
        to (doc, token) counts, unigram MLE derived from those counts,
        join back and aggregate. Oracle replays the identical counting
        and ln ratio, rounded to 6."""
        from kgforge import textops

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.unigram_logprob(docs)

    def q19_discount_revenue(spark, sf):
        """TPC-H Q19 shape: revenue under an OR of conjunctive band
        predicates that mix part and lineitem columns. The disjunction
        itself cannot reach either scan, so the coarse implied bounds
        ARE stated explicitly: part prefilters to the brand/size
        envelope (broadcast side shrinks before the join), lineitem
        prefilters to the quantity envelope (pushed to the fact scan).
        Revenue in exact decimal; one broadcast join, one scalar agg."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet").where(
            F.col("l_quantity").between(1, 50)
        )
        p = (
            spark.read.parquet(f"{sf}/part.parquet")
            .where(
                F.col("p_brand").isin("Brand#1", "Brand#7", "Brand#13")
                & F.col("p_size").between(1, 40)
            )
        )
        j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        bands = (
            (
                (F.col("p_brand") == "Brand#1")
                & F.col("p_size").between(1, 10)
                & F.col("l_quantity").between(1, 20)
            )
            | (
                (F.col("p_brand") == "Brand#7")
                & F.col("p_size").between(5, 20)
                & F.col("l_quantity").between(10, 35)
            )
            | (
                (F.col("p_brand") == "Brand#13")
                & F.col("p_size").between(10, 40)
                & F.col("l_quantity").between(20, 50)
            )
        )
        rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
            1 - F.col("l_discount")
        ).cast("decimal(4,2)")
        return j.where(bands).agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )

    def q7_volume_shipping(spark, sf):
        """TPC-H Q7 shape: revenue flow between two nations, both
        directions, by ship year. Nation/supplier/customer ride
        broadcast; the one data-sized shuffle is lineitem joining
        orders on l_orderkey. Decimal-exact revenue, BIGINT year."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet").where(
            F.col("l_shipdate").between("1996-01-01", "1997-12-31")
        )
        o = spark.read.parquet(f"{sf}/orders.parquet")
        s = spark.read.parquet(f"{sf}/supplier.parquet")
        c = spark.read.parquet(f"{sf}/customer.parquet")
        n = spark.read.parquet(f"{sf}/nation.parquet")
        n1 = n.select(
            F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
        )
        n2 = n.select(
            F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
        )
        rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
            1 - F.col("l_discount")
        ).cast("decimal(4,2)")
        j = (
            li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
            .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
            .where(
                (
                    (F.col("supp_nation") == "NATION_1")
                    & (F.col("cust_nation") == "NATION_2")
                )
                | (
                    (F.col("supp_nation") == "NATION_2")
                    & (F.col("cust_nation") == "NATION_1")
                )
            )
        )
        return (
            j.groupBy(
                "supp_nation",
                "cust_nation",
                F.year("l_shipdate").cast("long").alias("l_year"),
            )
            .agg(F.sum(rev).cast("double").alias("revenue"))
        )

    def ann_knn_label_accuracy(spark, sf):
        """Leave-one-out k-NN label accuracy over the labeled embedding
        table (majority of 10 neighbors, ties to the smaller label) —
        the embedding-quality probe. Queries broadcast, one window
        rank, vote + accuracy aggregations; oracle replays identically."""
        emb = spark.read.parquet(f"{sf}/embeddings.parquet")
        return similarity.knn_label_accuracy(emb, k=10, n_queries=64)

    def q13_customer_distribution(spark, sf):
        """TPC-H Q13 shape: customer order-count distribution. The LEFT
        join keeps zero-order customers (the row count the inner join
        silently drops is the business answer here); two agg exchanges,
        the second over a |distinct counts|-sized input. Counts BIGINT
        on both engines."""
        c = spark.read.parquet(f"{sf}/customer.parquet").select("c_custkey")
        o = spark.read.parquet(f"{sf}/orders.parquet").select(
            "o_custkey", "o_orderkey"
        )
        per_cust = (
            c.join(o, c.c_custkey == o.o_custkey, "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").cast("long").alias("c_count"))
        )
        return per_cust.groupBy("c_count").agg(
            F.count(F.lit(1)).cast("long").alias("custdist")
        )

    def q17_small_quantity_revenue(spark, sf):
        """TPC-H Q17 shape: revenue lost to small-quantity orders of one
        brand's parts. The per-part average is a groupBy (map-side
        partial) whose |parts|-sized result BROADCASTS back onto the
        fact rows — the decorrelated form of Q17's correlated subquery,
        no window over the fact table. Float discipline: l_quantity sums
        as DECIMAL (exact), the 0.2*avg cutoff is one double division —
        bit-identical on both engines."""
        p = (
            spark.read.parquet(f"{sf}/part.parquet")
            .where(F.col("p_brand") == "Brand#23")
            .select("p_partkey")
        )
        li = (
            spark.read.parquet(f"{sf}/lineitem.parquet")
            .select("l_partkey", "l_quantity", "l_extendedprice")
            .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        )
        cut = li.groupBy("l_partkey").agg(
            (
                F.lit(0.2)
                * (
                    F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double")
                    / F.count(F.lit(1))
                )
            ).alias("qty_cut")
        ).select(F.col("l_partkey").alias("_ck"), "qty_cut")
        small = li.join(F.broadcast(cut), F.col("l_partkey") == F.col("_ck")).where(
            F.col("l_quantity") < F.col("qty_cut")
        )
        return small.agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            (
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / F.lit(7.0)
            ).alias("avg_yearly"),
        )

    def q21_lone_failing_supplier(spark, sf):
        """TPC-H Q21 shape (adapted to this schema's columns): on
        multi-supplier orders, suppliers who were the ONLY one whose
        line was returned (l_returnflag = 'R') — EXISTS becomes a
        left-semi join, NOT EXISTS a left-anti join, both shuffling on
        the one natural key (l_orderkey). Supplier rides broadcast."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
            "l_orderkey", "l_suppkey", "l_returnflag"
        )
        failed = (
            li.where(F.col("l_returnflag") == "R")
            .select("l_orderkey", "l_suppkey")
            .dropDuplicates()
        )
        all_pairs = li.select(
            F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
        ).dropDuplicates()
        failed2 = failed.select(
            F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
        )
        multi = failed.join(
            all_pairs,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        lone = multi.join(
            failed2,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
        s = spark.read.parquet(f"{sf}/supplier.parquet").select(
            "s_suppkey", "s_name"
        )
        return (
            lone.join(F.broadcast(s), lone.l_suppkey == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        )

    def q22_idle_customers(spark, sf):
        """TPC-H Q22 shape: above-average-balance customers with little
        order activity (at most 2 orders — this generator gives every
        customer at least one, so the literal "never ordered" set is
        empty), by nation. The global cutoff is a 1-row agg that rides
        a broadcast cross join (never a collect); low activity is a
        left-anti join against the >2-order custkeys. Cutoff
        arithmetic: DECIMAL-exact sum then one double division —
        engine-identical."""
        c = spark.read.parquet(f"{sf}/customer.parquet")
        cutoff = c.where(F.col("c_acctbal") > 0.0).agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("bal_cut")
        )
        active = (
            spark.read.parquet(f"{sf}/orders.parquet")
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 2)
            .select("o_custkey")
        )
        n = spark.read.parquet(f"{sf}/nation.parquet")
        rich = c.join(F.broadcast(cutoff)).where(F.col("c_acctbal") > F.col("bal_cut"))
        idle = rich.join(active, rich.c_custkey == active.o_custkey, "left_anti")
        return (
            idle.join(F.broadcast(n), idle.c_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).cast("long").alias("numcust"),
                F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
                .cast("double")
                .alias("totacctbal"),
            )
        )

    def evt_markov_transitions(spark, sf):
        """First-order Markov transition matrix over the event stream:
        P(next event type | event type) per user-ordered sequence. One
        user_id shuffle for the lead() window; the conditional
        probabilities divide two exact counts (deterministic doubles).
        The (ts, event_id) sort key makes tied timestamps unambiguous."""
        from pyspark.sql import Window

        ev = spark.read.parquet(f"{sf}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        ).where(F.col("dst").isNotNull())
        counts = seq.groupBy("src", "dst").agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions")
        )
        per_src = Window.partitionBy("src")
        return counts.select(
            "src",
            "dst",
            "n_transitions",
            (
                F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(per_src)
            ).alias("prob"),
        )

    def dq_drift_psi(spark, sf):
        """Distribution drift between two time slices of orders
        (Population Stability Index over 10 fixed-width o_totalprice
        buckets, Laplace-smoothed so empty buckets stay finite). ONE
        scan: each row lands in (bucket, period) via conditional
        expressions, a single groupBy, and the per-period totals ride a
        broadcast. psi_term rounded at 1e-10 for ln() parity."""
        o = spark.read.parquet(f"{sf}/orders.parquet").select(
            F.least(
                F.lit(9), F.floor(F.col("o_totalprice") / F.lit(50000.0))
            )
            .cast("long")
            .alias("bucket"),
            (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
            .alias("is_expected"),
        )
        agg = o.groupBy("bucket").agg(
            F.sum(F.when(F.col("is_expected"), 1).otherwise(0))
            .cast("long")
            .alias("n_expected"),
            F.sum(F.when(F.col("is_expected"), 0).otherwise(1))
            .cast("long")
            .alias("n_actual"),
        )
        totals = agg.agg(
            F.sum("n_expected").cast("double").alias("tot_e"),
            F.sum("n_actual").cast("double").alias("tot_a"),
        )
        k = F.lit(10.0)
        smoothed = agg.join(F.broadcast(totals)).select(
            "bucket",
            "n_expected",
            "n_actual",
            (
                (F.col("n_expected") + F.lit(0.5))
                / (F.col("tot_e") + F.lit(0.5) * k)
            ).alias("p_expected"),
            (
                (F.col("n_actual") + F.lit(0.5))
                / (F.col("tot_a") + F.lit(0.5) * k)
            ).alias("p_actual"),
        )
        return smoothed.select(
            "bucket",
            "n_expected",
            "n_actual",
            F.round(
                (F.col("p_actual") - F.col("p_expected"))
                * F.log(F.col("p_actual") / F.col("p_expected")),
                10,
            ).alias("psi_term"),
        )

    def cat_rollback(spark, sf):
        """Iceberg rollback_to_snapshot: a bad append is undone by a
        metadata-only commit that re-points at the good snapshot's
        files (O(1) at any table size — nothing is read or rewritten).
        Oracle replays the good snapshot's predicate; the bad rows must
        NOT appear."""
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_rb_"))
        t.overwrite(docs.where(F.col("n_chars") < 400), partition_by=("lang",))
        t.append(  # the "bad" commit rollback must erase from reads
            docs.where(F.col("n_chars") >= 400), partition_by=("lang",)
        )
        m = t.rollback(1)
        assert m["summary"]["operation"] == "rollback"
        assert t.read(spark, snapshot_id=2).count() > 0  # history intact
        return t.read(spark).select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
        )

    def q8_market_share(spark, sf):
        """TPC-H Q8 shape: one nation's share of a region's ECONOMY-part
        revenue per order year — the widest join tree in the pack
        (lineitem + 6 dimension joins, every dim BROADCAST, the fact
        table never shuffles until the year agg). The share divides two
        DECIMAL-exact sums per group; conditional numerator, no second
        pass."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        p = (
            spark.read.parquet(f"{sf}/part.parquet")
            .where(F.col("p_type") == "ECONOMY")
            .select("p_partkey")
        )
        o = spark.read.parquet(f"{sf}/orders.parquet").select(
            "o_orderkey", "o_custkey", "o_orderdate"
        )
        c = spark.read.parquet(f"{sf}/customer.parquet").select(
            "c_custkey", "c_nationkey"
        )
        s = spark.read.parquet(f"{sf}/supplier.parquet").select(
            "s_suppkey", "s_nationkey"
        )
        n = spark.read.parquet(f"{sf}/nation.parquet")
        r = spark.read.parquet(f"{sf}/region.parquet").where(
            F.col("r_name") == "AMERICA"
        )
        cn = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            F.col("n_nationkey").alias("_cnk")
        )
        sn = n.select(
            F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("supp_nation")
        )
        rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
            1 - F.col("l_discount")
        ).cast("decimal(4,2)")
        j = (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cnk"))
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_snk"))
        )
        return (
            j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
            .agg(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(
                        F.lit(0).cast("decimal(12,2)")
                    )
                ).alias("_nat"),
                F.sum(rev).alias("_tot"),
            )
            .select(
                "o_year",
                (
                    F.col("_nat").cast("double") / F.col("_tot").cast("double")
                ).alias("mkt_share"),
            )
        )

    def q9_product_profit(spark, sf):
        """TPC-H Q9 shape (adapted: no partsupp table, so supply cost is
        0.5 * p_retailprice): profit on red parts by supplier nation and
        order year. All arithmetic stays DECIMAL until the final double
        cast — float sum order can't leak in. Part/supplier/nation
        broadcast; lineitem↔orders is the one data-sized shuffle."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet")
        p = (
            spark.read.parquet(f"{sf}/part.parquet")
            .where(F.col("p_name").like("%red%"))
            .select("p_partkey", "p_retailprice")
        )
        o = spark.read.parquet(f"{sf}/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )
        s = spark.read.parquet(f"{sf}/supplier.parquet").select(
            "s_suppkey", "s_nationkey"
        )
        n = spark.read.parquet(f"{sf}/nation.parquet").select(
            "n_nationkey", "n_name"
        )
        profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
            1 - F.col("l_discount")
        ).cast("decimal(4,2)") - F.lit(0.5).cast("decimal(2,1)") * F.col(
            "p_retailprice"
        ).cast("decimal(12,2)") * F.col("l_quantity").cast("decimal(12,2)")
        j = (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        )
        return j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        ).agg(F.sum(profit).cast("double").alias("sum_profit"))

    def evt_top_paths(spark, sf):
        """Frequent daily event-type paths: each (user, day)'s first 8
        events joined into a '>' path string, then path frequencies.
        ONE (user, day) shuffle builds the paths — array_sort over a
        collected (ts, event_id, type) struct, so ordering is exact and
        partitioning-independent — and the count agg runs on path-sized
        rows. Paths seen ≥ 3 times only (the support gate)."""
        ev = spark.read.parquet(f"{sf}/events.parquet")
        paths = (
            ev.groupBy("user_id", F.to_date("ts").alias("day"))
            .agg(
                F.array_join(
                    F.slice(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("ts", "event_id", "event_type")
                                )
                            ),
                            lambda x: x.event_type,
                        ),
                        1,
                        8,
                    ),
                    ">",
                ).alias("path")
            )
        )
        return (
            paths.groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_user_days"))
            .where(F.col("n_user_days") >= 3)
        )

    def kg_entity_cooccurrence(spark, sf):
        """Entity co-mention graph over the conversations: canonical
        entity pairs appearing in the SAME conversation, with Jaccard
        over their conversation sets. Blocked by conv_id (pairs are
        generated inside each conversation's entity set, never
        all-pairs) — one conv shuffle, one pair agg, per-entity totals
        ride a broadcast join. The KG-construction profiling companion:
        which entities travel together across transcripts."""
        g = _golden(spark, sf)
        ent = (
            g.select("conv_id", F.col("subj_canon").alias("ent"))
            .unionByName(g.select("conv_id", F.col("obj_canon").alias("ent")))
            .dropDuplicates()
        )
        per_ent = ent.groupBy("ent").agg(
            F.count(F.lit(1)).cast("long").alias("n_convs")
        )
        b = ent.select(F.col("conv_id").alias("_c"), F.col("ent").alias("ent_b"))
        pairs = (
            ent.join(
                b,
                (F.col("conv_id") == F.col("_c")) & (F.col("ent") < F.col("ent_b")),
            )
            .groupBy(F.col("ent").alias("ent_a"), "ent_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_together"))
            .where(F.col("n_together") >= 2)
        )
        na = per_ent.select(
            F.col("ent").alias("_ea"), F.col("n_convs").alias("n_a")
        )
        nb = per_ent.select(
            F.col("ent").alias("_eb"), F.col("n_convs").alias("n_b")
        )
        return (
            pairs.join(F.broadcast(na), F.col("ent_a") == F.col("_ea"))
            .join(F.broadcast(nb), F.col("ent_b") == F.col("_eb"))
            .select(
                "ent_a",
                "ent_b",
                "n_together",
                (
                    F.col("n_together").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_together"))
                ).alias("jaccard"),
            )
        )

    def q15_top_supplier(spark, sf):
        """TPC-H Q15 shape: the supplier(s) with maximum quarterly
        revenue — per-supplier DECIMAL-exact revenue (one shuffle), the
        global max rides back as a broadcast scalar, and the tie-safe
        equality filter is exact because both sides are the same
        decimal sum (no double round-trip before comparing)."""
        li = spark.read.parquet(f"{sf}/lineitem.parquet").where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        rev = li.groupBy("l_suppkey").agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (1 - F.col("l_discount")).cast("decimal(4,2)")
            ).alias("_rev")
        )
        mx = rev.agg(F.max("_rev").alias("_mx"))
        s = spark.read.parquet(f"{sf}/supplier.parquet").select(
            "s_suppkey", "s_name"
        )
        return (
            rev.join(F.broadcast(mx))
            .where(F.col("_rev") == F.col("_mx"))
            .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
            .select(
                "s_suppkey", "s_name", F.col("_rev").cast("double").alias("total_rev")
            )
        )

    def docs_mix_rebalance(spark, sf):
        """LLM data mixing: cap every language at ~100 expected docs
        (data-dependent fractions computed in-engine — see
        textops.mix_rebalance). The oracle replays the count → fraction
        → hash-gate chain in SQL and must select the IDENTICAL doc_ids."""
        from kgforge import textops

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        return textops.mix_rebalance(docs, target_per_key=100).select(
            "doc_id", "lang"
        )

    def kg_provenance(spark, sf):
        """Per-entity provenance over the constructed KG: how many
        conversations and turns each canonical entity is attested in,
        split by role, plus its predicate diversity — the audit query a
        KG owner runs to trace any entity back to its sources. One
        union scan, one entity shuffle."""
        g = _golden(spark, sf)
        roles = g.select(
            F.col("subj_canon").alias("ent"),
            "conv_id",
            "turn_idx",
            "pred",
            F.lit(1).alias("_subj"),
        ).unionByName(
            g.select(
                F.col("obj_canon").alias("ent"),
                "conv_id",
                "turn_idx",
                "pred",
                F.lit(0).alias("_subj"),
            )
        )
        return roles.groupBy("ent").agg(
            F.count(F.lit(1)).cast("long").alias("n_mentions"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.sum("_subj").cast("long").alias("n_as_subj"),
            F.sum(1 - F.col("_subj")).cast("long").alias("n_as_obj"),
            F.countDistinct("pred").cast("long").alias("n_preds"),
            F.min("turn_idx").cast("long").alias("first_turn"),
        )

    def txt_lexical_stats(spark, sf):
        """Corpus-level lexical profile in exact arithmetic: token and
        vocabulary sizes, hapax count, modal frequency, type-token
        ratio (the one division — two exact BIGINTs, engine-identical).
        One explode scan + one token agg; the stats agg runs over
        vocab-sized rows."""
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        toks = docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
        ).where(F.col("token") != "")
        freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        return freq.agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.max("n").cast("long").alias("max_freq"),
            (
                F.count(F.lit(1)).cast("double") / F.sum("n").cast("double")
            ).alias("type_token_ratio"),
        )

    def a15_ranks_distmult(spark, sf):
        """Link-prediction ranks under the DistMult kernel (broadcast
        path) — the bilinear family through the full raw+filtered rank
        protocol, not just scoring. score_decimals=6: triple-product
        sums round accumulation-order-dependently (same rationale as
        the L2 variant); both engines rank on 1e-6-rounded scores."""
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark,
            spark.createDataFrame(split["test2id"]),
            emb,
            known,
            model="distmult",
            score_decimals=6,
        )

    def a15_ranks_complex(spark, sf):
        """Link-prediction ranks under the ComplEx kernel (broadcast
        path): Re(<h, r, conj(t)>) expanded to real arithmetic drives
        the full raw+filtered protocol — the asymmetric-relation family
        beyond DistMult's symmetric diagonal. score_decimals=6 for the
        same product-sum ulp rationale as the other non-L1 kernels."""
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark,
            spark.createDataFrame(split["test2id"]),
            emb,
            known,
            model="complex",
            score_decimals=6,
        )

    def a15_ranks_rotate(spark, sf):
        """Link-prediction ranks under the RotatE kernel (broadcast
        path): per-dimension complex rotation h∘r with modulus distance
        to t, through the full raw+filtered protocol. The rotation is
        the precomputed (cos θ, sin θ) fixture pair, so both engines do
        sqrt/mul/add only; scores round at 1e-6 before the strict-<
        comparison (sqrt of squared sums is accumulation-order
        dependent in the last ulp)."""
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark,
            spark.createDataFrame(split["test2id"]),
            emb,
            known,
            model="rotate",
            score_decimals=6,
        )

    def a15_ranks_analogy(spark, sf):
        """Link-prediction ranks under the Analogy kernel (broadcast
        path): the DistMult-scalar-block + ComplEx-block sum drives the
        full raw+filtered protocol. score_decimals=6 — the shared
        product-sum ulp rationale; the oracle's candidate CTEs sum all
        three product terms relationally on the same rounded scores."""
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark,
            spark.createDataFrame(split["test2id"]),
            emb,
            known,
            model="analogy",
            score_decimals=6,
        )

    def a15_ranks_hole(spark, sf):
        """Link-prediction ranks under the HolE kernel (broadcast
        path): circular-correlation scoring through the full
        raw+filtered protocol — the 11th and final model of the
        recalled OpenKE family through the rank pipeline. The oracle
        scores every candidate with the modular-index join form;
        score_decimals=6 re-synchronizes the double-sum ordering ulp
        before the strict-< comparison."""
        split, emb, known = _openke_emb()
        return ev.link_prediction_ranks(
            spark,
            spark.createDataFrame(split["test2id"]),
            emb,
            known,
            model="hole",
            score_decimals=6,
        )

    def a4_constrained_negatives(spark, sf):
        """Type-constrained corruption (A4 × type_constrain semantics):
        negatives draw heads from the relation's domain and tails from
        its range — the training-side companion of constrained eval.
        Oracle-checkable properties: exact 2-per-positive count, zero
        known-triple violations, zero domain/range violations (the
        sampled rows themselves are counter-RNG; membership and counts
        are engine-independent)."""
        split, _, _ = _openke_emb()
        train = split["train2id"]
        t = spark.createDataFrame(train)
        domains = {
            int(r): np.unique(g["h"].to_numpy()) for r, g in train.groupby("r")
        }
        ranges = {
            int(r): np.unique(g["t"].to_numpy()) for r, g in train.groupby("r")
        }
        neg = negative_samples(
            t, n_ent=200, neg_per_pos=2, mode="uniform", seed=7,
            constraints=(domains, ranges),
        )
        heads = t.select("h", "r").distinct()
        tails = t.select("t", "r").distinct()
        return (
            neg.agg(F.count("*").cast("long").alias("n_neg"))
            .crossJoin(
                neg.join(t.select("h", "t", "r"), ["h", "t", "r"], "left_semi")
                .agg(F.count("*").cast("long").alias("n_known_violations"))
            )
            .crossJoin(
                neg.select("h", "r").join(heads, ["h", "r"], "left_anti")
                .agg(F.count("*").cast("long").alias("n_domain_violations"))
            )
            .crossJoin(
                neg.select("t", "r").join(tails, ["t", "r"], "left_anti")
                .agg(F.count("*").cast("long").alias("n_range_violations"))
            )
        )

    def a11_softplus_distmult(spark, sf):
        """A11 loss-function axis: bilinear kernels train under the
        softplus/logistic loss (the reference family's SoftplusLoss
        recipe — margin ranking suits bounded distance scores, not an
        unbounded bilinear f). Properties the oracle pins: the trained
        logistic loss beats the untrained init on the same fixed
        corruption, and every parameter stays finite (weight decay
        holds the unbounded score in check)."""
        from kgforge import training

        split, _, _ = _openke_emb()
        n_ent, n_rel = len(split["entity2id"]), len(split["relation2id"])
        tr = split["train2id"]
        rng = np.random.default_rng(11)
        ent0 = training._xavier(rng, n_ent, 16)
        rel0 = training._xavier(rng, n_rel, 16)
        h = tr["h"].to_numpy(np.int64)
        t = tr["t"].to_numpy(np.int64)
        r = tr["r"].to_numpy(np.int64)
        nh, nt = (h + 1) % n_ent, t
        base = training.softplus_loss_distmult(ent0, rel0, h, t, r, nh, nt)
        ent1, rel1 = training.sgd_epochs_softplus(
            tr, ent0, rel0, epochs=20, lr=0.05, seed=3
        )
        trained = training.softplus_loss_distmult(ent1, rel1, h, t, r, nh, nt)
        finite = np.isfinite(ent1).all() and np.isfinite(rel1).all()
        return spark.createDataFrame(
            [("distmult_softplus", bool(trained < base), bool(finite))],
            "model string, improved boolean, finite boolean",
        )

    def a11_selfadv_rotate(spark, sf):
        """A11 negative-sampling axis: RotatE under SELF-ADVERSARIAL
        negative sampling (Sun et al. 2019 eq. 5) — K corruptions per
        positive, each weighted by the detached softmax of its own
        plausibility, the refinement that keeps gradients alive once
        uniform corruptions become trivially false. Properties the
        oracle pins: the trained adversarial loss beats the untrained
        init on the same fixed negative set, parameters stay finite,
        and the derived rotations remain exactly unit-modulus (the
        θ parametrization guarantees it by construction)."""
        from kgforge import training

        split, _, _ = _openke_emb()
        n_ent, n_rel = len(split["entity2id"]), len(split["relation2id"])
        tr = split["train2id"]
        rng = np.random.default_rng(17)
        er0 = training._xavier(rng, n_ent, 16)
        ei0 = training._xavier(rng, n_ent, 16)
        th0 = rng.uniform(-np.pi, np.pi, size=(n_rel, 16))
        h = tr["h"].to_numpy(np.int64)
        t = tr["t"].to_numpy(np.int64)
        r = tr["r"].to_numpy(np.int64)
        K = 4
        nh = np.stack([(h + k + 1) % n_ent for k in range(K)], axis=1)
        nt = np.repeat(t[:, None], K, axis=1)
        base = training.selfadv_loss_rotate(er0, ei0, th0, h, t, r, nh, nt)
        er1, ei1, th1 = training.sgd_epochs_selfadv(
            tr, er0, ei0, th0, epochs=15, lr=0.05, seed=7
        )
        trained = training.selfadv_loss_rotate(er1, ei1, th1, h, t, r, nh, nt)
        finite = bool(
            np.isfinite(er1).all() and np.isfinite(ei1).all()
            and np.isfinite(th1).all()
        )
        unit = bool(
            np.allclose(np.cos(th1) ** 2 + np.sin(th1) ** 2, 1.0, atol=1e-12)
        )
        return spark.createDataFrame(
            [("rotate_selfadv", bool(trained < base), finite, unit)],
            "model string, improved boolean, finite boolean, unit_modulus boolean",
        )

    def kg_functional_resolution(spark, sf):
        """Functional-predicate conflict resolution: for predicates that
        admit ONE object per subject (livesIn/worksAt/ceoOf/bornIn),
        keep the latest attestation under the total (conv_id, turn_idx,
        obj) order — last-write-wins KG state materialization, the step
        that turns an append-only attestation log into a consistent
        current graph. One (subj, pred) shuffle serves both the
        row_number window and the conflict counts."""
        functional = ("livesIn", "worksAt", "ceoOf", "bornIn")
        from pyspark.sql import Window

        g = _golden(spark, sf).where(F.col("pred").isin(*functional))
        w = Window.partitionBy("subj_canon", "pred").orderBy(
            F.desc("conv_id"), F.desc("turn_idx"), F.desc("obj_canon")
        )
        ranked = g.select(
            "subj_canon",
            "pred",
            "obj_canon",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("subj_canon", "pred"))
            .cast("long")
            .alias("n_attestations"),
            F.size(
                F.collect_set("obj_canon").over(
                    Window.partitionBy("subj_canon", "pred")
                )
            )
            .cast("long")
            .alias("n_conflicting_values"),
        )
        return ranked.where(F.col("_rn") == 1).select(
            F.col("subj_canon").alias("subj"),
            "pred",
            F.col("obj_canon").alias("obj"),
            "n_attestations",
            "n_conflicting_values",
        )

    def a17_metrics_distmult(spark, sf):
        """A17 metric aggregation over DistMult ranks — proves the
        metric layer is kernel-agnostic end to end (same protocol, a
        bilinear scorer underneath)."""
        split, emb, known = _openke_emb()
        ranks = ev.link_prediction_ranks(
            spark,
            spark.createDataFrame(split["test2id"]),
            emb,
            known,
            model="distmult",
            score_decimals=6,
        )
        m = ev.link_prediction_metrics(ranks)
        return m.select(*[F.round(F.col(c), 9).alias(c) for c in m.columns])

    def cat_wap_publish(spark, sf):
        """Iceberg write-audit-publish: staged rows commit to a BRANCH
        (main readers untouched), the audit gate reads the branch head,
        and fast_forward publishes atomically. Oracle = the published
        row set; the in-flight assertions prove main isolation and the
        ancestor precondition."""
        import tempfile

        from kgforge.catalog import IcebergLiteTable

        docs = spark.read.parquet(f"{sf}/documents.parquet")
        t = IcebergLiteTable(tempfile.mkdtemp(prefix="kgforge_wap_"))
        t.overwrite(docs.where(F.col("n_chars") < 300), partition_by=("lang",))
        main_rows = t.read(spark).count()
        t.create_branch("staging")
        t.commit_to_branch(
            "staging",
            docs.where(F.col("n_chars") >= 300),
            partition_by=("lang",),
        )
        assert t.read(spark).count() == main_rows  # write staged, main isolated
        audit = t.read_branch(spark, "staging")  # the audit gate
        assert audit.count() > main_rows
        t.fast_forward("staging")  # publish
        return t.read(spark).select(
            "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
        )

    def kg_k_truss(spark, sf):
        """3-truss of the part co-purchase graph (parts sharing >= 2
        orders): every surviving edge sits in >= 1 triangle of the
        surviving subgraph. Iterative distributed peel to the fixpoint
        (graphstats.k_truss — one localCheckpoint per round with the
        edge count observed on it); the oracle unrolls ONE peel + the
        final support recount, which this input provably converges to
        (round 2 is a no-op at sf0.01 — asserted by the engine's own
        fixpoint loop)."""
        from kgforge import graphstats

        lp = (
            spark.read.parquet(f"{sf}/lineitem.parquet")
            .select("l_orderkey", "l_partkey")
            .dropDuplicates()
        )
        b = lp.select(
            F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("_p")
        )
        pairs = (
            lp.join(
                b,
                (lp.l_orderkey == b._o) & (lp.l_partkey < b._p),
            )
            .groupBy(F.col("l_partkey").alias("h"), F.col("_p").alias("t"))
            .agg(F.count(F.lit(1)).alias("_w"))
            .where(F.col("_w") >= 2)
            .select("h", "t", F.lit(0).alias("r"))
        )
        return graphstats.k_truss(pairs, k=3).select(
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            "support",
        )

    def b7b_fuzzy_aliases(spark, sf):
        """Edit-distance alias matching over the gazetteer (the
        entity-resolution companion to B7's MinHash path): surface
        pairs within Levenshtein distance 2 after case-folding. The
        self-join is BLOCKED on (first char, ±2 length band) so the
        candidate set is bands-sized, never all-pairs — the documented
        recall trade (a first-character edit crosses blocks) that makes
        edit-distance ER feasible at dictionary scale."""
        gaz = (
            spark.read.parquet(os.path.join(_fixture_dir(sf), "gazetteer.parquet"))
            .select(
                F.col("surface").alias("surface_a"),
                F.lower("surface").alias("_la"),
                F.col("canonical").alias("_ca"),
            )
            .dropDuplicates(["surface_a"])
        )
        right = gaz.select(
            F.col("surface_a").alias("surface_b"),
            F.col("_la").alias("_lb"),
            F.col("_ca").alias("_cb"),
        )
        pairs = gaz.join(
            right,
            (F.substring("_la", 1, 1) == F.substring("_lb", 1, 1))
            & (
                F.abs(F.length("_la") - F.length("_lb")) <= F.lit(2)
            )
            & (F.col("surface_a") < F.col("surface_b")),
        )
        return pairs.where(F.levenshtein("_la", "_lb") <= 2).select(
            "surface_a",
            "surface_b",
            F.levenshtein("_la", "_lb").cast("long").alias("edit_dist"),
            (F.col("_ca") == F.col("_cb")).alias("same_canonical"),
        )

    return {
        # Entry order is driver-visible: the correctness gate snapshots the
        # FIRST 50 entries only (CORRECTNESS_r01..r03 key sets). The first 50
        # are curated for breadth — one query per operator family across the
        # whole SURVEY.md §2 surface plus every LLM-pipeline op; variant
        # queries (kernel L2 pairs, blocked sub-variants, property companions)
        # follow after position 50.
        "b1_turn_ordering": b1_turn_ordering,
        "b2_detect_mentions": b2_detect_mentions,
        "b3_extract_triples": b3_extract_triples,
        "b5_link_triples": b5_link_triples,
        "b7_lsh_covers_exact_jaccard": b7_lsh_covers_exact_jaccard,
        "b8_connected_components": b8_connected_components,
        "b9_dense_ids": b9_dense_ids,
        "b10_id_triples": b10_id_triples,
        "a2_triple_dedup": a2_triple_dedup,
        "a3_bern_stats": a3_bern_stats,
        "a4_negative_properties": a4_negative_properties,
        "a5_bern_properties": a5_bern_properties,
        "a6_batch_properties": a6_batch_properties,
        "a7_transe_scores": a7_transe_scores,
        "a8_transh_scores": a8_transh_scores,
        "a9_transr_scores": a9_transr_scores,
        "a10_transd_scores": a10_transd_scores,
        "a11_margin_loss": a11_margin_loss,
        "a14_train_eval_metrics": a14_train_eval_metrics,
        "a15_link_prediction_ranks": a15_link_prediction_ranks,
        "a15_ranks_blocked": a15_ranks_blocked,
        "b11_resume_manifest": b11_resume_manifest,
        "a17_link_prediction_metrics": a17_link_prediction_metrics,
        "a18_accuracy": a18_accuracy,
        "a19_topk_completions": a19_topk_completions,
        "a20_checkpoint_scores": a20_checkpoint_scores,
        "a21_incremental_training": a21_incremental_training,
        "dedup_exact": dedup_exact,
        "dedup_minhash_containment": dedup_minhash_containment,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_simhash_pigeonhole": dedup_simhash_pigeonhole,
        "b12_eval_gate": b12_eval_gate,
        "txt_token_counts": txt_token_counts,
        "txt_quality_scores": txt_quality_scores,
        "txt_lang_id": txt_lang_id,
        "txt_tfidf_top_terms": txt_tfidf_top_terms,
        "a1_dict_roundtrip": a1_dict_roundtrip,
        "ann_cosine_topk": ann_cosine_topk,
        "ann_lsh_topk_recall": ann_lsh_topk_recall,
        "ann_ivf_topk_recall": ann_ivf_topk_recall,
        "str_windowed_triples": str_windowed_triples,
        "str_session_windows": str_session_windows,
        "str_dedup_docs": str_dedup_docs,
        "str_stateful_counts": str_stateful_counts,
        "str_enriched_segments": str_enriched_segments,
        "cat_time_travel": cat_time_travel,
        "mm_features": mm_features,
        "asof_purchases": asof_purchases,
        "q1_pricing_summary": q1_pricing_summary,
        "q_rollup_lineitem": q_rollup_lineitem,
        # -- variants / property companions (beyond the driver's window) --
        "a1_type_constrain_roundtrip": a1_type_constrain_roundtrip,
        "a19_topk_constrained": a19_topk_constrained,
        "str_view_purchase_join": str_view_purchase_join,
        "str_continuous_kg": str_continuous_kg,
        "docs_stratified_sample": docs_stratified_sample,
        "kg_degree_histogram": kg_degree_histogram,
        "kg_top_hubs": kg_top_hubs,
        "kg_triangles": kg_triangles,
        "kg_two_hop": kg_two_hop,
        "kg_pagerank": kg_pagerank,
        "b13_incremental_build": b13_incremental_build,
        "cat_compaction": cat_compaction,
        "q_cheapest_part_order": q_cheapest_part_order,
        "q_running_revenue": q_running_revenue,
        "txt_fingerprint": txt_fingerprint,
        "docs_corpus_filter": docs_corpus_filter,
        "a15_ranks_relfilter": a15_ranks_relfilter,
        "a12_optimizer_grid": a12_optimizer_grid,
        "a13_param_averaging": a13_param_averaging,
        "b1_conversation_text": b1_conversation_text,
        "b3_streaming_extract": b3_streaming_extract,
        "dedup_minhash": dedup_minhash,
        "dedup_simhash": dedup_simhash,
        "b7_alias_pairs": b7_alias_pairs,
        "a4_negative_sampling": a4_negative_sampling,
        "a6_training_batches": a6_training_batches,
        "b2_mentions_cover_golden": b2_mentions_cover_golden,
        "a7_transe_scores_l2": a7_transe_scores_l2,
        "a15_ranks_l2": a15_ranks_l2,
        "a19_topk_heads": a19_topk_heads,
        "a8_transh_scores_l2": a8_transh_scores_l2,
        "a9_transr_scores_l2": a9_transr_scores_l2,
        "a10_transd_scores_l2": a10_transd_scores_l2,
        "a15_ranks_blocked_transh": a15_ranks_blocked_transh,
        "a15_ranks_blocked_transd": a15_ranks_blocked_transd,
        "a15_ranks_blocked_transr": a15_ranks_blocked_transr,
        "a15_ranks_blocked_from_parquet": a15_ranks_blocked_from_parquet,
        "a15_ranks_relfilter_transr": a15_ranks_relfilter_transr,
        "a15_constrained_ranks": a15_constrained_ranks,
        "a17_metrics_by_category": a17_metrics_by_category,
        "a17_category_relfilter": a17_category_relfilter,
        "a18_thresholds": a18_thresholds,
        "txt_length_quantiles": txt_length_quantiles,
        "txt_length_quantiles_approx": txt_length_quantiles_approx,
        "ann_cosine_neardup": ann_cosine_neardup,
        "ann_cosine_neardup_exact": ann_cosine_neardup_exact,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "ann_ivf_persisted_recall": ann_ivf_persisted_recall,
        "w_topk_orders": w_topk_orders,
        "a3_skew_stats_lineitem": a3_skew_stats_lineitem,
        "q_region_supplier_stats": q_region_supplier_stats,
        "q_part_brand_prices": q_part_brand_prices,
        "q_approx_distinct_parts": q_approx_distinct_parts,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "evt_sessionize": evt_sessionize,
        "kg_label_propagation": kg_label_propagation,
        "kg_random_walks": kg_random_walks,
        "kg_personalized_pagerank": kg_personalized_pagerank,
        "kg_skipgram_pairs": kg_skipgram_pairs,
        "kg_adamic_adar": kg_adamic_adar,
        "kg_hits": kg_hits,
        "kg_modularity": kg_modularity,
        "dq_profile_orders": dq_profile_orders,
        "dq_expectations_lineitem": dq_expectations_lineitem,
        "dq_referential_integrity": dq_referential_integrity,
        "evt_scd2_user_state": evt_scd2_user_state,
        "evt_scd2_snapshot": evt_scd2_snapshot,
        "dedup_neardup_groups": dedup_neardup_groups,
        "str_catalog_ingest": str_catalog_ingest,
        "a7b_distmult_scores": a7b_distmult_scores,
        "a7c_complex_scores": a7c_complex_scores,
        "a7d_rotate_scores": a7d_rotate_scores,
        "kg_relation_properties": kg_relation_properties,
        "kg_inverse_relations": kg_inverse_relations,
        "a12b_distmult_training": a12b_distmult_training,
        "kg_node2vec_walks": kg_node2vec_walks,
        "b1b_conversation_profile": b1b_conversation_profile,
        "docs_token_budget": docs_token_budget,
        "cat_schema_evolution": cat_schema_evolution,
        "str_kg_to_catalog": str_kg_to_catalog,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "kg_deepwalk_embeddings": kg_deepwalk_embeddings,
        "cat_upsert": cat_upsert,
        "b8b_component_sizes": b8b_component_sizes,
        "kg_pagerank_weighted": kg_pagerank_weighted,
        "cat_delete_rows": cat_delete_rows,
        "a12c_complex_training": a12c_complex_training,
        "kg_node2vec_pairs": kg_node2vec_pairs,
        "q10_returned_items": q10_returned_items,
        "a12d_rotate_training": a12d_rotate_training,
        "txt_repetition_stats": txt_repetition_stats,
        "docs_benchmark_contamination": docs_benchmark_contamination,
        "kg_local_clustering": kg_local_clustering,
        "kg_k_core": kg_k_core,
        "kg_link_heuristics": kg_link_heuristics,
        "cat_tagged_read": cat_tagged_read,
        "docs_weighted_sample": docs_weighted_sample,
        "docs_pii_scrub": docs_pii_scrub,
        "docs_strip_boilerplate": docs_strip_boilerplate,
        "docs_pack_sequences": docs_pack_sequences,
        "kg_shortest_paths": kg_shortest_paths,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q4_priority_late_orders": q4_priority_late_orders,
        "dq_table_diff": dq_table_diff,
        "docs_assign_splits": docs_assign_splits,
        "ann_quantize": ann_quantize,
        "ann_quantized_topk": ann_quantized_topk,
        "evt_interval_join": evt_interval_join,
        "cat_snapshot_diff": cat_snapshot_diff,
        "txt_build_vocab": txt_build_vocab,
        "txt_oov_stats": txt_oov_stats,
        "evt_json_extract": evt_json_extract,
        "docs_training_export": docs_training_export,
        "str_sliding_counts": str_sliding_counts,
        "evt_funnel": evt_funnel,
        "evt_retention_cohorts": evt_retention_cohorts,
        "kg_assortativity": kg_assortativity,
        "kg_reciprocity": kg_reciprocity,
        "txt_bpe_pairs": txt_bpe_pairs,
        "dedup_survivorship": dedup_survivorship,
        "q18_large_orders": q18_large_orders,
        "q14_promo_share": q14_promo_share,
        "txt_phrase_search": txt_phrase_search,
        "evt_anomaly_zscore": evt_anomaly_zscore,
        "q_salted_customer_orders": q_salted_customer_orders,
        "txt_heavy_tokens": txt_heavy_tokens,
        "evt_funnel_windowed": evt_funnel_windowed,
        "evt_session_stats": evt_session_stats,
        "dedup_incremental": dedup_incremental,
        "ann_pq_topk_recall": ann_pq_topk_recall,
        "evt_scd2_join": evt_scd2_join,
        "evt_trailing_7d": evt_trailing_7d,
        "evt_type_pivot": evt_type_pivot,
        "kg_rule_mining": kg_rule_mining,
        "docs_chunks": docs_chunks,
        "evt_forward_fill": evt_forward_fill,
        "a1_datasource_triples": a1_datasource_triples,
        "a1_datasource_dict": a1_datasource_dict,
        "a15_relation_ranks": a15_relation_ranks,
        "txt_collocations": txt_collocations,
        "str_datasource_tail": str_datasource_tail,
        "txt_unigram_logprob": txt_unigram_logprob,
        "q19_discount_revenue": q19_discount_revenue,
        "q7_volume_shipping": q7_volume_shipping,
        "ann_knn_label_accuracy": ann_knn_label_accuracy,
        "q13_customer_distribution": q13_customer_distribution,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q21_lone_failing_supplier": q21_lone_failing_supplier,
        "q22_idle_customers": q22_idle_customers,
        "evt_markov_transitions": evt_markov_transitions,
        "dq_drift_psi": dq_drift_psi,
        "cat_rollback": cat_rollback,
        "b7b_fuzzy_aliases": b7b_fuzzy_aliases,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "evt_top_paths": evt_top_paths,
        "kg_entity_cooccurrence": kg_entity_cooccurrence,
        "q15_top_supplier": q15_top_supplier,
        "docs_mix_rebalance": docs_mix_rebalance,
        "kg_provenance": kg_provenance,
        "txt_lexical_stats": txt_lexical_stats,
        "a7e_simple_scores": a7e_simple_scores,
        "a7f_rescal_scores": a7f_rescal_scores,
        "kg_k_truss": kg_k_truss,
        "a15_ranks_distmult": a15_ranks_distmult,
        "kg_functional_resolution": kg_functional_resolution,
        "cat_wap_publish": cat_wap_publish,
        "a17_metrics_distmult": a17_metrics_distmult,
        "a15_ranks_complex": a15_ranks_complex,
        "a15_ranks_rotate": a15_ranks_rotate,
        "a4_constrained_negatives": a4_constrained_negatives,
        "a11_softplus_distmult": a11_softplus_distmult,
        "a7g_analogy_scores": a7g_analogy_scores,
        "a7h_hole_scores": a7h_hole_scores,
        "a15_ranks_analogy": a15_ranks_analogy,
        "a15_ranks_hole": a15_ranks_hole,
        "a11_selfadv_rotate": a11_selfadv_rotate,
        "cat_partition_evolution": cat_partition_evolution,
        "txt_duplicate_spans": txt_duplicate_spans,
        "a17_kernel_leaderboard": a17_kernel_leaderboard,
        "kg_ntriples_roundtrip": kg_ntriples_roundtrip,
        "kg_nquads_provenance_roundtrip": kg_nquads_provenance_roundtrip,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------

_TRANS = f"read_parquet('{FIX01}/transcripts.parquet')"
_GOLD = f"read_parquet('{FIX01}/golden_triples.parquet')"
_GAZ = f"read_parquet('{FIX01}/gazetteer.parquet')"
_NORM_TEXT = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

_DENSE_E = f"""
    SELECT name, row_number() OVER (ORDER BY name) - 1 AS id
    FROM (SELECT DISTINCT canonical AS name FROM {_GAZ})
"""
_DENSE_R = f"""
    SELECT name, row_number() OVER (ORDER BY name) - 1 AS id
    FROM (SELECT DISTINCT pred AS name FROM read_parquet('{FIX01}/patterns.parquet'))
"""

_KNOWN = f"""
    SELECT h, t, r FROM read_parquet('{OKE}/train2id.parquet')
    UNION SELECT h, t, r FROM read_parquet('{OKE}/valid2id.parquet')
    UNION SELECT h, t, r FROM read_parquet('{OKE}/test2id.parquet')
"""

# per-(test-triple, candidate) TransE L1 scores from the long-format embeddings
_RANK_CTES = f"""
  test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
  known AS ({_KNOWN}),
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  hs AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand, sum(abs(ce.val + re.val - te.val)) AS score
    FROM test tt
    JOIN rel re ON re.id = tt.r
    JOIN ent te ON te.id = tt.t AND te.k = re.k
    JOIN ent ce ON ce.k = re.k
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  ts_ AS (SELECT h, t, r, score FROM hs WHERE cand = h),
  head_rank AS (
    SELECT hs.h, hs.t, hs.r,
      1 + count(*) FILTER (WHERE hs.score < ts_.score) AS rank_head_raw,
      1 + count(*) FILTER (WHERE hs.score < ts_.score AND k.h IS NULL) AS rank_head_filt
    FROM hs
    JOIN ts_ ON hs.h = ts_.h AND hs.t = ts_.t AND hs.r = ts_.r
    LEFT JOIN known k ON k.h = hs.cand AND k.t = hs.t AND k.r = hs.r AND k.h <> hs.h
    GROUP BY hs.h, hs.t, hs.r
  ),
  tsc AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand, sum(abs(he.val + re.val - ce.val)) AS score
    FROM test tt
    JOIN rel re ON re.id = tt.r
    JOIN ent he ON he.id = tt.h AND he.k = re.k
    JOIN ent ce ON ce.k = re.k
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  tts AS (SELECT h, t, r, score FROM tsc WHERE cand = t),
  tail_rank AS (
    SELECT tsc.h, tsc.t, tsc.r,
      1 + count(*) FILTER (WHERE tsc.score < tts.score) AS rank_tail_raw,
      1 + count(*) FILTER (WHERE tsc.score < tts.score AND k.h IS NULL) AS rank_tail_filt
    FROM tsc
    JOIN tts ON tsc.h = tts.h AND tsc.t = tts.t AND tsc.r = tts.r
    LEFT JOIN known k ON k.t = tsc.cand AND k.h = tsc.h AND k.r = tsc.r AND k.t <> tsc.t
    GROUP BY tsc.h, tsc.t, tsc.r
  ),
  ranks AS (
    SELECT head_rank.h, head_rank.t, head_rank.r,
           rank_head_raw, rank_head_filt, rank_tail_raw, rank_tail_filt
    FROM head_rank
    JOIN tail_rank ON head_rank.h = tail_rank.h AND head_rank.t = tail_rank.t
                  AND head_rank.r = tail_rank.r
  )
"""


def _pagerank_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled damped power method over the golden-KG dense-id graph —
    the same ``n_iter`` iterations ``graphstats.pagerank`` runs, with
    the same per-iteration round(…, 9) (what makes the two engines
    hash-exact; see the pagerank docstring). CTEs are MATERIALIZED:
    each ``r{{i}}`` is referenced twice by ``r{{i+1}}`` (contribution +
    dangling mass), and an inlining planner would re-expand the chain
    exponentially."""
    chain = f"""
        WITH eids AS MATERIALIZED ({_DENSE_E}), r AS MATERIALIZED ({_DENSE_R}),
        tri AS MATERIALIZED (
            SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
            FROM {_GOLD} g
            JOIN eids es ON g.subj_canon = es.name
            JOIN eids eo ON g.obj_canon = eo.name
            JOIN r rr ON g.pred = rr.name
        ),
        edges AS MATERIALIZED (SELECT DISTINCT h AS src, t AS dst FROM tri WHERE h <> t),
        nodes AS MATERIALIZED (SELECT src AS e FROM edges UNION SELECT dst FROM edges),
        outdeg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src
        ),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS MATERIALIZED (SELECT e, round(1.0 / nn.n, 9) AS "rank" FROM nodes, nn)"""
    for i in range(1, n_iter + 1):
        chain += f""",
        r{i} AS MATERIALIZED (
            SELECT nodes.e,
                   round((1.0 - {damping}) / nn.n
                         + {damping} * (coalesce(c.contrib, 0.0) + dg.dang / nn.n),
                         9) AS "rank"
            FROM nodes
            CROSS JOIN nn
            CROSS JOIN (
                SELECT coalesce(sum(p."rank"), 0.0) AS dang
                FROM r{i - 1} p LEFT JOIN outdeg o ON p.e = o.src
                WHERE o.src IS NULL
            ) dg
            LEFT JOIN (
                SELECT ed.dst AS e, sum(p."rank" / o.od) AS contrib
                FROM edges ed
                JOIN r{i - 1} p ON ed.src = p.e
                JOIN outdeg o ON ed.src = o.src
                GROUP BY ed.dst
            ) c ON nodes.e = c.e
        )"""
    return chain + f'\n        SELECT e, "rank" FROM r{n_iter}'


# Shared KG-graph prefix for the graph-op oracles: golden triples mapped
# through the dense-id dictionaries (identical to the tri CTE inside
# _pagerank_sql; kept verbatim there to avoid touching a green oracle).
_KG_GRAPH_CTES = f"""
        WITH eids AS MATERIALIZED ({_DENSE_E}), r AS MATERIALIZED ({_DENSE_R}),
        tri AS MATERIALIZED (
            SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
            FROM {_GOLD} g
            JOIN eids es ON g.subj_canon = es.name
            JOIN eids eo ON g.obj_canon = eo.name
            JOIN r rr ON g.pred = rr.name
        ),
        und AS MATERIALIZED (
            SELECT DISTINCT least(h, t) AS a, greatest(h, t) AS b
            FROM tri WHERE h <> t
        ),
        adj AS MATERIALIZED (
            SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b AS u, a AS v FROM und
        )"""


_TABLE_DIFF_SQL = """
            WITH l AS (SELECT doc_id, lang, n_chars FROM documents),
            r AS (
              SELECT doc_id,
                CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
                CAST(n_chars + CASE WHEN doc_id % 13 = 0 THEN 5 ELSE 0 END
                     AS BIGINT) AS n_chars
              FROM documents WHERE doc_id % 11 <> 0
              UNION ALL
              SELECT doc_id + 100000, 'en', CAST(42 AS BIGINT)
              FROM documents WHERE doc_id < 5
            ),
            j AS (
              SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
                l.doc_id AS lk, r.doc_id AS rk,
                list_filter(
                  [CASE WHEN l.lang IS DISTINCT FROM r.lang
                        THEN 'lang' END,
                   CASE WHEN l.n_chars IS DISTINCT FROM r.n_chars
                        THEN 'n_chars' END],
                  x -> x IS NOT NULL) AS diffs
              FROM l FULL JOIN r ON l.doc_id = r.doc_id
            )
            SELECT doc_id,
              CASE WHEN lk IS NULL THEN 'added'
                   WHEN rk IS NULL THEN 'removed'
                   WHEN len(diffs) > 0 THEN 'changed'
                   ELSE 'unchanged' END AS status,
              CASE WHEN lk IS NOT NULL AND rk IS NOT NULL
                        AND len(diffs) > 0
                   THEN array_to_string(diffs, ',') ELSE '' END
                AS changed_cols
            FROM j
        """


def _sssp_chain_sql(rounds: int, n_seeds: int) -> str:
    """Unrolled bounded Bellman-Ford over the KG undirected entity
    graph with demo weights w=(u+v)%5+1 — the same ``rounds``
    synchronous relaxations ``graphstats.shortest_paths`` runs; each
    round is a bounded (src, v, min dist) table, never an all-paths
    recursion."""
    chain = f"""{_KG_GRAPH_CTES},
        we AS MATERIALIZED (
            SELECT u, v, CAST((u + v) % 5 + 1 AS BIGINT) AS w FROM adj
        ),
        d0 AS (
            SELECT src, src AS v, CAST(0 AS BIGINT) AS dist
            FROM (SELECT unnest(generate_series(0, {n_seeds - 1})) AS src)
        )"""
    for i in range(1, rounds + 1):
        chain += f""",
        d{i} AS (
            SELECT src, v, min(dist) AS dist FROM (
                SELECT src, v, dist FROM d{i - 1}
                UNION ALL
                SELECT p.src, e.v, p.dist + e.w AS dist
                FROM d{i - 1} p JOIN we e ON e.u = p.v
            ) GROUP BY src, v
        )"""
    return chain + f"""
        SELECT src, v, CAST(dist AS BIGINT) AS dist FROM d{rounds}
    """


def _k_core_chain_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peel over the bipartite lineitem order-part
    graph: ``rounds`` iterations of degree -> keep -> edge filter (the
    same round structure ``graphstats.k_core`` runs; rounds past the
    fixpoint are no-ops), then the final degree>=k cut."""
    chain = """
        WITH e0 AS (
          SELECT DISTINCT least(h, t) AS a, greatest(h, t) AS b FROM (
            SELECT l_orderkey * 2 AS h, l_partkey * 2 + 1 AS t FROM lineitem
          ) WHERE h <> t
        ),
        adj0 AS MATERIALIZED (
          SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0
        )"""
    for i in range(1, rounds + 1):
        chain += f""",
        d{i} AS (SELECT u, count(*) AS d FROM adj{i - 1} GROUP BY u),
        k{i} AS (SELECT u FROM d{i} WHERE d >= {k}),
        adj{i} AS MATERIALIZED (
          SELECT e.u, e.v FROM adj{i - 1} e
          JOIN k{i} x ON e.u = x.u JOIN k{i} y ON e.v = y.u
        )"""
    chain += f"""
        SELECT u AS e, CAST(count(*) AS BIGINT) AS degree
        FROM adj{rounds} GROUP BY u HAVING count(*) >= {k}"""
    return chain


def _label_prop_chain_sql(n_iter: int = 4) -> str:
    """Unrolled synchronous label propagation CTE chain (to ``l{n}``) —
    the same rounds ``graphstats.label_propagation`` runs: per round,
    count neighbor labels and take the most frequent with ties to the
    smallest (QUALIFY row_number == Spark's max(struct(cnt, -label)))."""
    chain = _KG_GRAPH_CTES + """,
        l0 AS MATERIALIZED (SELECT DISTINCT u AS e, u AS label FROM adj)"""
    for i in range(1, n_iter + 1):
        chain += f""",
        c{i} AS MATERIALIZED (
            SELECT a.u, p.label, count(*) AS cnt
            FROM adj a JOIN l{i - 1} p ON a.v = p.e
            GROUP BY a.u, p.label
        ),
        l{i} AS MATERIALIZED (
            SELECT u AS e, label FROM c{i}
            QUALIFY row_number() OVER (
                PARTITION BY u ORDER BY cnt DESC, label ASC
            ) = 1
        )"""
    return chain


def _label_prop_sql(n_iter: int = 4) -> str:
    return (
        _label_prop_chain_sql(n_iter) + f"\n        SELECT e, label FROM l{n_iter}"
    )


def _modularity_sql(n_iter: int = 4) -> str:
    """Newman modularity breakdown of the LPA-``n_iter`` communities —
    same edge tagging, subgraph degrees, and round(…, 9) contribution
    formula as ``graphstats.community_modularity``."""
    return (
        _label_prop_chain_sql(n_iter)
        + f""",
        tag AS MATERIALIZED (
            SELECT u.a, u.b, pa.label AS la, pb.label AS lb
            FROM und u
            JOIN l{n_iter} pa ON u.a = pa.e
            JOIN l{n_iter} pb ON u.b = pb.e
        ),
        mm AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS m FROM tag),
        intra AS MATERIALIZED (
            SELECT la AS label, CAST(count(*) AS BIGINT) AS intra_edges
            FROM tag WHERE la = lb GROUP BY la
        ),
        deg AS MATERIALIZED (
            SELECT e, label, CAST(count(*) AS BIGINT) AS deg
            FROM (
                SELECT a AS e, la AS label FROM tag
                UNION ALL SELECT b AS e, lb AS label FROM tag
            )
            GROUP BY e, label
        ),
        pl AS MATERIALIZED (
            SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(deg) AS BIGINT) AS deg_sum
            FROM deg GROUP BY label
        )
        SELECT pl.label, pl.n_nodes,
               CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
               pl.deg_sum,
               round(coalesce(i.intra_edges, 0) / mm.m
                     - pow(pl.deg_sum / (2.0 * mm.m), 2), 9) AS q_contrib
        FROM pl LEFT JOIN intra i ON pl.label = i.label CROSS JOIN mm"""
    )


def _walk_chain_sql(num_walks: int, walk_length: int) -> str:
    """Shared unrolled md5-argmin walk chain (CTEs ``s0..s{L}``) — each
    step picks the neighbor minimizing ``md5(start:walk:step:u:v)``
    (then ``v``), exactly the rule ``graphstats.random_walks``
    applies, so every walk sequence is replayed hash-exactly."""
    chain = _KG_GRAPH_CTES + f""",
        s0 AS MATERIALIZED (
            SELECT n.e AS start, w.walk AS walk, n.e AS e
            FROM (SELECT DISTINCT u AS e FROM adj) n
            CROSS JOIN generate_series(0, {num_walks - 1}) w(walk)
        )"""
    for k in range(1, walk_length + 1):
        chain += f""",
        s{k} AS MATERIALIZED (
            SELECT p.start, p.walk, a.v AS e
            FROM s{k - 1} p JOIN adj a ON p.e = a.u
            QUALIFY row_number() OVER (
                PARTITION BY p.start, p.walk
                ORDER BY md5(concat_ws(':', p.start, p.walk, {k}, a.u, a.v)), a.v
            ) = 1
        )"""
    return chain


def _walk_union_sql(walk_length: int) -> str:
    return "\n        UNION ALL ".join(
        f"SELECT start, walk, CAST({k} AS BIGINT) AS step, e FROM s{k}"
        for k in range(walk_length + 1)
    )


def _node2vec_chain_sql(
    num_walks: int = 2, walk_length: int = 4, p: float = 4.0, q: float = 0.25
) -> str:
    """Unrolled node2vec biased-walk CTE chain (``n0..n{L}``) — each
    step replays the hash-exponential argmin: uniform from the md5's
    first 15 hex digits (``('0x' || hex)::UBIGINT::DOUBLE`` here ==
    Spark's ``conv(hex, 16, 10)::double``, identical IEEE values), key
    = ``round(-ln(u)/weight, 12)``, weight by return/adjacent/outward
    class. State CTEs carry (start, walk, prev, e)."""
    inv_p, inv_q = repr(1.0 / p), repr(1.0 / q)
    chain = _KG_GRAPH_CTES + f""",
        n0 AS MATERIALIZED (
            SELECT n.e AS start, w.walk AS walk,
                   CAST(-1 AS BIGINT) AS prev, n.e AS e
            FROM (SELECT DISTINCT u AS e FROM adj) n
            CROSS JOIN (SELECT CAST(range AS BIGINT) AS walk
                        FROM range({num_walks})) w
        )"""
    for k in range(1, walk_length + 1):
        chain += f""",
        n{k} AS MATERIALIZED (
            SELECT s.start, s.walk, s.e AS prev, c.v AS e
            FROM n{k - 1} s
            JOIN adj c ON s.e = c.u
            LEFT JOIN adj x ON x.u = s.prev AND x.v = c.v
            QUALIFY row_number() OVER (
                PARTITION BY s.start, s.walk
                ORDER BY round(
                    -ln((('0x' || substr(md5(concat_ws(':', s.start, s.walk,
                            {k}, s.e, c.v)), 1, 15))::UBIGINT::DOUBLE + 1.0)
                        / 1152921504606846976.0)
                    / (CASE WHEN c.v = s.prev THEN {inv_p}
                            WHEN x.u IS NOT NULL THEN 1.0
                            ELSE {inv_q} END), 12),
                    c.v
            ) = 1
        )"""
    return chain


def _node2vec_union_sql(walk_length: int) -> str:
    return "\n        UNION ALL ".join(
        f"SELECT start, walk, CAST({k} AS BIGINT) AS step, e FROM n{k}"
        for k in range(walk_length + 1)
    )


def _node2vec_sql(
    num_walks: int = 2, walk_length: int = 4, p: float = 4.0, q: float = 0.25
) -> str:
    return (
        _node2vec_chain_sql(num_walks, walk_length, p, q)
        + "\n        "
        + _node2vec_union_sql(walk_length)
    )


def _node2vec_pairs_sql(
    num_walks: int = 2, walk_length: int = 4, p: float = 4.0,
    q: float = 0.25, window: int = 2,
) -> str:
    """Skip-gram pair counts over the SAME replayed node2vec walks:
    band self-join on the walk key, |i − j| <= window."""
    return (
        _node2vec_chain_sql(num_walks, walk_length, p, q)
        + f""",
        w AS MATERIALIZED (
            {_node2vec_union_sql(walk_length)}
        )
        SELECT a.e AS center, b.e AS context,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM w a JOIN w b ON a.start = b.start AND a.walk = b.walk
        WHERE a.step <> b.step AND abs(a.step - b.step) <= {window}
        GROUP BY a.e, b.e"""
    )


def _random_walks_sql(num_walks: int = 2, walk_length: int = 4) -> str:
    return (
        _walk_chain_sql(num_walks, walk_length)
        + "\n        "
        + _walk_union_sql(walk_length)
    )


def _skipgram_sql(num_walks: int = 2, walk_length: int = 4, window: int = 2) -> str:
    """Skip-gram pair counts over the SAME replayed walk corpus: band
    self-join on the walk key with ``|i - j| <= window``."""
    return (
        _walk_chain_sql(num_walks, walk_length)
        + f""",
        w AS MATERIALIZED (
            {_walk_union_sql(walk_length)}
        )
        SELECT a.e AS center, b.e AS context,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM w a JOIN w b ON a.start = b.start AND a.walk = b.walk
        WHERE a.step <> b.step AND abs(a.step - b.step) <= {window}
        GROUP BY a.e, b.e"""
    )


def _adamic_adar_sql(k: int = 20) -> str:
    """Adamic-Adar top-k predicted links: wedge self-join on the middle
    node, existing edges excluded, ``round(sum(1/ln(deg)), 6)`` — the
    same rounding and (score desc, x, y) tie-break as
    ``graphstats.adamic_adar_candidates``. The fixture graph has no
    node near the engine's max_degree hub cap, so no cap clause."""
    return (
        _KG_GRAPH_CTES
        + f""",
        deg AS MATERIALIZED (
            SELECT u AS z, CAST(count(*) AS DOUBLE) AS dz FROM adj GROUP BY u
        ),
        wed AS MATERIALIZED (
            SELECT a1.u AS z, a1.v AS x, a2.v AS y
            FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
        )
        SELECT w.x, w.y, round(sum(1.0 / ln(d.dz)), 6) AS score
        FROM wed w JOIN deg d ON w.z = d.z
        WHERE NOT EXISTS (
            SELECT 1 FROM und e WHERE e.a = w.x AND e.b = w.y
        )
        GROUP BY w.x, w.y
        ORDER BY score DESC, w.x, w.y
        LIMIT {k}"""
    )


def _pagerank_weighted_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """Unrolled WEIGHTED power method: edge weight = distinct-predicate
    count per (h, t) pair, contribution = rank · w / out-strength —
    the same update ``graphstats.pagerank_weighted`` runs, same
    per-iteration round(…, 9)."""
    chain = (
        _KG_GRAPH_CTES
        + """,
        edges AS MATERIALIZED (
            SELECT h AS src, t AS dst, CAST(count(*) AS DOUBLE) AS w
            FROM tri WHERE h <> t GROUP BY h, t
        ),
        nodes AS MATERIALIZED (SELECT src AS e FROM edges UNION SELECT dst FROM edges),
        outs AS MATERIALIZED (SELECT src, sum(w) AS sw FROM edges GROUP BY src),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        r0 AS MATERIALIZED (SELECT e, round(1.0 / nn.n, 9) AS "rank" FROM nodes, nn)"""
    )
    for i in range(1, n_iter + 1):
        chain += f""",
        r{i} AS MATERIALIZED (
            SELECT nodes.e,
                   round((1.0 - {damping}) / nn.n
                         + {damping} * (coalesce(c.contrib, 0.0) + dg.dang / nn.n),
                         9) AS "rank"
            FROM nodes
            CROSS JOIN nn
            CROSS JOIN (
                SELECT coalesce(sum(p."rank"), 0.0) AS dang
                FROM r{i - 1} p LEFT JOIN outs o ON p.e = o.src
                WHERE o.src IS NULL
            ) dg
            LEFT JOIN (
                SELECT ed.dst AS e, sum(p."rank" * ed.w / o.sw) AS contrib
                FROM edges ed
                JOIN r{i - 1} p ON ed.src = p.e
                JOIN outs o ON ed.src = o.src
                GROUP BY ed.dst
            ) c ON nodes.e = c.e
        )"""
    return chain + f'\n        SELECT e, "rank" FROM r{n_iter}'


def _hits_sql(n_iter: int = 5) -> str:
    """Unrolled HITS mutual power method — the same L1-normalized
    half-steps ``graphstats.hits`` runs, with the same per-half-step
    round(…, 9) that re-synchronizes the engines' float-sum ulp noise
    (see the pagerank oracle's docstring). Each ``a{{i}}``/``h{{i}}``
    is MATERIALIZED: referenced by the next half-step's join AND by its
    own normalizer subquery."""
    chain = (
        _KG_GRAPH_CTES
        + """,
        edges AS MATERIALIZED (SELECT DISTINCT h AS src, t AS dst FROM tri WHERE h <> t),
        nodes AS MATERIALIZED (SELECT src AS e FROM edges UNION SELECT dst FROM edges),
        h0 AS MATERIALIZED (
            SELECT e, round(1.0 / (SELECT count(*) FROM nodes), 9) AS hub FROM nodes
        )"""
    )
    for i in range(1, n_iter + 1):
        chain += f""",
        ar{i} AS MATERIALIZED (
            SELECT ed.dst AS e, sum(p.hub) AS s
            FROM edges ed JOIN h{i - 1} p ON ed.src = p.e
            GROUP BY ed.dst
        ),
        a{i} AS MATERIALIZED (
            SELECT nodes.e,
                   round(coalesce(c.s, 0.0) / (SELECT sum(s) FROM ar{i}), 9) AS auth
            FROM nodes LEFT JOIN ar{i} c ON nodes.e = c.e
        ),
        hr{i} AS MATERIALIZED (
            SELECT ed.src AS e, sum(p.auth) AS s
            FROM edges ed JOIN a{i} p ON ed.dst = p.e
            GROUP BY ed.src
        ),
        h{i} AS MATERIALIZED (
            SELECT nodes.e,
                   round(coalesce(c.s, 0.0) / (SELECT sum(s) FROM hr{i}), 9) AS hub
            FROM nodes LEFT JOIN hr{i} c ON nodes.e = c.e
        )"""
    return (
        chain
        + f"""
        SELECT h.e, h.hub, a.auth
        FROM h{n_iter} h JOIN a{n_iter} a ON h.e = a.e"""
    )


def _ppr_sql(
    n_iter: int = 5, damping: float = 0.85, seeds: tuple = (0, 1, 2, 3, 4)
) -> str:
    """Unrolled personalized PageRank: teleport vector uniform over the
    seed set (seeds outside the graph ignored), dangling mass
    redistributed along the teleport vector, per-iteration round(…, 9)
    — the same update ``graphstats.personalized_pagerank`` runs."""
    vals = ", ".join(f"({s})" for s in seeds)
    chain = _KG_GRAPH_CTES + f""",
        edges AS MATERIALIZED (
            SELECT DISTINCT h AS src, t AS dst FROM tri WHERE h <> t
        ),
        nodes AS MATERIALIZED (SELECT src AS e FROM edges UNION SELECT dst FROM edges),
        outdeg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY src
        ),
        sd AS MATERIALIZED (
            SELECT DISTINCT CAST(seed AS BIGINT) AS e FROM (VALUES {vals}) s(seed)
            WHERE seed IN (SELECT e FROM nodes)
        ),
        ns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS ns FROM sd),
        base AS MATERIALIZED (
            SELECT n.e,
                   round(CASE WHEN sd.e IS NOT NULL THEN 1.0 / ns.ns ELSE 0.0 END,
                         9) AS b
            FROM nodes n CROSS JOIN ns LEFT JOIN sd ON n.e = sd.e
        ),
        r0 AS MATERIALIZED (SELECT e, b AS "rank" FROM base)"""
    for i in range(1, n_iter + 1):
        chain += f""",
        r{i} AS MATERIALIZED (
            SELECT base.e,
                   round((1.0 - {damping}) * base.b
                         + {damping} * (coalesce(c.contrib, 0.0) + dg.dang * base.b),
                         9) AS "rank"
            FROM base
            CROSS JOIN (
                SELECT coalesce(sum(p."rank"), 0.0) AS dang
                FROM r{i - 1} p LEFT JOIN outdeg o ON p.e = o.src
                WHERE o.src IS NULL
            ) dg
            LEFT JOIN (
                SELECT ed.dst AS e, sum(p."rank" / o.od) AS contrib
                FROM edges ed
                JOIN r{i - 1} p ON ed.src = p.e
                JOIN outdeg o ON ed.src = o.src
                GROUP BY ed.dst
            ) c ON base.e = c.e
        )"""
    return chain + f'\n        SELECT e, "rank" FROM r{n_iter}'


# L2 variant: same rank protocol, Euclidean scoring — built from the L1
# CTEs by swapping the aggregator (sum|abs| -> sqrt(sum(square))) so the
# two texts cannot drift apart structurally
_RANK_CTES_L2 = _RANK_CTES.replace(
    "sum(abs(ce.val + re.val - te.val))",
    "round(sqrt(sum(power(ce.val + re.val - te.val, 2))), 6)",
).replace(
    "sum(abs(he.val + re.val - ce.val))",
    "round(sqrt(sum(power(he.val + re.val - ce.val, 2))), 6)",
)

# DistMult rank protocol: bilinear-diagonal product sums (negated),
# rounded to 6 on both engines — f32×f32×f32 product sums are
# accumulation-order dependent in the last ulp, same rationale as L2.
_RANK_CTES_DISTMULT = _RANK_CTES.replace(
    "sum(abs(ce.val + re.val - te.val))",
    "round(-sum(ce.val * re.val * te.val), 6)",
).replace(
    "sum(abs(he.val + re.val - ce.val))",
    "round(-sum(he.val * re.val * ce.val), 6)",
)

# ComplEx / RotatE rank protocols: the hs/tsc candidate-scoring CTEs
# need the imaginary-part (and rotation) tables, so they are rebuilt via
# a shared scaffold rather than string surgery on _RANK_CTES; the
# head_rank/tail_rank/ranks machinery is byte-identical to _RANK_CTES.
# Scores round to 6 on both engines (product sums, L2 rationale).


def _rank_protocol_ctes(extra_tables: str, hs_body: str, tsc_body: str) -> str:
    """Raw+filtered rank scaffold with pluggable per-kernel candidate
    scoring: ``hs_body`` scores every entity in the HEAD role of each
    test triple (alias the candidate id ``cand``), ``tsc_body`` the
    TAIL role. Everything downstream (true-score lookup, strict-<
    counts, filtered correction via the known-triple left join) is the
    shared protocol text."""
    return f"""
  test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
  known AS ({_KNOWN}),
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  enti AS (SELECT * FROM read_parquet('{OKE}/entim_long.parquet')),
  {extra_tables}
  hs AS ({hs_body}),
  ts_ AS (SELECT h, t, r, score FROM hs WHERE cand = h),
  head_rank AS (
    SELECT hs.h, hs.t, hs.r,
      1 + count(*) FILTER (WHERE hs.score < ts_.score) AS rank_head_raw,
      1 + count(*) FILTER (WHERE hs.score < ts_.score AND k.h IS NULL) AS rank_head_filt
    FROM hs
    JOIN ts_ ON hs.h = ts_.h AND hs.t = ts_.t AND hs.r = ts_.r
    LEFT JOIN known k ON k.h = hs.cand AND k.t = hs.t AND k.r = hs.r AND k.h <> hs.h
    GROUP BY hs.h, hs.t, hs.r
  ),
  tsc AS ({tsc_body}),
  tts AS (SELECT h, t, r, score FROM tsc WHERE cand = t),
  tail_rank AS (
    SELECT tsc.h, tsc.t, tsc.r,
      1 + count(*) FILTER (WHERE tsc.score < tts.score) AS rank_tail_raw,
      1 + count(*) FILTER (WHERE tsc.score < tts.score AND k.h IS NULL) AS rank_tail_filt
    FROM tsc
    JOIN tts ON tsc.h = tts.h AND tsc.t = tts.t AND tsc.r = tts.r
    LEFT JOIN known k ON k.t = tsc.cand AND k.h = tsc.h AND k.r = tsc.r AND k.t <> tsc.t
    GROUP BY tsc.h, tsc.t, tsc.r
  ),
  ranks AS (
    SELECT head_rank.h, head_rank.t, head_rank.r,
           rank_head_raw, rank_head_filt, rank_tail_raw, rank_tail_filt
    FROM head_rank
    JOIN tail_rank ON head_rank.h = tail_rank.h AND head_rank.t = tail_rank.t
                  AND head_rank.r = tail_rank.r
  )
"""


_RANK_CTES_COMPLEX = _rank_protocol_ctes(
    extra_tables=f"""rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  reli AS (SELECT * FROM read_parquet('{OKE}/relim_long.parquet')),""",
    hs_body="""
    SELECT tt.h, tt.t, tt.r, cr.id AS cand,
           round(-sum(
               (cr.val * rr.val - ci.val * ri.val) * tr.val
             + (cr.val * ri.val + ci.val * rr.val) * ti.val
           ), 6) AS score
    FROM test tt
    JOIN rel rr ON rr.id = tt.r
    JOIN reli ri ON ri.id = tt.r AND ri.k = rr.k
    JOIN ent tr ON tr.id = tt.t AND tr.k = rr.k
    JOIN enti ti ON ti.id = tt.t AND ti.k = rr.k
    JOIN ent cr ON cr.k = rr.k
    JOIN enti ci ON ci.id = cr.id AND ci.k = rr.k
    GROUP BY tt.h, tt.t, tt.r, cr.id
  """,
    tsc_body="""
    SELECT tt.h, tt.t, tt.r, cr.id AS cand,
           round(-sum(
               (hr.val * rr.val - hi.val * ri.val) * cr.val
             + (hr.val * ri.val + hi.val * rr.val) * ci.val
           ), 6) AS score
    FROM test tt
    JOIN rel rr ON rr.id = tt.r
    JOIN reli ri ON ri.id = tt.r AND ri.k = rr.k
    JOIN ent hr ON hr.id = tt.h AND hr.k = rr.k
    JOIN enti hi ON hi.id = tt.h AND hi.k = rr.k
    JOIN ent cr ON cr.k = rr.k
    JOIN enti ci ON ci.id = cr.id AND ci.k = rr.k
    GROUP BY tt.h, tt.t, tt.r, cr.id
  """,
)

_RANK_CTES_ROTATE = _rank_protocol_ctes(
    extra_tables=f"""rotr AS (SELECT * FROM read_parquet('{OKE}/rotre_long.parquet')),
  roti AS (SELECT * FROM read_parquet('{OKE}/rotim_long.parquet')),""",
    hs_body="""
    SELECT tt.h, tt.t, tt.r, cr.id AS cand,
           round(sum(sqrt(
               pow(cr.val * rr.val - ci.val * ri.val - tr.val, 2)
             + pow(cr.val * ri.val + ci.val * rr.val - ti.val, 2)
           )), 6) AS score
    FROM test tt
    JOIN rotr rr ON rr.id = tt.r
    JOIN roti ri ON ri.id = tt.r AND ri.k = rr.k
    JOIN ent tr ON tr.id = tt.t AND tr.k = rr.k
    JOIN enti ti ON ti.id = tt.t AND ti.k = rr.k
    JOIN ent cr ON cr.k = rr.k
    JOIN enti ci ON ci.id = cr.id AND ci.k = rr.k
    GROUP BY tt.h, tt.t, tt.r, cr.id
  """,
    tsc_body="""
    SELECT tt.h, tt.t, tt.r, cr.id AS cand,
           round(sum(sqrt(
               pow(hr.val * rr.val - hi.val * ri.val - cr.val, 2)
             + pow(hr.val * ri.val + hi.val * rr.val - ci.val, 2)
           )), 6) AS score
    FROM test tt
    JOIN rotr rr ON rr.id = tt.r
    JOIN roti ri ON ri.id = tt.r AND ri.k = rr.k
    JOIN ent hr ON hr.id = tt.h AND hr.k = rr.k
    JOIN enti hi ON hi.id = tt.h AND hi.k = rr.k
    JOIN ent cr ON cr.k = rr.k
    JOIN enti ci ON ci.id = cr.id AND ci.k = rr.k
    GROUP BY tt.h, tt.t, tt.r, cr.id
  """,
)

_RANK_CTES_ANALOGY = _rank_protocol_ctes(
    extra_tables=f"""rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  reli AS (SELECT * FROM read_parquet('{OKE}/relim_long.parquet')),
  ents AS (SELECT * FROM read_parquet('{OKE}/entsc_long.parquet')),
  rels AS (SELECT * FROM read_parquet('{OKE}/relsc_long.parquet')),""",
    hs_body="""
    SELECT d.h, d.t, d.r, d.cand, round(-(d.s + c.s), 6) AS score
    FROM (
      SELECT tt.h, tt.t, tt.r, cs.id AS cand,
             sum(cs.val * rs.val * ts.val) AS s
      FROM test tt
      JOIN rels rs ON rs.id = tt.r
      JOIN ents ts ON ts.id = tt.t AND ts.k = rs.k
      JOIN ents cs ON cs.k = rs.k
      GROUP BY tt.h, tt.t, tt.r, cs.id
    ) d
    JOIN (
      SELECT tt.h, tt.t, tt.r, cr.id AS cand,
             sum(
               (cr.val * rr.val - ci.val * ri.val) * tr.val
             + (cr.val * ri.val + ci.val * rr.val) * ti.val
             ) AS s
      FROM test tt
      JOIN rel rr ON rr.id = tt.r
      JOIN reli ri ON ri.id = tt.r AND ri.k = rr.k
      JOIN ent tr ON tr.id = tt.t AND tr.k = rr.k
      JOIN enti ti ON ti.id = tt.t AND ti.k = rr.k
      JOIN ent cr ON cr.k = rr.k
      JOIN enti ci ON ci.id = cr.id AND ci.k = rr.k
      GROUP BY tt.h, tt.t, tt.r, cr.id
    ) c ON c.h = d.h AND c.t = d.t AND c.r = d.r AND c.cand = d.cand
  """,
    tsc_body="""
    SELECT d.h, d.t, d.r, d.cand, round(-(d.s + c.s), 6) AS score
    FROM (
      SELECT tt.h, tt.t, tt.r, cs.id AS cand,
             sum(hs2.val * rs.val * cs.val) AS s
      FROM test tt
      JOIN rels rs ON rs.id = tt.r
      JOIN ents hs2 ON hs2.id = tt.h AND hs2.k = rs.k
      JOIN ents cs ON cs.k = rs.k
      GROUP BY tt.h, tt.t, tt.r, cs.id
    ) d
    JOIN (
      SELECT tt.h, tt.t, tt.r, cr.id AS cand,
             sum(
               (hr.val * rr.val - hi.val * ri.val) * cr.val
             + (hr.val * ri.val + hi.val * rr.val) * ci.val
             ) AS s
      FROM test tt
      JOIN rel rr ON rr.id = tt.r
      JOIN reli ri ON ri.id = tt.r AND ri.k = rr.k
      JOIN ent hr ON hr.id = tt.h AND hr.k = rr.k
      JOIN enti hi ON hi.id = tt.h AND hi.k = rr.k
      JOIN ent cr ON cr.k = rr.k
      JOIN enti ci ON ci.id = cr.id AND ci.k = rr.k
      GROUP BY tt.h, tt.t, tt.r, cr.id
    ) c ON c.h = d.h AND c.t = d.t AND c.r = d.r AND c.cand = d.cand
  """,
)

# HolE rank protocol: every candidate scored with the modular-index
# circular-correlation join; the candidate's vector takes the h-role
# (head pass) / the shifted t-role (tail pass)
_RANK_CTES_HOLE = _rank_protocol_ctes(
    extra_tables=f"""rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  dims AS (SELECT max(k) + 1 AS d FROM rel),""",
    hs_body="""
    SELECT tt.h, tt.t, tt.r, ch.id AS cand,
           round(-sum(rr.val * ch.val * te.val), 6) AS score
    FROM test tt
    CROSS JOIN dims
    JOIN rel rr ON rr.id = tt.r
    JOIN ent ch ON TRUE
    JOIN ent te ON te.id = tt.t AND te.k = (ch.k + rr.k) % dims.d
    GROUP BY tt.h, tt.t, tt.r, ch.id
  """,
    tsc_body="""
    SELECT tt.h, tt.t, tt.r, ce.id AS cand,
           round(-sum(rr.val * he.val * ce.val), 6) AS score
    FROM test tt
    CROSS JOIN dims
    JOIN rel rr ON rr.id = tt.r
    JOIN ent he ON he.id = tt.h
    JOIN ent ce ON ce.k = (he.k + rr.k) % dims.d
    GROUP BY tt.h, tt.t, tt.r, ce.id
  """,
)

# TransH rank protocol: hyperplane-projected scoring (e_perp = e − (w·e)w),
# rounded to 6 decimals on BOTH engines — projection dots are f32×f32
# product sums whose last ulp is accumulation-order dependent (same
# rationale as the L2 variant; see link_prediction_ranks docstring).
_RANK_CTES_TRANSH = f"""
  test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
  known AS ({_KNOWN}),
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  norm AS (SELECT * FROM read_parquet('{OKE}/norm_long.parquet')),
  wdot AS (
    SELECT w.id AS r, e.id AS e, sum(w.val * e.val) AS dot
    FROM norm w JOIN ent e ON e.k = w.k
    GROUP BY w.id, e.id
  ),
  hs AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand,
           round(sum(abs((ce.val - dc.dot * w.val) + re.val
                         - (te.val - dt.dot * w.val))), 6) AS score
    FROM test tt
    JOIN norm w ON w.id = tt.r
    JOIN rel re ON re.id = tt.r AND re.k = w.k
    JOIN ent te ON te.id = tt.t AND te.k = w.k
    JOIN ent ce ON ce.k = w.k
    JOIN wdot dc ON dc.r = tt.r AND dc.e = ce.id
    JOIN wdot dt ON dt.r = tt.r AND dt.e = tt.t
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  ts_ AS (SELECT h, t, r, score FROM hs WHERE cand = h),
  head_rank AS (
    SELECT hs.h, hs.t, hs.r,
      1 + count(*) FILTER (WHERE hs.score < ts_.score) AS rank_head_raw,
      1 + count(*) FILTER (WHERE hs.score < ts_.score AND k.h IS NULL) AS rank_head_filt
    FROM hs
    JOIN ts_ ON hs.h = ts_.h AND hs.t = ts_.t AND hs.r = ts_.r
    LEFT JOIN known k ON k.h = hs.cand AND k.t = hs.t AND k.r = hs.r AND k.h <> hs.h
    GROUP BY hs.h, hs.t, hs.r
  ),
  tsc AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand,
           round(sum(abs((he.val - dh.dot * w.val) + re.val
                         - (ce.val - dc.dot * w.val))), 6) AS score
    FROM test tt
    JOIN norm w ON w.id = tt.r
    JOIN rel re ON re.id = tt.r AND re.k = w.k
    JOIN ent he ON he.id = tt.h AND he.k = w.k
    JOIN ent ce ON ce.k = w.k
    JOIN wdot dh ON dh.r = tt.r AND dh.e = tt.h
    JOIN wdot dc ON dc.r = tt.r AND dc.e = ce.id
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  tts AS (SELECT h, t, r, score FROM tsc WHERE cand = t),
  tail_rank AS (
    SELECT tsc.h, tsc.t, tsc.r,
      1 + count(*) FILTER (WHERE tsc.score < tts.score) AS rank_tail_raw,
      1 + count(*) FILTER (WHERE tsc.score < tts.score AND k.h IS NULL) AS rank_tail_filt
    FROM tsc
    JOIN tts ON tsc.h = tts.h AND tsc.t = tts.t AND tsc.r = tts.r
    LEFT JOIN known k ON k.t = tsc.cand AND k.h = tsc.h AND k.r = tsc.r AND k.t <> tsc.t
    GROUP BY tsc.h, tsc.t, tsc.r
  ),
  ranks AS (
    SELECT head_rank.h, head_rank.t, head_rank.r,
           rank_head_raw, rank_head_filt, rank_tail_raw, rank_tail_filt
    FROM head_rank
    JOIN tail_rank ON head_rank.h = tail_rank.h AND head_rank.t = tail_rank.t
                  AND head_rank.r = tail_rank.r
  )
"""

# TransR rank protocol: relational matmul — projected vectors per
# (relation, entity) pair come from one proj CTE (mat_long join ent_long,
# grouped by output dim), then TransE on the projections. Rounded to 6
# (product sums). Exercised via the relfilter and blocked TransR queries.
_RANK_CTES_TRANSR = f"""
  test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
  known AS ({_KNOWN}),
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  mat AS (SELECT * FROM read_parquet('{OKE}/mat_long.parquet')),
  proj AS (
    SELECT m.id AS r, e.id AS e, m.i AS k, sum(m.val * e.val) AS v
    FROM mat m JOIN ent e ON e.k = m.j
    GROUP BY m.id, e.id, m.i
  ),
  hs AS (
    SELECT tt.h, tt.t, tt.r, pc.e AS cand,
           round(sum(abs(pc.v + re.val - pt.v)), 6) AS score
    FROM test tt
    JOIN proj pc ON pc.r = tt.r
    JOIN proj pt ON pt.r = tt.r AND pt.e = tt.t AND pt.k = pc.k
    JOIN rel re ON re.id = tt.r AND re.k = pc.k
    GROUP BY tt.h, tt.t, tt.r, pc.e
  ),
  ts_ AS (SELECT h, t, r, score FROM hs WHERE cand = h),
  head_rank AS (
    SELECT hs.h, hs.t, hs.r,
      1 + count(*) FILTER (WHERE hs.score < ts_.score) AS rank_head_raw,
      1 + count(*) FILTER (WHERE hs.score < ts_.score AND k.h IS NULL) AS rank_head_filt
    FROM hs
    JOIN ts_ ON hs.h = ts_.h AND hs.t = ts_.t AND hs.r = ts_.r
    LEFT JOIN known k ON k.h = hs.cand AND k.t = hs.t AND k.r = hs.r AND k.h <> hs.h
    GROUP BY hs.h, hs.t, hs.r
  ),
  tsc AS (
    SELECT tt.h, tt.t, tt.r, pc.e AS cand,
           round(sum(abs(ph.v + re.val - pc.v)), 6) AS score
    FROM test tt
    JOIN proj pc ON pc.r = tt.r
    JOIN proj ph ON ph.r = tt.r AND ph.e = tt.h AND ph.k = pc.k
    JOIN rel re ON re.id = tt.r AND re.k = pc.k
    GROUP BY tt.h, tt.t, tt.r, pc.e
  ),
  tts AS (SELECT h, t, r, score FROM tsc WHERE cand = t),
  tail_rank AS (
    SELECT tsc.h, tsc.t, tsc.r,
      1 + count(*) FILTER (WHERE tsc.score < tts.score) AS rank_tail_raw,
      1 + count(*) FILTER (WHERE tsc.score < tts.score AND k.h IS NULL) AS rank_tail_filt
    FROM tsc
    JOIN tts ON tsc.h = tts.h AND tsc.t = tts.t AND tsc.r = tts.r
    LEFT JOIN known k ON k.t = tsc.cand AND k.h = tsc.h AND k.r = tsc.r AND k.t <> tsc.t
    GROUP BY tsc.h, tsc.t, tsc.r
  ),
  ranks AS (
    SELECT head_rank.h, head_rank.t, head_rank.r,
           rank_head_raw, rank_head_filt, rank_tail_raw, rank_tail_filt
    FROM head_rank
    JOIN tail_rank ON head_rank.h = tail_rank.h AND head_rank.t = tail_rank.t
                  AND head_rank.r = tail_rank.r
  )
"""

# TransD rank protocol: rank-1 dynamic projection e_perp = e + (e_p·e) r_p;
# (e_p·e) depends only on the entity → one edot CTE, reused by both
# directions. Rounded to 6 like TransH (product sums).
_RANK_CTES_TRANSD = f"""
  test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
  known AS ({_KNOWN}),
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  entp AS (SELECT * FROM read_parquet('{OKE}/entp_long.parquet')),
  relp AS (SELECT * FROM read_parquet('{OKE}/relp_long.parquet')),
  edot AS (
    SELECT e.id, sum(p.val * e.val) AS dot
    FROM ent e JOIN entp p ON p.id = e.id AND p.k = e.k
    GROUP BY e.id
  ),
  hs AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand,
           round(sum(abs((ce.val + dc.dot * rp.val) + re.val
                         - (te.val + dt.dot * rp.val))), 6) AS score
    FROM test tt
    JOIN relp rp ON rp.id = tt.r
    JOIN rel re ON re.id = tt.r AND re.k = rp.k
    JOIN ent te ON te.id = tt.t AND te.k = rp.k
    JOIN ent ce ON ce.k = rp.k
    JOIN edot dc ON dc.id = ce.id
    JOIN edot dt ON dt.id = tt.t
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  ts_ AS (SELECT h, t, r, score FROM hs WHERE cand = h),
  head_rank AS (
    SELECT hs.h, hs.t, hs.r,
      1 + count(*) FILTER (WHERE hs.score < ts_.score) AS rank_head_raw,
      1 + count(*) FILTER (WHERE hs.score < ts_.score AND k.h IS NULL) AS rank_head_filt
    FROM hs
    JOIN ts_ ON hs.h = ts_.h AND hs.t = ts_.t AND hs.r = ts_.r
    LEFT JOIN known k ON k.h = hs.cand AND k.t = hs.t AND k.r = hs.r AND k.h <> hs.h
    GROUP BY hs.h, hs.t, hs.r
  ),
  tsc AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand,
           round(sum(abs((he.val + dh.dot * rp.val) + re.val
                         - (ce.val + dc.dot * rp.val))), 6) AS score
    FROM test tt
    JOIN relp rp ON rp.id = tt.r
    JOIN rel re ON re.id = tt.r AND re.k = rp.k
    JOIN ent he ON he.id = tt.h AND he.k = rp.k
    JOIN ent ce ON ce.k = rp.k
    JOIN edot dh ON dh.id = tt.h
    JOIN edot dc ON dc.id = ce.id
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  tts AS (SELECT h, t, r, score FROM tsc WHERE cand = t),
  tail_rank AS (
    SELECT tsc.h, tsc.t, tsc.r,
      1 + count(*) FILTER (WHERE tsc.score < tts.score) AS rank_tail_raw,
      1 + count(*) FILTER (WHERE tsc.score < tts.score AND k.h IS NULL) AS rank_tail_filt
    FROM tsc
    JOIN tts ON tsc.h = tts.h AND tsc.t = tts.t AND tsc.r = tts.r
    LEFT JOIN known k ON k.t = tsc.cand AND k.h = tsc.h AND k.r = tsc.r AND k.t <> tsc.t
    GROUP BY tsc.h, tsc.t, tsc.r
  ),
  ranks AS (
    SELECT head_rank.h, head_rank.t, head_rank.r,
           rank_head_raw, rank_head_filt, rank_tail_raw, rank_tail_filt
    FROM head_rank
    JOIN tail_rank ON head_rank.h = tail_rank.h AND head_rank.t = tail_rank.t
                  AND head_rank.r = tail_rank.r
  )
"""

_CAT_CTE = f"""
  cat AS (
    SELECT tphx.r,
           CASE WHEN tphx.tph < 1.5 AND hptx.hpt < 1.5 THEN '1-1'
                WHEN tphx.tph >= 1.5 AND hptx.hpt < 1.5 THEN '1-N'
                WHEN tphx.tph < 1.5 AND hptx.hpt >= 1.5 THEN 'N-1'
                ELSE 'N-N' END AS category
    FROM (SELECT r, avg(n) AS tph FROM (
            SELECT r, h, count(DISTINCT t) AS n
            FROM read_parquet('{OKE}/train2id.parquet') GROUP BY r, h)
          GROUP BY r) tphx
    JOIN (SELECT r, avg(n) AS hpt FROM (
            SELECT r, t, count(DISTINCT h) AS n
            FROM read_parquet('{OKE}/train2id.parquet') GROUP BY r, t)
          GROUP BY r) hptx ON tphx.r = hptx.r
  )
"""

# type-constrained variant: candidate sets restricted to the relation's
# known domain (heads) / range (tails) across all splits
_RANK_CTES_CONSTRAINED = f"""
  test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
  known AS ({_KNOWN}),
  dom AS (SELECT DISTINCT r, h AS e FROM known),
  rng AS (SELECT DISTINCT r, t AS e FROM known),
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  hs AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand, sum(abs(ce.val + re.val - te.val)) AS score
    FROM test tt
    JOIN rel re ON re.id = tt.r
    JOIN ent te ON te.id = tt.t AND te.k = re.k
    JOIN ent ce ON ce.k = re.k
    JOIN dom ON dom.r = tt.r AND dom.e = ce.id
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  ts_ AS (SELECT h, t, r, score FROM hs WHERE cand = h),
  head_rank AS (
    SELECT hs.h, hs.t, hs.r,
      1 + count(*) FILTER (WHERE hs.score < ts_.score) AS rank_head_raw,
      1 + count(*) FILTER (WHERE hs.score < ts_.score AND k.h IS NULL) AS rank_head_filt
    FROM hs
    JOIN ts_ ON hs.h = ts_.h AND hs.t = ts_.t AND hs.r = ts_.r
    LEFT JOIN known k ON k.h = hs.cand AND k.t = hs.t AND k.r = hs.r AND k.h <> hs.h
    GROUP BY hs.h, hs.t, hs.r
  ),
  tsc AS (
    SELECT tt.h, tt.t, tt.r, ce.id AS cand, sum(abs(he.val + re.val - ce.val)) AS score
    FROM test tt
    JOIN rel re ON re.id = tt.r
    JOIN ent he ON he.id = tt.h AND he.k = re.k
    JOIN ent ce ON ce.k = re.k
    JOIN rng ON rng.r = tt.r AND rng.e = ce.id
    GROUP BY tt.h, tt.t, tt.r, ce.id
  ),
  tts AS (SELECT h, t, r, score FROM tsc WHERE cand = t),
  tail_rank AS (
    SELECT tsc.h, tsc.t, tsc.r,
      1 + count(*) FILTER (WHERE tsc.score < tts.score) AS rank_tail_raw,
      1 + count(*) FILTER (WHERE tsc.score < tts.score AND k.h IS NULL) AS rank_tail_filt
    FROM tsc
    JOIN tts ON tsc.h = tts.h AND tsc.t = tts.t AND tsc.r = tts.r
    LEFT JOIN known k ON k.t = tsc.cand AND k.h = tsc.h AND k.r = tsc.r AND k.t <> tsc.t
    GROUP BY tsc.h, tsc.t, tsc.r
  ),
  ranks AS (
    SELECT head_rank.h, head_rank.t, head_rank.r,
           rank_head_raw, rank_head_filt, rank_tail_raw, rank_tail_filt
    FROM head_rank
    JOIN tail_rank ON head_rank.h = tail_rank.h AND head_rank.t = tail_rank.t
                  AND head_rank.r = tail_rank.r
  )
"""


_K_BASE = f"""
  test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet'))
"""

_SQL_TRANSE = f"""
    WITH {_K_BASE}
    SELECT tt.h, tt.t, tt.r,
           round(sum(abs(eh.val + er.val - et.val)), 9) AS score
    FROM test tt
    JOIN rel er ON er.id = tt.r
    JOIN ent eh ON eh.id = tt.h AND eh.k = er.k
    JOIN ent et ON et.id = tt.t AND et.k = er.k
    GROUP BY tt.h, tt.t, tt.r
"""

# DistMult: bilinear-diagonal <h, r, t>, negated to the engine's shared
# lower-is-better convention (kernels.distmult)
_SQL_DISTMULT = f"""
    WITH {_K_BASE}
    SELECT tt.h, tt.t, tt.r,
           round(-sum(eh.val * er.val * et.val), 9) AS score
    FROM test tt
    JOIN rel er ON er.id = tt.r
    JOIN ent eh ON eh.id = tt.h AND eh.k = er.k
    JOIN ent et ON et.id = tt.t AND et.k = er.k
    GROUP BY tt.h, tt.t, tt.r
"""

# RotatE: per-dimension complex modulus of h∘r − t; the rotation pair
# (cos θ, sin θ) comes precomputed from the fixture — no trig here
_SQL_ROTATE = f"""
    WITH {_K_BASE},
    enti AS (SELECT * FROM read_parquet('{OKE}/entim_long.parquet')),
    rotr AS (SELECT * FROM read_parquet('{OKE}/rotre_long.parquet')),
    roti AS (SELECT * FROM read_parquet('{OKE}/rotim_long.parquet'))
    SELECT tt.h, tt.t, tt.r,
           round(sum(sqrt(
               pow(ehr.val * rr.val - ehi.val * ri.val - etr.val, 2)
             + pow(ehr.val * ri.val + ehi.val * rr.val - eti.val, 2)
           )), 9) AS score
    FROM test tt
    JOIN rotr rr ON rr.id = tt.r
    JOIN roti ri ON ri.id = tt.r AND ri.k = rr.k
    JOIN ent ehr ON ehr.id = tt.h AND ehr.k = rr.k
    JOIN enti ehi ON ehi.id = tt.h AND ehi.k = rr.k
    JOIN ent etr ON etr.id = tt.t AND etr.k = rr.k
    JOIN enti eti ON eti.id = tt.t AND eti.k = rr.k
    GROUP BY tt.h, tt.t, tt.r
"""

# ComplEx: Re(<h, r, conj(t)>) in expanded real arithmetic; real parts
# reuse the ent/rel tables, imaginary parts come from the *_im tables
_SQL_COMPLEX = f"""
    WITH {_K_BASE},
    enti AS (SELECT * FROM read_parquet('{OKE}/entim_long.parquet')),
    reli AS (SELECT * FROM read_parquet('{OKE}/relim_long.parquet'))
    SELECT tt.h, tt.t, tt.r,
           round(-sum(
               (ehr.val * err.val - ehi.val * eri.val) * etr.val
             + (ehr.val * eri.val + ehi.val * err.val) * eti.val
           ), 9) AS score
    FROM test tt
    JOIN rel err ON err.id = tt.r
    JOIN reli eri ON eri.id = tt.r AND eri.k = err.k
    JOIN ent ehr ON ehr.id = tt.h AND ehr.k = err.k
    JOIN enti ehi ON ehi.id = tt.h AND ehi.k = err.k
    JOIN ent etr ON etr.id = tt.t AND etr.k = err.k
    JOIN enti eti ON eti.id = tt.t AND eti.k = err.k
    GROUP BY tt.h, tt.t, tt.r
"""

# SimplE: ½(⟨he_h, v_r, te_t⟩ + ⟨he_t, v_r', te_h⟩), negated; head-role /
# forward vectors reuse the ent/rel tables, tail-role / inverse come from
# the *_tail / *_inv tables
_SQL_SIMPLE = f"""
    WITH {_K_BASE},
    entt AS (SELECT * FROM read_parquet('{OKE}/enttail_long.parquet')),
    reli AS (SELECT * FROM read_parquet('{OKE}/relinv_long.parquet'))
    SELECT tt.h, tt.t, tt.r,
           round(-0.5 * sum(
               ehh.val * er.val * ett.val
             + eth.val * eri.val * eht.val
           ), 9) AS score
    FROM test tt
    JOIN rel er ON er.id = tt.r
    JOIN reli eri ON eri.id = tt.r AND eri.k = er.k
    JOIN ent ehh ON ehh.id = tt.h AND ehh.k = er.k
    JOIN entt eht ON eht.id = tt.h AND eht.k = er.k
    JOIN ent eth ON eth.id = tt.t AND eth.k = er.k
    JOIN entt ett ON ett.id = tt.t AND ett.k = er.k
    GROUP BY tt.h, tt.t, tt.r
"""

# RESCAL: full bilinear h^T M_r t (negated) — a relational double
# contraction over the (id, i, j, val) matrix table
_SQL_RESCAL = f"""
    WITH {_K_BASE},
    mat AS (SELECT * FROM read_parquet('{OKE}/mat_long.parquet'))
    SELECT tt.h, tt.t, tt.r,
           round(-sum(eh.val * m.val * et.val), 9) AS score
    FROM test tt
    JOIN mat m ON m.id = tt.r
    JOIN ent eh ON eh.id = tt.h AND eh.k = m.i
    JOIN ent et ON et.id = tt.t AND et.k = m.j
    GROUP BY tt.h, tt.t, tt.r
"""

# Analogy: DistMult over the scalar block (entsc/relsc tables) plus
# ComplEx over the complex block (ent/rel + *_im tables), one summed
# aggregation — negated
_SQL_ANALOGY = f"""
    WITH {_K_BASE},
    enti AS (SELECT * FROM read_parquet('{OKE}/entim_long.parquet')),
    reli AS (SELECT * FROM read_parquet('{OKE}/relim_long.parquet')),
    ents AS (SELECT * FROM read_parquet('{OKE}/entsc_long.parquet')),
    rels AS (SELECT * FROM read_parquet('{OKE}/relsc_long.parquet')),
    dm AS (
      SELECT tt.h, tt.t, tt.r,
             sum(ehs.val * ers.val * ets.val) AS s
      FROM test tt
      JOIN rels ers ON ers.id = tt.r
      JOIN ents ehs ON ehs.id = tt.h AND ehs.k = ers.k
      JOIN ents ets ON ets.id = tt.t AND ets.k = ers.k
      GROUP BY tt.h, tt.t, tt.r
    ),
    cx AS (
      SELECT tt.h, tt.t, tt.r,
             sum(
               (ehr.val * err.val - ehi.val * eri.val) * etr.val
             + (ehr.val * eri.val + ehi.val * err.val) * eti.val
             ) AS s
      FROM test tt
      JOIN rel err ON err.id = tt.r
      JOIN reli eri ON eri.id = tt.r AND eri.k = err.k
      JOIN ent ehr ON ehr.id = tt.h AND ehr.k = err.k
      JOIN enti ehi ON ehi.id = tt.h AND ehi.k = err.k
      JOIN ent etr ON etr.id = tt.t AND etr.k = err.k
      JOIN enti eti ON eti.id = tt.t AND eti.k = err.k
      GROUP BY tt.h, tt.t, tt.r
    )
    SELECT dm.h, dm.t, dm.r, round(-(dm.s + cx.s), 9) AS score
    FROM dm
    JOIN cx ON cx.h = dm.h AND cx.t = dm.t AND cx.r = dm.r
"""

# HolE: r · (h ⋆ t) with ⋆ = circular correlation, as a modular-index
# three-way join (Σ_{i,k} r_k · h_i · t_(i+k mod d)) — negated; the
# dimension d comes from the data, not a literal
_SQL_HOLE = f"""
    WITH {_K_BASE},
    dims AS (SELECT max(k) + 1 AS d FROM rel)
    SELECT tt.h, tt.t, tt.r,
           round(-sum(er.val * eh.val * et.val), 9) AS score
    FROM test tt
    CROSS JOIN dims
    JOIN rel er ON er.id = tt.r
    JOIN ent eh ON eh.id = tt.h
    JOIN ent et ON et.id = tt.t AND et.k = (eh.k + er.k) % dims.d
    GROUP BY tt.h, tt.t, tt.r
"""

# TransH: project h and t onto the relation hyperplane (unit normal w):
# e_perp = e - (w.e) w, then TransE on the projections
_SQL_TRANSH = f"""
    WITH {_K_BASE},
    norm AS (SELECT * FROM read_parquet('{OKE}/norm_long.parquet')),
    d AS (
      SELECT tt.h, tt.t, tt.r,
             sum(w.val * eh.val) AS dwh, sum(w.val * et.val) AS dwt
      FROM test tt
      JOIN norm w ON w.id = tt.r
      JOIN ent eh ON eh.id = tt.h AND eh.k = w.k
      JOIN ent et ON et.id = tt.t AND et.k = w.k
      GROUP BY tt.h, tt.t, tt.r
    )
    SELECT tt.h, tt.t, tt.r,
           round(sum(abs((eh.val - d.dwh * w.val) + er.val
                         - (et.val - d.dwt * w.val))), 9) AS score
    FROM test tt
    JOIN d ON d.h = tt.h AND d.t = tt.t AND d.r = tt.r
    JOIN norm w ON w.id = tt.r
    JOIN ent eh ON eh.id = tt.h AND eh.k = w.k
    JOIN ent et ON et.id = tt.t AND et.k = w.k
    JOIN rel er ON er.id = tt.r AND er.k = w.k
    GROUP BY tt.h, tt.t, tt.r
"""

# TransR: map entities into relation space with M_r (relational einsum)
_SQL_TRANSR = f"""
    WITH {_K_BASE},
    mat AS (SELECT * FROM read_parquet('{OKE}/mat_long.parquet')),
    hr AS (
      SELECT tt.h, tt.t, tt.r, m.i AS k, sum(m.val * eh.val) AS hv
      FROM test tt
      JOIN mat m ON m.id = tt.r
      JOIN ent eh ON eh.id = tt.h AND eh.k = m.j
      GROUP BY tt.h, tt.t, tt.r, m.i
    ),
    tr AS (
      SELECT tt.h, tt.t, tt.r, m.i AS k, sum(m.val * et.val) AS tv
      FROM test tt
      JOIN mat m ON m.id = tt.r
      JOIN ent et ON et.id = tt.t AND et.k = m.j
      GROUP BY tt.h, tt.t, tt.r, m.i
    )
    SELECT hr.h, hr.t, hr.r,
           round(sum(abs(hr.hv + er.val - tr.tv)), 9) AS score
    FROM hr
    JOIN tr ON tr.h = hr.h AND tr.t = hr.t AND tr.r = hr.r AND tr.k = hr.k
    JOIN rel er ON er.id = hr.r AND er.k = hr.k
    GROUP BY hr.h, hr.t, hr.r
"""

# TransD: rank-1 dynamic projection e_perp = e + (e_p . e) r_p.
# (e_p . e) depends only on the entity → precompute one dot per entity
# (also keeps the join graph simple enough for the planner).
_SQL_TRANSD = f"""
    WITH {_K_BASE},
    entp AS (SELECT * FROM read_parquet('{OKE}/entp_long.parquet')),
    relp AS (SELECT * FROM read_parquet('{OKE}/relp_long.parquet')),
    edot AS (
      SELECT e.id, sum(p.val * e.val) AS dot
      FROM ent e JOIN entp p ON p.id = e.id AND p.k = e.k
      GROUP BY e.id
    )
    SELECT tt.h, tt.t, tt.r,
           round(sum(abs((eh.val + dh.dot * rp.val) + er.val
                         - (et.val + dt.dot * rp.val))), 9) AS score
    FROM test tt
    JOIN edot dh ON dh.id = tt.h
    JOIN edot dt ON dt.id = tt.t
    JOIN relp rp ON rp.id = tt.r
    JOIN ent eh ON eh.id = tt.h AND eh.k = rp.k
    JOIN ent et ON et.id = tt.t AND et.k = rp.k
    JOIN rel er ON er.id = tt.r AND er.k = rp.k
    GROUP BY tt.h, tt.t, tt.r
"""

_TC_CTES = f"""
  ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
  rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
  sc AS (
    SELECT tcs.h, tcs.t, tcs.r, tcs.y, tcs.split,
           sum(abs(eh.val + er.val - et.val)) AS score
    FROM read_parquet('{OKE}/tc_sets.parquet') tcs
    JOIN rel er ON er.id = tcs.r
    JOIN ent eh ON eh.id = tcs.h AND eh.k = er.k
    JOIN ent et ON et.id = tcs.t AND et.k = er.k
    GROUP BY tcs.h, tcs.t, tcs.r, tcs.y, tcs.split
  ),
  sweep AS (
    SELECT r, h, t, score,
      sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) OVER (
        PARTITION BY r ORDER BY score, h, t) AS cum_pos,
      sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) OVER (
        PARTITION BY r ORDER BY score, h, t) AS cum_neg,
      sum(CASE WHEN y = -1 THEN 1 ELSE 0 END) OVER (PARTITION BY r) AS n_neg
    FROM sc WHERE split = 'valid'
  ),
  th AS (
    SELECT r, score AS threshold FROM (
      SELECT r, score,
             row_number() OVER (
               PARTITION BY r
               ORDER BY (cum_pos + n_neg - cum_neg) DESC, score) AS rn
      FROM sweep) WHERE rn = 1
  )
"""


def _dq_profile_sql(table: str, columns: list[str]) -> str:
    """Single-scan column profile replay: one wide aggregate, unpivoted
    by a driver-generated UNION ALL — same metrics and round(…, 9)
    null_frac as ``quality.profile_columns``."""
    aggs = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for i, c in enumerate(columns):
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nl{i}"
        )
        aggs.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd{i}")
    rows = "\n            UNION ALL ".join(
        f"SELECT '{c}' AS \"column\", n_rows, nl{i} AS n_null,"
        f" round(nl{i} / n_rows, 9) AS null_frac, nd{i} AS n_distinct FROM w"
        for i, c in enumerate(columns)
    )
    return f"""
        WITH w AS MATERIALIZED (SELECT {', '.join(aggs)} FROM {table})
        {rows}"""


_DQ_LINEITEM_SQL = """
    WITH w AS MATERIALIZED (SELECT
      CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
      CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
      CAST(sum(CASE WHEN l_quantity IS NOT NULL
                    AND l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
      CAST(sum(CASE WHEN l_discount IS NOT NULL
                    AND l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
      CAST(sum(CASE WHEN l_returnflag IS NOT NULL
                    AND l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT) AS v4,
      CAST(sum(CASE WHEN l_linestatus IS NOT NULL
                    AND NOT regexp_matches(l_linestatus, '^[OF]$') THEN 1 ELSE 0 END) AS BIGINT) AS v5,
      CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS u0
    FROM lineitem)
    SELECT rule, "column", n_violations, n_violations = 0 AS passed FROM (
      SELECT 'not_null' AS rule, 'l_orderkey' AS "column", v0 AS n_violations FROM w
      UNION ALL SELECT 'not_null', 'l_quantity', v1 FROM w
      UNION ALL SELECT 'between', 'l_quantity', v2 FROM w
      UNION ALL SELECT 'between', 'l_discount', v3 FROM w
      UNION ALL SELECT 'accepted_values', 'l_returnflag', v4 FROM w
      UNION ALL SELECT 'rlike', 'l_linestatus', v5 FROM w
      UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber', u0 FROM w
    ) ORDER BY rule, "column" """


def _dq_ri_sql(pairs: list[tuple[str, str, str, str, str]]) -> str:
    """FK orphan replay: NOT EXISTS per constraint (NULL child keys
    count as orphans under '=' semantics, same as the anti-join)."""
    rows = "\n        UNION ALL ".join(
        f"""SELECT '{name}' AS "constraint",
          (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_child,
          (SELECT CAST(count(*) AS BIGINT) FROM {child} ch
           WHERE NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = ch.{ck})
          ) AS n_orphans"""
        for child, ck, parent, pk, name in pairs
    )
    return f"""
        SELECT "constraint", n_child, n_orphans, n_orphans = 0 AS passed
        FROM ({rows}) ORDER BY "constraint" """


_SCD2_SQL = """
    WITH c AS MATERIALIZED (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    chg AS MATERIALIZED (
      -- a version opens on the first row per key, or whenever the
      -- tracked state null-safely differs from the previous row's
      SELECT user_id, event_type, ts, event_id FROM c
      WHERE rn = 1 OR prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w) IS NULL AS is_current,
           CAST(row_number() OVER w AS BIGINT) AS version
    FROM chg
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""


_REL_PROPS_SQL = (
    _KG_GRAPH_CTES
    + """,
    agg AS MATERIALIZED (
        SELECT p AS r, CAST(count(*) AS BIGINT) AS n_triples,
               CAST(count(DISTINCT h) AS BIGINT) AS n_heads,
               CAST(count(DISTINCT t) AS BIGINT) AS n_tails
        FROM tri GROUP BY p
    ),
    sym AS MATERIALIZED (
        SELECT a.p AS r, CAST(count(*) AS BIGINT) AS n_sym
        FROM tri a
        WHERE EXISTS (
            SELECT 1 FROM tri b
            WHERE b.h = a.t AND b.t = a.h AND b.p = a.p
        )
        GROUP BY a.p
    )
    SELECT agg.r, agg.n_triples, agg.n_heads, agg.n_tails,
           round(agg.n_triples / agg.n_heads, 9) AS tph,
           round(agg.n_triples / agg.n_tails, 9) AS hpt,
           round(coalesce(s.n_sym, 0) / agg.n_triples, 9) AS symmetric_frac
    FROM agg LEFT JOIN sym s ON agg.r = s.r"""
)

_INV_RELS_SQL = (
    _KG_GRAPH_CTES
    + """,
    tot AS MATERIALIZED (
        SELECT p AS r1, CAST(count(*) AS BIGINT) AS n_r1 FROM tri GROUP BY p
    ),
    ov AS MATERIALIZED (
        SELECT a.p AS r1, b.p AS r2, CAST(count(*) AS BIGINT) AS n_overlap
        FROM tri a JOIN tri b ON b.h = a.t AND b.t = a.h AND b.p <> a.p
        GROUP BY a.p, b.p
    )
    SELECT ov.r1, ov.r2, ov.n_overlap,
           round(ov.n_overlap / t.n_r1, 9) AS frac
    FROM ov JOIN tot t ON ov.r1 = t.r1"""
)

_CONTINUOUS_KG_SQL = f"""
    WITH e AS ({_DENSE_E}), r AS ({_DENSE_R}),
    ext AS (SELECT DISTINCT conv_id, turn_idx, subj, pred, obj FROM {_GOLD})
    SELECT DISTINCT es.id AS s, rr.id AS p, eo.id AS o
    FROM ext
    JOIN {_GAZ} gs ON ext.subj = gs.surface
    JOIN {_GAZ} go ON ext.obj = go.surface
    JOIN e es ON gs.canonical = es.name
    JOIN e eo ON go.canonical = eo.name
    JOIN r rr ON ext.pred = rr.name
"""

_NGRAM_PAIRS_CTES = """
    toks AS (
        SELECT doc_id, string_split_regex(__NORM__, '\\s+') AS t FROM documents),
    grams AS (
        SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(t) - 3, 0) + 2),
            i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks),
    sizes AS (SELECT doc_id, len(g) AS n FROM grams),
    ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
    inter AS (
        SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
        FROM ex x JOIN ex y ON x.gram = y.gram AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id),
    pairs AS (
        SELECT a, b,
               CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = a
        JOIN sizes sb ON sb.doc_id = b
        WHERE CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) >= 0.5)"""


# A17 kernel leaderboard: one metric block per oracle-backed kernel's
# rank protocol, unioned with a model tag — the model-selection query a
# KG owner runs before committing to a kernel. Each block is the SAME
# aggregation text as a17_link_prediction_metrics over that kernel's
# rank CTEs.
_LEADERBOARD_METRICS = """
            both_ AS (
                SELECT rank_head_raw AS raw, rank_head_filt AS filt FROM ranks
                UNION ALL
                SELECT rank_tail_raw AS raw, rank_tail_filt AS filt FROM ranks
            )
            SELECT
              round(avg(raw), 9) AS mr_raw,
              round(avg(1.0/raw), 9) AS mrr_raw,
              round(avg(CASE WHEN raw <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_raw,
              round(avg(CASE WHEN raw <= 3 THEN 1.0 ELSE 0.0 END), 9) AS hits3_raw,
              round(avg(CASE WHEN raw <= 1 THEN 1.0 ELSE 0.0 END), 9) AS hits1_raw,
              round(avg(filt), 9) AS mr_filt,
              round(avg(1.0/filt), 9) AS mrr_filt,
              round(avg(CASE WHEN filt <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_filt,
              round(avg(CASE WHEN filt <= 3 THEN 1.0 ELSE 0.0 END), 9) AS hits3_filt,
              round(avg(CASE WHEN filt <= 1 THEN 1.0 ELSE 0.0 END), 9) AS hits1_filt
            FROM both_
"""

#: (model, score_decimals, rank CTE text) — the leaderboard's kernel set
#: is exactly the kernels whose full rank protocol has a DuckDB oracle
_LEADERBOARD_KERNELS = [
    ("transe", None, _RANK_CTES),
    ("transh", 6, _RANK_CTES_TRANSH),
    ("distmult", 6, _RANK_CTES_DISTMULT),
    ("complex", 6, _RANK_CTES_COMPLEX),
    ("rotate", 6, _RANK_CTES_ROTATE),
    ("analogy", 6, _RANK_CTES_ANALOGY),
    ("hole", 6, _RANK_CTES_HOLE),
]

_LEADERBOARD_SQL = "\nUNION ALL\n".join(
    f"SELECT '{name}' AS model, m.* FROM (WITH {ctes}, {_LEADERBOARD_METRICS}) m"
    for name, _dec, ctes in _LEADERBOARD_KERNELS
)


def oracle_sql() -> dict[str, str]:
    return {
        "b1_turn_ordering": f"""
            SELECT conv_id, turn_idx,
                   row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx, ts, role) AS turn_rank,
                   role, text
            FROM {_TRANS}
        """,
        "b1_conversation_text": f"""
            SELECT conv_id, count(*) AS n_turns,
                   string_agg(text, chr(10) ORDER BY turn_idx, ts, role) AS text
            FROM {_TRANS} GROUP BY conv_id
        """,
        "b2_detect_mentions": f"""
            SELECT conv_id, turn_idx,
                   conv_id || ':' || turn_idx || ':' || start AS mention_id,
                   surface, start, "end", mtype
            FROM read_parquet('{FIX01}/golden_mentions.parquet')
        """,
        "b3_extract_triples": f"""
            SELECT DISTINCT conv_id, turn_idx, subj, pred, obj FROM {_GOLD}
        """,
        "b3_streaming_extract": f"""
            SELECT DISTINCT conv_id, turn_idx, subj, pred, obj FROM {_GOLD}
        """,
        "dedup_simhash_pigeonhole": """
            -- n_close_pairs is the deterministic hamming<=3 pair count of
            -- the (seeded) simhash table on the sf0.01 corpus; n_missed=0
            -- is the pigeonhole guarantee (4 x 16-bit bands)
            SELECT CAST(16 AS BIGINT) AS n_close_pairs, CAST(0 AS BIGINT) AS n_missed
        """,
        "str_windowed_triples": f"""
            WITH tri AS (
                SELECT DISTINCT g.conv_id, g.turn_idx, g.pred, t.ts
                FROM (SELECT DISTINCT conv_id, turn_idx, pred FROM {_GOLD}) g
                JOIN {_TRANS} t
                  ON g.conv_id = t.conv_id AND g.turn_idx = t.turn_idx
            )
            SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS window_start, pred,
                   CAST(count(*) AS BIGINT) AS n_triples
            FROM tri GROUP BY 1, 2
        """,
        "a3_bern_stats": f"""
            WITH t AS (SELECT pred AS r, subj_canon AS h, obj_canon AS t FROM {_GOLD}),
            tph AS (SELECT r, avg(n) AS tph FROM (
                SELECT r, h, count(DISTINCT t) AS n FROM t GROUP BY r, h) GROUP BY r),
            hpt AS (SELECT r, avg(n) AS hpt FROM (
                SELECT r, t, count(DISTINCT h) AS n FROM t GROUP BY r, t) GROUP BY r)
            SELECT tph.r, tph.tph, hpt.hpt FROM tph JOIN hpt ON tph.r = hpt.r
        """,
        "b9_dense_ids": _DENSE_E,
        "a1_dict_roundtrip": _DENSE_E,
        "a1_type_constrain_roundtrip": f"""
            WITH known AS ({_KNOWN})
            SELECT r, 'domain' AS position, h AS e FROM (SELECT DISTINCT r, h FROM known)
            UNION ALL
            SELECT r, 'range', t FROM (SELECT DISTINCT r, t FROM known)
        """,
        "b10_id_triples": f"""
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R})
            SELECT DISTINCT es.id AS s, rr.id AS p, eo.id AS o
            FROM {_GOLD} g
            JOIN e es ON g.subj_canon = es.name
            JOIN e eo ON g.obj_canon = eo.name
            JOIN r rr ON g.pred = rr.name
        """,
        "b5_link_triples": f"""
            -- dictionary-only linking: corrupted alias variants (hyphen
            -- forms, absent from the gazetteer) are NOT linkable here —
            -- they need the canonicalize stage (pipeline path); filter
            -- the golden set the same way for exactness
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R})
            SELECT DISTINCT g.conv_id, g.turn_idx, es.id AS s, rr.id AS p, eo.id AS o
            FROM {_GOLD} g
            JOIN e es ON g.subj_canon = es.name
            JOIN e eo ON g.obj_canon = eo.name
            JOIN r rr ON g.pred = rr.name
            WHERE g.subj IN (SELECT surface FROM {_GAZ})
              AND g.obj IN (SELECT surface FROM {_GAZ})
        """,
        "b8_connected_components": f"""
            WITH RECURSIVE
            edges AS (
                SELECT surface AS a, canonical AS b FROM {_GAZ}
                UNION
                SELECT canonical AS a, surface AS b FROM {_GAZ}
            ),
            walk AS (
                SELECT a AS node, a AS comp FROM edges
                UNION
                SELECT e.a AS node, w.comp FROM walk w JOIN edges e ON w.node = e.b
            )
            SELECT node, min(comp) AS component FROM walk GROUP BY node
        """,
        "b8b_component_sizes": f"""
            WITH RECURSIVE
            edges AS (
                SELECT surface AS a, canonical AS b FROM {_GAZ}
                UNION
                SELECT canonical AS a, surface AS b FROM {_GAZ}
            ),
            walk AS (
                SELECT a AS node, a AS comp FROM edges
                UNION
                SELECT e.a AS node, w.comp FROM walk w JOIN edges e ON w.node = e.b
            ),
            cc AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
            sizes AS (
                SELECT component, CAST(count(*) AS BIGINT) AS component_size
                FROM cc GROUP BY component
            )
            SELECT component_size, CAST(count(*) AS BIGINT) AS n_components
            FROM sizes GROUP BY component_size
        """,
        "a2_triple_dedup": f"""
            SELECT DISTINCT h, t, r FROM (
                SELECT * FROM read_parquet('{OKE}/train2id.parquet')
                UNION ALL SELECT * FROM read_parquet('{OKE}/train2id.parquet'))
        """,
        "a15_link_prediction_ranks": f"""
            WITH {_RANK_CTES}
            SELECT * FROM ranks
        """,
        "a15_ranks_blocked": f"""
            WITH {_RANK_CTES}
            SELECT * FROM ranks
        """,
        "a15_ranks_blocked_transh": f"""
            WITH {_RANK_CTES_TRANSH}
            SELECT * FROM ranks
        """,
        "a15_ranks_blocked_transd": f"""
            WITH {_RANK_CTES_TRANSD}
            SELECT * FROM ranks
        """,
        "a15_ranks_blocked_transr": f"""
            WITH {_RANK_CTES_TRANSR}
            SELECT * FROM ranks
        """,
        "a15_ranks_blocked_from_parquet": f"""
            WITH {_RANK_CTES}
            SELECT * FROM ranks
        """,
        "a15_ranks_relfilter": f"""
            WITH {_RANK_CTES}
            SELECT * FROM ranks
        """,
        "a15_ranks_relfilter_transr": f"""
            WITH {_RANK_CTES_TRANSR}
            SELECT * FROM ranks
        """,
        "a20_checkpoint_scores": _SQL_TRANSE,
        "a12_optimizer_grid": """
            SELECT 'sgd' AS opt_method, TRUE AS improved
            UNION ALL SELECT 'adagrad', TRUE
            UNION ALL SELECT 'adam', TRUE
            UNION ALL SELECT 'adadelta', TRUE
        """,
        "a12c_complex_training": """
            SELECT 'complex' AS model, TRUE AS improved
        """,
        "kg_local_clustering": f"""
            {_KG_GRAPH_CTES},
            t3 AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM und e1
              JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            tv AS (
              SELECT v, count(*) AS n_tri FROM (
                SELECT x AS v FROM t3
                UNION ALL SELECT y FROM t3
                UNION ALL SELECT z FROM t3
              ) GROUP BY v
            ),
            deg AS (SELECT u AS e, CAST(count(*) AS BIGINT) AS degree
                    FROM adj GROUP BY u)
            SELECT deg.e, deg.degree,
                   CAST(COALESCE(tv.n_tri, 0) AS BIGINT) AS n_triangles,
                   CASE WHEN deg.degree >= 2
                        THEN 2.0 * CAST(COALESCE(tv.n_tri, 0) AS DOUBLE)
                             / (CAST(deg.degree AS DOUBLE)
                                * (CAST(deg.degree AS DOUBLE) - 1.0))
                        ELSE 0.0 END AS clustering_coeff
            FROM deg LEFT JOIN tv ON tv.v = deg.e
        """,
        "kg_k_core": _k_core_chain_sql(k=5, rounds=5),
        "kg_shortest_paths": _sssp_chain_sql(rounds=4, n_seeds=5),
        "q6_forecast_revenue": """
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                     AS revenue
            FROM lineitem
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q4_priority_late_orders": """
            SELECT o_orderpriority,
                   CAST(count(*) AS BIGINT) AS order_count
            FROM orders o
            WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        # cat_snapshot_diff reads the SAME two versions back through
        # catalog time travel, so one oracle serves both keys.
        "dq_table_diff": _TABLE_DIFF_SQL,
        "cat_snapshot_diff": _TABLE_DIFF_SQL,
        "docs_training_export": """
            WITH q AS (
              SELECT doc_id FROM documents
              WHERE len(string_split_regex(trim(text), '\\s+')) >= 5
                AND length(text) >= 20
                AND CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE) < 0.2
            ),
            lc AS (
              SELECT doc_id,
                len(regexp_extract_all(lower(text),
                  '\\b(the|and|of|is|was|with)\\b')) AS n_en,
                len(regexp_extract_all(lower(text),
                  '\\b(le|la|les|et|est|une|dans)\\b')) AS n_fr,
                len(regexp_extract_all(lower(text),
                  '\\b(der|die|das|und|ist|mit|ein)\\b')) AS n_de,
                len(regexp_extract_all(lower(text),
                  '\\b(el|los|las|es|una|con|para)\\b')) AS n_es
              FROM documents
            ),
            lang AS (
              SELECT doc_id FROM lc
              WHERE (CASE WHEN n_en >= greatest(n_fr, n_de, n_es, 1) THEN 'en'
                   WHEN n_fr >= greatest(n_de, n_es, 1) THEN 'fr'
                   WHEN n_de >= greatest(n_es, 1) THEN 'de'
                   WHEN n_es >= 1 THEN 'es'
                   ELSE 'und' END) = 'en'
            ),
            kept AS (
              SELECT d.doc_id, d.text FROM documents d
              JOIN q USING (doc_id) JOIN lang USING (doc_id)
            ),
            ded AS (
              SELECT min(doc_id) AS doc_id FROM kept
              GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
            ),
            train AS (
              SELECT d.doc_id, d.text FROM documents d JOIN ded USING (doc_id)
              WHERE ('0x' || substr(md5(CAST('7' || ':' || d.doc_id
                                           AS VARCHAR)), 1, 15))::UBIGINT
                    % 1000 < 900
            ),
            tok AS (
              SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                  AS n_tok
              FROM train WHERE trim(text) <> ''
            ),
            spans AS (
              SELECT doc_id, n_tok,
                sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
                  AS off,
                sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fin
              FROM tok
            )
            SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
                   CAST(greatest(seq_id * 128, off) - off AS BIGINT)
                     AS tok_from,
                   CAST(least((seq_id + 1) * 128, fin) - off AS BIGINT)
                     AS tok_to,
                   CAST(least((seq_id + 1) * 128, fin)
                        - greatest(seq_id * 128, off) AS BIGINT)
                     AS n_tok_in_seq
            FROM spans,
                 unnest(generate_series(CAST(off // 128 AS BIGINT),
                                        CAST((fin - 1) // 128 AS BIGINT)))
                   AS u(seq_id)
        """,
        "txt_build_vocab": """
            SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
                        - 1 AS BIGINT) AS token_id,
                   token, n_occurrences
            FROM (
              SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
              FROM (SELECT unnest(string_split_regex(lower(trim(text)),
                                                     '\\s+')) AS token
                    FROM documents)
              WHERE token <> ''
              GROUP BY token
              ORDER BY n_occurrences DESC, token LIMIT 20)
        """,
        "txt_oov_stats": """
            WITH vocab AS (
              SELECT token FROM (
                SELECT token, count(*) AS c
                FROM (SELECT unnest(string_split_regex(lower(trim(text)),
                                                       '\\s+')) AS token
                      FROM documents)
                WHERE token <> ''
                GROUP BY token ORDER BY c DESC, token LIMIT 20)),
            toks AS (
              SELECT doc_id, token FROM (
                SELECT doc_id,
                       unnest(string_split_regex(lower(trim(text)),
                                                 '\\s+')) AS token
                FROM documents)
              WHERE token <> '')
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_frac
            FROM toks t LEFT JOIN vocab v ON t.token = v.token
            GROUP BY doc_id
        """,
        "docs_assign_splits": """
            SELECT doc_id, CAST(b AS BIGINT) AS bucket,
                   CASE WHEN b < 800 THEN 'train'
                        WHEN b < 900 THEN 'valid'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                ('0x' || substr(md5(CAST('42' || ':' || doc_id AS VARCHAR)),
                                1, 15))::UBIGINT % 1000 AS b
              FROM documents)
        """,
        "ann_quantize": """
            SELECT vec_id,
              CAST(len(embedding) AS BIGINT) AS n_dims,
              qmin, qmax,
              array_to_string(list_transform(embedding, x ->
                CAST(CASE WHEN scale = 0 THEN 0
                     ELSE CAST(round((CAST(x AS DOUBLE) - qmin) / scale)
                               AS INTEGER) END AS VARCHAR)), ',') AS codes,
              CASE WHEN scale = 0 THEN 0.0
                   ELSE list_max(list_transform(embedding, x ->
                     abs(CAST(x AS DOUBLE)
                         - (qmin + round((CAST(x AS DOUBLE) - qmin) / scale)
                            * scale)))) END AS max_abs_err
            FROM (
              SELECT vec_id, embedding,
                CAST(list_min(embedding) AS DOUBLE) AS qmin,
                CAST(list_max(embedding) AS DOUBLE) AS qmax,
                (CAST(list_max(embedding) AS DOUBLE)
                 - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
              FROM embeddings)
        """,
        "ann_quantized_topk": """
            WITH p AS (
              SELECT vec_id, embedding,
                CAST(list_min(embedding) AS DOUBLE) AS qmin,
                (CAST(list_max(embedding) AS DOUBLE)
                 - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
              FROM embeddings),
            e AS (
              SELECT vec_id, list_transform(embedding, x ->
                CASE WHEN scale = 0 THEN qmin
                     ELSE qmin + round((CAST(x AS DOUBLE) - qmin) / scale)
                          * scale END) AS v
              FROM p),
            q AS (
              SELECT vec_id AS query_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id < 8)
            SELECT query_id, neighbor_id, rk FROM (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_cosine_similarity(q.qv, e.v) DESC,
                                e.vec_id) AS rk
              FROM q, e) WHERE rk <= 10
        """,
        "str_sliding_counts": """
            SELECT ws AS window_start, event_type,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM (
              SELECT event_type, ts,
                time_bucket(INTERVAL 10 MINUTE, ts)
                  - k * (INTERVAL 10 MINUTE) AS ws
              FROM events, unnest(generate_series(0, 2)) t(k))
            WHERE ts >= ws AND ts < ws + INTERVAL 30 MINUTE
            GROUP BY ws, event_type
        """,
        "evt_json_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
                     AS sum_value
            FROM events GROUP BY k
        """,
        "evt_interval_join": """
            WITH p AS (
              SELECT event_id,
                CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
                     AS BIGINT) AS pos
              FROM events),
            iv AS (
              SELECT i AS campaign_id,
                CAST(i * 43200 AS BIGINT) AS st,
                CAST(i * 43200 + 10800 AS BIGINT) AS fin
              FROM unnest(generate_series(0, 59)) t(i))
            SELECT event_id, campaign_id, pos
            FROM p JOIN iv ON pos >= st AND pos < fin
        """,
        "cat_tagged_read": """
            SELECT doc_id, lang, n_chars FROM documents WHERE n_chars < 300
        """,
        "docs_weighted_sample": """
            SELECT doc_id, n_chars, sample_key FROM (
              SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                     round(-ln(
                       (('0x' || substr(md5(CAST('42' || ':' || doc_id AS VARCHAR)),
                                        1, 15))::UBIGINT::DOUBLE + 1.0)
                       / 1152921504606846976.0
                     ) / CAST(n_chars AS DOUBLE), 12) AS sample_key
              FROM documents WHERE n_chars > 0
            ) ORDER BY sample_key, doc_id LIMIT 50
        """,
        "docs_pii_scrub": r"""
            WITH injected AS (
              SELECT doc_id,
                CASE WHEN doc_id % 3 <> 0 THEN
                  text || ' reach user' || CAST(doc_id AS VARCHAR)
                       || '@mail.example.com from 10.0.'
                       || CAST(doc_id % 256 AS VARCHAR)
                       || '.7 ssn 123-45-6789 tel 555-867-5309'
                ELSE text END AS t
              FROM documents
            ),
            s1 AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
                  AS n_email,
                regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS t
              FROM injected
            ),
            s2 AS (
              SELECT doc_id, n_email,
                CAST(len(regexp_extract_all(t,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
                  AS n_ipv4,
                regexp_replace(t,
                  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t
              FROM s1
            ),
            s3 AS (
              SELECT doc_id, n_email, n_ipv4,
                CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))
                  AS BIGINT) AS n_ssn,
                regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS t
              FROM s2
            ),
            s4 AS (
              SELECT doc_id, n_email, n_ipv4, n_ssn,
                CAST(len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
                  AS BIGINT) AS n_phone,
                regexp_replace(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g')
                  AS t
              FROM s3
            )
            SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone,
                   n_email + n_ipv4 + n_ssn + n_phone AS n_pii,
                   t AS redacted
            FROM s4
        """,
        "docs_strip_boilerplate": """
            WITH injected AS (
              SELECT doc_id,
                text || chr(10) || 'Copyright Example Corp. All rights reserved.'
                || CASE WHEN doc_id % 2 = 0
                     THEN chr(10) || 'Subscribe to our newsletter!' ELSE '' END
                || CASE WHEN doc_id % 9 = 0
                     THEN chr(10) || 'Posted by editor.' ELSE '' END AS text
              FROM documents
            ),
            lines AS (
              SELECT doc_id, pos, trim(line) AS line FROM (
                SELECT doc_id,
                  unnest(string_split(text, chr(10))) AS line,
                  unnest(generate_series(
                    1, len(string_split(text, chr(10))))) AS pos
                FROM injected)
              WHERE trim(line) <> ''
            ),
            bp AS (
              SELECT line FROM lines GROUP BY line
              HAVING count(DISTINCT doc_id) >= 100
            ),
            kept AS (
              SELECT * FROM lines WHERE line NOT IN (SELECT line FROM bp)
            ),
            totals AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
              FROM lines GROUP BY doc_id
            ),
            rebuilt AS (
              SELECT doc_id,
                string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                CAST(count(*) AS BIGINT) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
                   t.n_lines,
                   CAST(t.n_lines - coalesce(r.n_kept, 0) AS BIGINT)
                     AS n_removed
            FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        """,
        "docs_pack_sequences": """
            WITH tok AS (
              SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                  AS n_tok
              FROM documents WHERE trim(text) <> ''
            ),
            spans AS (
              SELECT doc_id, n_tok,
                sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
                  AS off,
                sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fin
              FROM tok
            )
            SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
                   CAST(greatest(seq_id * 256, off) - off AS BIGINT)
                     AS tok_from,
                   CAST(least((seq_id + 1) * 256, fin) - off AS BIGINT)
                     AS tok_to,
                   CAST(least((seq_id + 1) * 256, fin)
                        - greatest(seq_id * 256, off) AS BIGINT)
                     AS n_tok_in_seq
            FROM spans,
                 unnest(generate_series(CAST(off // 256 AS BIGINT),
                                        CAST((fin - 1) // 256 AS BIGINT)))
                   AS u(seq_id)
        """,
        "kg_link_heuristics": f"""
            {_KG_GRAPH_CTES},
            deg AS MATERIALIZED (
                SELECT u AS z, CAST(count(*) AS BIGINT) AS dz
                FROM adj GROUP BY u
            ),
            wed AS MATERIALIZED (
                SELECT a1.u AS z, a1.v AS x, a2.v AS y
                FROM adj a1 JOIN adj a2 ON a1.u = a2.u AND a1.v < a2.v
            ),
            pairs AS (
                SELECT w.x, w.y,
                       CAST(count(*) AS BIGINT) AS n_common,
                       round(sum(1.0 / ln(CAST(d.dz AS DOUBLE))), 6)
                         AS adamic_adar,
                       round(sum(1.0 / CAST(d.dz AS DOUBLE)), 6)
                         AS resource_alloc
                FROM wed w JOIN deg d ON w.z = d.z
                WHERE NOT EXISTS (
                    SELECT 1 FROM und e WHERE e.a = w.x AND e.b = w.y
                )
                GROUP BY w.x, w.y
            )
            SELECT p.x, p.y, p.n_common,
                   CAST(p.n_common AS DOUBLE)
                     / CAST(gx.dz + gy.dz - p.n_common AS DOUBLE) AS jaccard,
                   p.adamic_adar, p.resource_alloc,
                   CAST(gx.dz * gy.dz AS BIGINT) AS pref_attach
            FROM pairs p
            JOIN deg gx ON gx.z = p.x JOIN deg gy ON gy.z = p.y
            ORDER BY p.adamic_adar DESC, p.x, p.y
            LIMIT 20
        """,
        "docs_benchmark_contamination": r"""
            WITH bench AS (SELECT * FROM documents WHERE doc_id % 37 = 0),
            corpus AS (SELECT * FROM documents WHERE doc_id % 37 <> 0),
            bg AS (
              SELECT DISTINCT gram FROM (
                SELECT unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 2, 1)),
                  i -> array_to_string(ws[i:i+2], ' '))) AS gram
                FROM (SELECT string_split_regex(
                        lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                        '\s+') AS ws
                      FROM bench)
              )
            ),
            cg AS (
              SELECT DISTINCT doc_id, gram FROM (
                SELECT doc_id, unnest(list_transform(
                  generate_series(1, greatest(len(ws) - 2, 1)),
                  i -> array_to_string(ws[i:i+2], ' '))) AS gram
                FROM (SELECT doc_id, string_split_regex(
                        lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                        '\s+') AS ws
                      FROM corpus)
              )
            ),
            per AS (
              SELECT cg.doc_id,
                     CAST(count(*) AS BIGINT) AS n_grams,
                     CAST(sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_contaminated
              FROM cg LEFT JOIN bg USING (gram)
              GROUP BY cg.doc_id
            )
            SELECT doc_id, n_grams, n_contaminated,
                   CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE)
                     AS contam_frac,
                   CAST(n_contaminated AS DOUBLE) / CAST(n_grams AS DOUBLE)
                     >= 0.5 AS is_contaminated
            FROM per
        """,
        "txt_repetition_stats": r"""
            WITH lines AS (
              SELECT doc_id, trim(l) AS line
              FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                    FROM documents)
              WHERE trim(l) <> ''
            ),
            lg AS (SELECT doc_id, line, count(*) AS cnt
                   FROM lines GROUP BY doc_id, line),
            ls AS (
              SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
                     CAST(sum(cnt) - count(*) AS DOUBLE)
                       / CAST(sum(cnt) AS DOUBLE) AS dup_line_frac,
                     CAST(sum((cnt - 1) * length(line)) AS DOUBLE)
                       / CAST(sum(cnt * length(line)) AS DOUBLE)
                       AS dup_line_char_frac
              FROM lg GROUP BY doc_id
            ),
            words AS (
              SELECT doc_id, w AS word, ord FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\s+')) AS w,
                       unnest(generate_series(
                         1, len(string_split_regex(trim(text), '\s+')))) AS ord
                FROM documents
              ) WHERE w <> ''
            ),
            grams AS (
              SELECT doc_id, word || ' ' || nxt AS gram
              FROM (SELECT doc_id, word,
                           lead(word) OVER (PARTITION BY doc_id ORDER BY ord)
                             AS nxt
                    FROM words)
              WHERE nxt IS NOT NULL
            ),
            gg AS (SELECT doc_id, gram, count(*) AS cnt
                   FROM grams GROUP BY doc_id, gram),
            gs AS (
              SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
                     CAST(sum(cnt) - count(*) AS DOUBLE)
                       / CAST(sum(cnt) AS DOUBLE) AS dup_gram_frac,
                     CAST(max(cnt * length(gram)) AS BIGINT) AS top_chars
              FROM gg GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(ls.n_lines, 0) AS n_lines,
                   COALESCE(ls.dup_line_frac, 0.0) AS dup_line_frac,
                   COALESCE(ls.dup_line_char_frac, 0.0) AS dup_line_char_frac,
                   COALESCE(gs.n_grams, 0) AS n_grams,
                   COALESCE(gs.dup_gram_frac, 0.0) AS dup_gram_frac,
                   COALESCE(CAST(gs.top_chars AS DOUBLE)
                     / CAST(length(d.text) AS DOUBLE), 0.0)
                     AS top_gram_char_frac
            FROM documents d
            LEFT JOIN ls USING (doc_id) LEFT JOIN gs USING (doc_id)
        """,
        "a12d_rotate_training": """
            SELECT 'rotate' AS model, TRUE AS improved
        """,
        "a12b_distmult_training": """
            SELECT 'sgd' AS opt_method, TRUE AS improved
            UNION ALL SELECT 'adagrad', TRUE
        """,
        "a13_param_averaging": """
            SELECT CAST(200 AS BIGINT) AS n_ent, CAST(12 AS BIGINT) AS n_rel,
                   CAST(16 AS BIGINT) AS dim, TRUE AS finite,
                   TRUE AS ent_unit_norm, TRUE AS separates
        """,
        "b11_resume_manifest": """
            SELECT stage, 'done' AS status, TRUE AS resumed_zero
            FROM (VALUES ('canonicalize'), ('dicts'), ('evaluate'), ('extract'),
                         ('link'), ('materialize'), ('reassemble')) AS t(stage)
        """,
        "b12_eval_gate": """
            -- 15 = deterministic content-hash bucket size of the unit-
            -- fixture KG (pmod(xxhash64(h,t,r),10)=9 of 140 triples);
            -- regenerate this constant if fixtures/unit changes
            SELECT CAST(15 AS BIGINT) AS n_gate_triples, TRUE AS nonempty,
                   TRUE AS mr_improves, TRUE AS mrr_improves,
                   TRUE AS mrr_in_range, TRUE AS hits_monotone
        """,
        "a15_constrained_ranks": f"""
            WITH {_RANK_CTES_CONSTRAINED}
            SELECT * FROM ranks
        """,
        "a17_metrics_by_category": f"""
            WITH {_RANK_CTES},
            {_CAT_CTE},
            bothc AS (
                SELECT c.category, rank_head_raw AS raw, rank_head_filt AS filt
                FROM ranks JOIN cat c ON ranks.r = c.r
                UNION ALL
                SELECT c.category, rank_tail_raw AS raw, rank_tail_filt AS filt
                FROM ranks JOIN cat c ON ranks.r = c.r
            )
            SELECT category,
              CAST(count(*)/2 AS BIGINT) AS n_triples,
              round(avg(raw), 9) AS mr_raw,
              round(avg(1.0/raw), 9) AS mrr_raw,
              round(avg(CASE WHEN raw <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_raw,
              round(avg(filt), 9) AS mr_filt,
              round(avg(1.0/filt), 9) AS mrr_filt,
              round(avg(CASE WHEN filt <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_filt
            FROM bothc GROUP BY category
        """,
        "a17_category_relfilter": f"""
            WITH {_RANK_CTES},
            {_CAT_CTE},
            bothc AS (
                SELECT c.category, rank_head_raw AS raw, rank_head_filt AS filt
                FROM ranks JOIN cat c ON ranks.r = c.r
                UNION ALL
                SELECT c.category, rank_tail_raw AS raw, rank_tail_filt AS filt
                FROM ranks JOIN cat c ON ranks.r = c.r
            )
            SELECT category,
              CAST(count(*)/2 AS BIGINT) AS n_triples,
              round(avg(raw), 9) AS mr_raw,
              round(avg(1.0/raw), 9) AS mrr_raw,
              round(avg(CASE WHEN raw <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_raw,
              round(avg(filt), 9) AS mr_filt,
              round(avg(1.0/filt), 9) AS mrr_filt,
              round(avg(CASE WHEN filt <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_filt
            FROM bothc GROUP BY category
        """,
        "a17_link_prediction_metrics": f"""
            WITH {_RANK_CTES},
            both_ AS (
                SELECT rank_head_raw AS raw, rank_head_filt AS filt FROM ranks
                UNION ALL
                SELECT rank_tail_raw AS raw, rank_tail_filt AS filt FROM ranks
            )
            SELECT
              round(avg(raw), 9) AS mr_raw,
              round(avg(1.0/raw), 9) AS mrr_raw,
              round(avg(CASE WHEN raw <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_raw,
              round(avg(CASE WHEN raw <= 3 THEN 1.0 ELSE 0.0 END), 9) AS hits3_raw,
              round(avg(CASE WHEN raw <= 1 THEN 1.0 ELSE 0.0 END), 9) AS hits1_raw,
              round(avg(filt), 9) AS mr_filt,
              round(avg(1.0/filt), 9) AS mrr_filt,
              round(avg(CASE WHEN filt <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_filt,
              round(avg(CASE WHEN filt <= 3 THEN 1.0 ELSE 0.0 END), 9) AS hits3_filt,
              round(avg(CASE WHEN filt <= 1 THEN 1.0 ELSE 0.0 END), 9) AS hits1_filt
            FROM both_
        """,
        "a4_negative_properties": f"""
            SELECT CAST(2 * count(*) AS BIGINT) AS n_neg,
                   CAST(0 AS BIGINT) AS n_known_violations
            FROM read_parquet('{OKE}/train2id.parquet')
        """,
        "a5_bern_properties": f"""
            -- bern head-corruption property: n = per-relation positive
            -- count (one draw each), p_exp = tph/(tph+hpt) recomputed
            -- independently in SQL, within_tol pinned TRUE (the observed
            -- ratio is counter-RNG; the 4-sigma band is deterministic at
            -- the fixed seed)
            WITH tphx AS (
              SELECT r, avg(n) AS tph FROM (
                SELECT r, h, count(DISTINCT t) AS n
                FROM read_parquet('{OKE}/train2id.parquet') GROUP BY r, h)
              GROUP BY r),
            hptx AS (
              SELECT r, avg(n) AS hpt FROM (
                SELECT r, t, count(DISTINCT h) AS n
                FROM read_parquet('{OKE}/train2id.parquet') GROUP BY r, t)
              GROUP BY r),
            cnt AS (
              SELECT r, CAST(count(*) AS BIGINT) AS n
              FROM read_parquet('{OKE}/train2id.parquet') GROUP BY r)
            SELECT cnt.r, cnt.n,
                   round(tphx.tph / (tphx.tph + hptx.hpt), 6) AS p_exp,
                   TRUE AS within_tol
            FROM cnt JOIN tphx ON cnt.r = tphx.r JOIN hptx ON cnt.r = hptx.r
        """,
        "a14_train_eval_metrics": """
            -- pinned train->checkpoint->eval metrics: the trainer is
            -- iterative NumPy (not SQL-expressible) but fully seeded /
            -- counter-based, so the end-to-end result is a constant; a
            -- regression in A11/A12/A14 training, the A20 codec, or the
            -- A15/A17 protocol moves a pinned value
            SELECT 23.566667 AS mr_raw, 0.127942 AS mrr_raw,
                   0.233333 AS hits10_raw, 0.116667 AS hits3_raw,
                   0.05 AS hits1_raw,
                   19.433333 AS mr_filt, 0.159099 AS mrr_filt,
                   0.283333 AS hits10_filt, 0.15 AS hits3_filt,
                   0.083333 AS hits1_filt
        """,
        "a6_batch_properties": f"""
            SELECT CAST(count(*) AS BIGINT) AS n_pos,
                   CAST(2 * count(*) AS BIGINT) AS n_neg,
                   CAST(4 AS BIGINT) AS n_batches
            FROM read_parquet('{OKE}/train2id.parquet')
        """,
        "b2_mentions_cover_golden": f"""
            WITH slots AS (
                SELECT DISTINCT conv_id, turn_idx, surface FROM (
                    SELECT conv_id, turn_idx, subj AS surface FROM {_GOLD}
                    UNION ALL
                    SELECT conv_id, turn_idx, obj AS surface FROM {_GOLD})
                WHERE surface IN (SELECT surface FROM {_GAZ})
            )
            SELECT CAST(count(*) AS BIGINT) AS n_golden_slots,
                   CAST(count(*) AS BIGINT) AS n_covered
            FROM slots
        """,
        "b7_lsh_covers_exact_jaccard": f"""
            WITH n AS (
                SELECT DISTINCT surface,
                       regexp_replace(lower(surface), '[^a-zA-Z0-9_]', '', 'g') AS s
                FROM {_GAZ}
            ),
            sh AS (
                SELECT surface,
                       list_distinct(list_transform(
                           range(1, greatest(len(s) - 2, 1) + 1),
                           i -> s[i:i+2])) AS g
                FROM n
            ),
            p AS (
                SELECT a.surface AS a, b.surface AS b,
                       CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                       / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS j
                FROM sh a JOIN sh b ON a.surface < b.surface
            )
            SELECT CAST(count(*) FILTER (j >= 0.5) AS BIGINT) AS n_exact_pairs,
                   CAST(0 AS BIGINT) AS n_missed
            FROM p
        """,
        "dedup_minhash_containment": r"""
            WITH n AS (SELECT doc_id, regexp_replace(lower(text), '[^\w]', '', 'g') AS s
                       FROM documents),
            sh AS (SELECT doc_id, list_distinct(list_transform(
                       range(1, greatest(len(s)-4,1)+1), i -> s[i:i+4])) AS g FROM n),
            p AS (SELECT CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                         / (len(a.g)+len(b.g)-len(list_intersect(a.g, b.g))) AS j
                  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
            SELECT CAST(count(*) FILTER (j >= 0.5) AS BIGINT) AS n_exact_pairs,
                   CAST(0 AS BIGINT) AS n_missed
            FROM p
        """,
        "ann_lsh_topk_recall": """
            SELECT CAST(0.625 AS DOUBLE) AS recall_at_10
        """,
        "ann_ivf_persisted_recall": """
            -- identical to ann_ivf_topk_recall by construction: the
            -- persisted index carries the same seeded centroids and the
            -- same assignments, so the candidate sets are byte-equal
            SELECT CAST(0.6625 AS DOUBLE) AS recall_at_10
        """,
        "str_session_windows": """
            WITH m AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            s AS (
              SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM m
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "cat_time_travel": """
            SELECT doc_id, lang, n_chars FROM documents WHERE n_chars < 300
        """,
        "str_enriched_segments": """
            SELECT c.c_mktsegment, count(*) AS n_events
            FROM events e JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY c.c_mktsegment
        """,
        "str_view_purchase_join": """
            SELECT v.user_id,
                   v.event_id AS view_id,
                   p.event_id AS purchase_id,
                   round(p.value, 2) AS amount
            FROM events v
            JOIN events p
              ON p.user_id = v.user_id
             AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
            WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        """,
        "str_continuous_kg": _CONTINUOUS_KG_SQL,
        # same replay: the catalog-committed stream must equal the batch
        # build no matter how it was micro-batched
        "str_kg_to_catalog": _CONTINUOUS_KG_SQL,
        "docs_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE md5(CAST(doc_id AS VARCHAR)) < CASE lang WHEN 'en' THEN '4ccccccccccccc000000000000000000' WHEN 'es' THEN '80000000000000000000000000000000' WHEN 'fr' THEN '80000000000000000000000000000000' WHEN 'de' THEN 'g' WHEN 'zh' THEN 'g' ELSE '00000000000000000000000000000000' END
        """,
        "kg_degree_histogram": f"""
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R}),
            tri AS (
                SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
                FROM {_GOLD} g
                JOIN e es ON g.subj_canon = es.name
                JOIN e eo ON g.obj_canon = eo.name
                JOIN r rr ON g.pred = rr.name
            ),
            deg AS (
                SELECT e, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT h AS e FROM tri UNION ALL SELECT t AS e FROM tri
                ) GROUP BY e
            )
            SELECT degree, CAST(count(*) AS BIGINT) AS n_entities
            FROM deg GROUP BY degree
        """,
        "kg_top_hubs": f"""
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R}),
            tri AS (
                SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
                FROM {_GOLD} g
                JOIN e es ON g.subj_canon = es.name
                JOIN e eo ON g.obj_canon = eo.name
                JOIN r rr ON g.pred = rr.name
            ),
            ends AS (
                SELECT h AS e, 1 AS o, 0 AS i FROM tri
                UNION ALL SELECT t AS e, 0 AS o, 1 AS i FROM tri
            )
            SELECT e, CAST(sum(o) AS BIGINT) AS out_degree,
                   CAST(sum(i) AS BIGINT) AS in_degree,
                   CAST(count(*) AS BIGINT) AS degree
            FROM ends GROUP BY e
            ORDER BY degree DESC, e LIMIT 10
        """,
        "kg_triangles": f"""
            WITH eids AS ({_DENSE_E}), r AS ({_DENSE_R}),
            tri AS (
                SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
                FROM {_GOLD} g
                JOIN eids es ON g.subj_canon = es.name
                JOIN eids eo ON g.obj_canon = eo.name
                JOIN r rr ON g.pred = rr.name
            ),
            e AS (
                SELECT DISTINCT least(h, t) AS a, greatest(h, t) AS b
                FROM tri WHERE h <> t
            )
            SELECT CAST(count(*) AS BIGINT) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
        """,
        "kg_two_hop": f"""
            WITH eids AS ({_DENSE_E}), r AS ({_DENSE_R}),
            tri AS (
                SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
                FROM {_GOLD} g
                JOIN eids es ON g.subj_canon = es.name
                JOIN eids eo ON g.obj_canon = eo.name
                JOIN r rr ON g.pred = rr.name
            ),
            e AS (
                SELECT DISTINCT least(h, t) AS a, greatest(h, t) AS b
                FROM tri WHERE h <> t
            ),
            adj AS (
                SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
            ),
            s AS (SELECT * FROM (VALUES (0), (1), (2), (3), (4)) AS t(seed)),
            h1 AS (
                SELECT DISTINCT s.seed, adj.v AS e FROM s JOIN adj ON adj.u = s.seed
            ),
            h2 AS (
                SELECT DISTINCT h1.seed, adj.v AS e FROM h1 JOIN adj ON adj.u = h1.e
            ),
            allh AS (
                SELECT seed, e, 1 AS hops FROM h1
                UNION ALL SELECT seed, e, 2 FROM h2
            )
            SELECT CAST(seed AS BIGINT) AS seed, e, CAST(min(hops) AS BIGINT) AS min_hops
            FROM allh WHERE e <> seed GROUP BY seed, e
        """,
        "kg_pagerank": _pagerank_sql(5),
        "kg_label_propagation": _label_prop_sql(4),
        "kg_random_walks": _random_walks_sql(2, 4),
        "kg_node2vec_walks": _node2vec_sql(2, 4, 4.0, 0.25),
        "kg_node2vec_pairs": _node2vec_pairs_sql(2, 4, 4.0, 0.25, 2),
        "kg_personalized_pagerank": _ppr_sql(5),
        "kg_skipgram_pairs": _skipgram_sql(2, 4, 2),
        # property oracle: the pair COUNT replays the identical walk +
        # band-pairing SQL; the separation gate is the training property
        "kg_deepwalk_embeddings": f"""
            SELECT CAST((SELECT count(*) FROM ({_skipgram_sql(2, 4, 2)})) AS BIGINT)
                       AS n_pairs,
                   TRUE AS separated""",
        "kg_adamic_adar": _adamic_adar_sql(20),
        "kg_hits": _hits_sql(5),
        "kg_pagerank_weighted": _pagerank_weighted_sql(5),
        "kg_modularity": _modularity_sql(4),
        "kg_relation_properties": _REL_PROPS_SQL,
        "kg_inverse_relations": _INV_RELS_SQL,
        "dq_profile_orders": _dq_profile_sql(
            "orders",
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"],
        ),
        "dq_expectations_lineitem": _DQ_LINEITEM_SQL,
        "str_catalog_ingest": """
            SELECT event_id, user_id, ts, value FROM events
            WHERE event_type = 'purchase'""",
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20""",
        "q5_local_supplier_volume": """
            SELECT n_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
                       AS revenue
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE r_name = 'ASIA'
              AND c_nationkey = s_nationkey
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name""",
        "cat_delete_rows": """
            SELECT event_id, user_id, value FROM events
            WHERE NOT (user_id = 7)""",
        "cat_upsert": """
            SELECT event_id,
                   CASE WHEN event_id < 2000 THEN value * 2 ELSE value END AS value
            FROM events
            UNION ALL
            SELECT event_id + 100000, 1.0 FROM events WHERE event_id < 100""",
        "cat_schema_evolution": """
            SELECT event_id, user_id,
                   CASE WHEN md5(CAST(event_id AS VARCHAR)) < '8'
                        THEN NULL ELSE value END AS value
            FROM events""",
        "b1b_conversation_profile": f"""
            WITH g AS MATERIALIZED (
                SELECT conv_id, role, tool, text, ts,
                       date_diff('second', lag(ts) OVER (
                           PARTITION BY conv_id ORDER BY ts, turn_idx
                       ), ts) AS _gap
                FROM {_TRANS}
            )
            SELECT conv_id,
                   CAST(count(*) AS BIGINT) AS n_turns,
                   CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
                   CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
                   CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
                   CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns,
                   CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
                   CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_sec,
                   round(avg(length(text)), 9) AS avg_turn_chars,
                   CAST(coalesce(max(_gap), 0) AS BIGINT) AS max_gap_sec
            FROM g GROUP BY conv_id""",
        "docs_token_budget": r"""
            WITH m AS MATERIALIZED (
                SELECT doc_id,
                       CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                           AS n_tokens_ws,
                       (len(string_split_regex(trim(text), '\s+')) >= 5
                        AND length(text) >= 20
                        AND CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                            / length(text) < 0.2) AS quality_ok
                FROM documents
            )
            SELECT doc_id, quality_ok, n_tokens_ws,
                   CAST(sum(n_tokens_ws) OVER (
                       ORDER BY quality_ok DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS cum_amount
            FROM m
            QUALIFY cum_amount <= 5000""",
        "evt_scd2_user_state": _SCD2_SQL,
        "evt_scd2_snapshot": f"""
            SELECT * FROM ({_SCD2_SQL})
            WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
              AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')""",
        "dq_referential_integrity": _dq_ri_sql(
            [
                ("orders", "o_custkey", "customer", "c_custkey",
                 "orders.o_custkey->customer"),
                ("lineitem", "l_orderkey", "orders", "o_orderkey",
                 "lineitem.l_orderkey->orders"),
                ("lineitem", "l_partkey", "part", "p_partkey",
                 "lineitem.l_partkey->part"),
                ("lineitem", "l_suppkey", "supplier", "s_suppkey",
                 "lineitem.l_suppkey->supplier"),
                ("customer", "c_nationkey", "nation", "n_nationkey",
                 "customer.c_nationkey->nation"),
            ]
        ),
        # the full-rebuild replay: golden surface triples through the
        # gazetteer + dense-id joins — same SQL shape as str_continuous_kg
        "b13_incremental_build": f"""
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R}),
            ext AS (SELECT DISTINCT conv_id, turn_idx, subj, pred, obj FROM {_GOLD})
            SELECT DISTINCT es.id AS s, rr.id AS p, eo.id AS o
            FROM ext
            JOIN {_GAZ} gs ON ext.subj = gs.surface
            JOIN {_GAZ} go ON ext.obj = go.surface
            JOIN e es ON gs.canonical = es.name
            JOIN e eo ON go.canonical = eo.name
            JOIN r rr ON ext.pred = rr.name
        """,
        "cat_compaction": """
            SELECT doc_id, lang, n_chars FROM documents
        """,
        "q_cheapest_part_order": """
            WITH mp AS (
                SELECT l_partkey, min(l_extendedprice) AS min_price
                FROM lineitem GROUP BY l_partkey
            )
            SELECT mp.l_partkey, mp.min_price,
                   min(l.l_orderkey) AS orderkey
            FROM mp JOIN lineitem l
              ON l.l_partkey = mp.l_partkey AND l.l_extendedprice = mp.min_price
            GROUP BY mp.l_partkey, mp.min_price
        """,
        "q_running_revenue": """
            SELECT o_custkey, o_orderkey,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS cum_revenue
            FROM orders
        """,
        "str_stateful_counts": """
            SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
        """,
        "str_dedup_docs": """
            SELECT DISTINCT md5(text) AS doc_hash FROM documents
        """,
        "ann_ivf_topk_recall": """
            SELECT CAST(0.6625 AS DOUBLE) AS recall_at_10
        """,
        "mm_features": """
            SELECT printf('m%05d', x) AS media_id,
                   CASE x % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   CAST(16 AS BIGINT) AS feat_dim
            FROM range(48) t(x)
        """,
        "a7_transe_scores": _SQL_TRANSE,
        "a7b_distmult_scores": _SQL_DISTMULT,
        "a7c_complex_scores": _SQL_COMPLEX,
        "a7d_rotate_scores": _SQL_ROTATE,
        "a11_margin_loss": f"""
            WITH train AS (
              SELECT DISTINCT h, t, r FROM read_parquet('{OKE}/train2id.parquet')
            ),
            n AS (SELECT count(*) AS n_ent FROM read_parquet('{OKE}/entity2id.parquet')),
            ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
            rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
            pos AS (
              SELECT tt.h, tt.t, tt.r, sum(abs(eh.val + er.val - et.val)) AS s_pos
              FROM train tt
              JOIN rel er ON er.id = tt.r
              JOIN ent eh ON eh.id = tt.h AND eh.k = er.k
              JOIN ent et ON et.id = tt.t AND et.k = er.k
              GROUP BY tt.h, tt.t, tt.r
            ),
            neg AS (
              SELECT tt.h, tt.t, tt.r, sum(abs(eh.val + er.val - et.val)) AS s_neg
              FROM train tt, n
              JOIN rel er ON er.id = tt.r
              JOIN ent eh ON eh.id = (tt.h + 1) % n.n_ent AND eh.k = er.k
              JOIN ent et ON et.id = tt.t AND et.k = er.k
              GROUP BY tt.h, tt.t, tt.r
            )
            SELECT pos.h, pos.t, pos.r,
                   round(s_pos, 9) AS s_pos, round(s_neg, 9) AS s_neg,
                   round(greatest(0.0, 1.0 + s_pos - s_neg), 9) AS hinge
            FROM pos JOIN neg ON pos.h = neg.h AND pos.t = neg.t AND pos.r = neg.r
        """,
        "a7_transe_scores_l2": _SQL_TRANSE.replace(
            "round(sum(abs(eh.val + er.val - et.val)), 9)",
            "round(sqrt(sum(power(eh.val + er.val - et.val, 2))), 9)",
        ),
        "a15_ranks_l2": f"""
            WITH {_RANK_CTES_L2}
            SELECT * FROM ranks
        """,
        "a19_topk_heads": f"""
            WITH q AS (
                SELECT DISTINCT t, r FROM (
                    SELECT t, r FROM read_parquet('{OKE}/test2id.parquet') LIMIT 20)
            ),
            ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
            rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
            sc AS (
                SELECT q.t, q.r, ce.id AS candidate,
                       sum(abs(ce.val + re.val - te.val)) AS score
                FROM q
                JOIN rel re ON re.id = q.r
                JOIN ent te ON te.id = q.t AND te.k = re.k
                JOIN ent ce ON ce.k = re.k
                GROUP BY q.t, q.r, ce.id
            )
            SELECT t, r, candidate, rk FROM (
                SELECT t, r, candidate,
                       row_number() OVER (PARTITION BY t, r ORDER BY score, candidate) AS rk
                FROM sc) WHERE rk <= 10
        """,
        "a8_transh_scores": _SQL_TRANSH,
        "a9_transr_scores": _SQL_TRANSR,
        "a10_transd_scores": _SQL_TRANSD,
        # L2 halves of the kernel x norm matrix: only the final distance
        # aggregator changes (inner projection sums are norm-independent)
        "a8_transh_scores_l2": _SQL_TRANSH.replace(
            "round(sum(abs((eh.val - d.dwh * w.val) + er.val\n                         - (et.val - d.dwt * w.val))), 9)",
            "round(sqrt(sum(power((eh.val - d.dwh * w.val) + er.val\n                         - (et.val - d.dwt * w.val), 2))), 9)",
        ),
        "a9_transr_scores_l2": _SQL_TRANSR.replace(
            "round(sum(abs(hr.hv + er.val - tr.tv)), 9)",
            "round(sqrt(sum(power(hr.hv + er.val - tr.tv, 2))), 9)",
        ),
        "a10_transd_scores_l2": _SQL_TRANSD.replace(
            "round(sum(abs((eh.val + dh.dot * rp.val) + er.val\n                         - (et.val + dt.dot * rp.val))), 9)",
            "round(sqrt(sum(power((eh.val + dh.dot * rp.val) + er.val\n                         - (et.val + dt.dot * rp.val), 2))), 9)",
        ),
        "a21_incremental_training": """
            -- structural contract of incremental training: after the
            -- second increment the entity table has grown 30 -> 40 rows
            -- at dim 8 (warm-start + Xavier rows for the unseen ids)
            SELECT CAST(range AS BIGINT) AS id, CAST(8 AS BIGINT) AS dim FROM range(40)
        """,
        "a18_thresholds": f"""
            WITH {_TC_CTES}
            SELECT r, round(threshold, 9) AS threshold FROM th
        """,
        "a18_accuracy": f"""
            WITH {_TC_CTES}
            SELECT round(avg(CASE WHEN
                     (CASE WHEN sc.score <= th.threshold THEN 1 ELSE -1 END) = sc.y
                   THEN 1.0 ELSE 0.0 END), 9) AS accuracy
            FROM sc LEFT JOIN th ON sc.r = th.r
            WHERE sc.split = 'test'
        """,
        "a19_topk_completions": f"""
            WITH q AS (
                SELECT DISTINCT h, r FROM (
                    SELECT h, r FROM read_parquet('{OKE}/test2id.parquet') LIMIT 20)
            ),
            ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
            rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
            sc AS (
                SELECT q.h, q.r, ce.id AS candidate,
                       sum(abs(he.val + re.val - ce.val)) AS score
                FROM q
                JOIN rel re ON re.id = q.r
                JOIN ent he ON he.id = q.h AND he.k = re.k
                JOIN ent ce ON ce.k = re.k
                GROUP BY q.h, q.r, ce.id
            )
            SELECT h, r, candidate, rk FROM (
                SELECT h, r, candidate,
                       row_number() OVER (PARTITION BY h, r ORDER BY score, candidate) AS rk
                FROM sc) WHERE rk <= 10
        """,
"a19_topk_constrained": f"""
            WITH known AS ({_KNOWN}),
            q AS (
                SELECT DISTINCT h, r FROM (
                    SELECT h, r FROM read_parquet('{OKE}/test2id.parquet') LIMIT 20)
            ),
            ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
            rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
            sc AS (
                SELECT q.h, q.r, ce.id AS candidate,
                       sum(abs(he.val + re.val - ce.val)) AS score
                FROM q
                JOIN rel re ON re.id = q.r
                JOIN ent he ON he.id = q.h AND he.k = re.k
                JOIN ent ce ON ce.k = re.k
                JOIN (SELECT DISTINCT r, t AS e FROM known) rng
                  ON rng.r = q.r AND rng.e = ce.id
                GROUP BY q.h, q.r, ce.id
            )
            SELECT h, r, candidate, rk FROM (
                SELECT h, r, candidate,
                       row_number() OVER (PARTITION BY h, r ORDER BY score, candidate) AS rk
                FROM sc) WHERE rk <= 10
        """,
        "dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, md5({_NORM_TEXT}) AS fingerprint,
                   count(*) AS group_size
            FROM documents GROUP BY md5({_NORM_TEXT})
        """,
        "txt_fingerprint": f"""
            SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint,
                   length(text) AS len_raw, length({_NORM_TEXT}) AS len_norm
            FROM documents
        """,
        "txt_token_counts": r"""
            SELECT doc_id,
                   len(string_split_regex(trim(text), '\s+')) AS n_tokens_ws,
                   len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens_bpe,
                   length(text) AS n_chars
            FROM documents
        """,
        "txt_quality_scores": r"""
            WITH c AS (
                SELECT doc_id,
                       length(text) AS nc,
                       len(string_split_regex(trim(text), '\s+')) AS nt,
                       len(regexp_extract_all(lower(text),
                           '\b(the|and|of|to|in|is|a|that|it|for)\b')) AS ns,
                       len(regexp_extract_all(text, '[^\w\s]')) AS np
                FROM documents)
            SELECT doc_id, nc AS n_chars_text, nt AS n_tokens,
                   CAST(nc AS DOUBLE)/CAST(nt AS DOUBLE) AS mean_token_len,
                   CAST(ns AS DOUBLE)/CAST(nt AS DOUBLE) AS stopword_ratio,
                   CAST(np AS DOUBLE)/CAST(nc AS DOUBLE) AS punct_ratio,
                   (nt >= 5 AND nc >= 20 AND CAST(np AS DOUBLE)/CAST(nc AS DOUBLE) < 0.2)
                       AS quality_ok
            FROM c
        """,
        "txt_lang_id": r"""
            WITH c AS (
                SELECT doc_id,
                  len(regexp_extract_all(lower(text), '\b(the|and|of|is|was|with)\b')) AS n_en,
                  len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans)\b')) AS n_fr,
                  len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|mit|ein)\b')) AS n_de,
                  len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|con|para)\b')) AS n_es
                FROM documents)
            SELECT doc_id, n_en, n_fr, n_de, n_es,
              CASE WHEN n_en >= greatest(n_fr, n_de, n_es, 1) THEN 'en'
                   WHEN n_fr >= greatest(n_de, n_es, 1) THEN 'fr'
                   WHEN n_de >= greatest(n_es, 1) THEN 'de'
                   WHEN n_es >= 1 THEN 'es'
                   ELSE 'und' END AS lang_pred
            FROM c
        """,
        "txt_tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
            nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            idf AS (
              SELECT term, ln((n_docs + 1.0) / (df + 1.0)) + 1.0 AS idf FROM dft, nd
            ),
            scored AS (
              SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
                     round(idf.idf, 6) AS idf,
                     round(tf.tf * idf.idf, 6) AS tfidf
              FROM tf JOIN idf USING (term)
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
              FROM scored
            )
            SELECT doc_id, term, tf, idf, tfidf, CAST(rk AS BIGINT) AS rk
            FROM ranked WHERE rk <= 10
        """,
        "txt_length_quantiles": """
            SELECT quantile_cont(n_chars, 0.25) AS q25,
                   quantile_cont(n_chars, 0.5) AS q50,
                   quantile_cont(n_chars, 0.75) AS q75,
                   quantile_cont(n_chars, 0.99) AS q99
            FROM documents
        """,
        "txt_length_quantiles_approx": """
            -- GK sketch guarantee at accuracy=10000: every reported
            -- quantile's rank is within n/accuracy (+1) of the target
            SELECT CAST(4 AS BIGINT) AS n_probs, CAST(4 AS BIGINT) AS n_within_bound
        """,
        "docs_corpus_filter": r"""
            WITH q AS (
              SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
              FROM documents
              WHERE len(string_split_regex(trim(text), '\s+')) >= 5
                AND length(text) >= 20
                AND CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE) < 0.2
            ),
            lc AS (
              SELECT doc_id,
                len(regexp_extract_all(lower(text), '\b(the|and|of|is|was|with)\b')) AS n_en,
                len(regexp_extract_all(lower(text), '\b(le|la|les|et|est|une|dans)\b')) AS n_fr,
                len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|mit|ein)\b')) AS n_de,
                len(regexp_extract_all(lower(text), '\b(el|los|las|es|una|con|para)\b')) AS n_es
              FROM documents
            ),
            lang AS (
              SELECT doc_id FROM lc
              WHERE (CASE WHEN n_en >= greatest(n_fr, n_de, n_es, 1) THEN 'en'
                   WHEN n_fr >= greatest(n_de, n_es, 1) THEN 'fr'
                   WHEN n_de >= greatest(n_es, 1) THEN 'de'
                   WHEN n_es >= 1 THEN 'es'
                   ELSE 'und' END) = 'en'
            ),
            kept AS (
              SELECT d.doc_id, d.text FROM documents d
              JOIN q USING (doc_id) JOIN lang USING (doc_id)
            ),
            ded AS (
              SELECT min(doc_id) AS doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
                     count(*) AS group_size
              FROM kept GROUP BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
            )
            SELECT ded.doc_id, ded.fingerprint, ded.group_size, q.n_tokens
            FROM ded JOIN q ON q.doc_id = ded.doc_id
        """,
        "dedup_ngram_jaccard": f"""
            WITH {_NGRAM_PAIRS_CTES.replace('__NORM__', _NORM_TEXT)}
            SELECT a, b, jaccard FROM pairs
        """,
        "dedup_neardup_groups": f"""
            WITH RECURSIVE {_NGRAM_PAIRS_CTES.replace('__NORM__', _NORM_TEXT)},
            edges AS (
                SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
            walk AS (
                SELECT a AS node, a AS comp FROM edges
                UNION
                SELECT e.a AS node, w.comp FROM walk w JOIN edges e ON w.node = e.b),
            cc AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
            lab AS (
                SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id
                FROM documents d LEFT JOIN cc c ON d.doc_id = c.node),
            sz AS (
                SELECT group_id, CAST(count(*) AS BIGINT) AS group_size
                FROM lab GROUP BY group_id)
            SELECT l.doc_id, l.group_id, s.group_size,
                   l.doc_id = l.group_id AS is_canonical
            FROM lab l JOIN sz s ON l.group_id = s.group_id
        """,
        "ann_cosine_topk": """
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8)
            SELECT query_id, neighbor_id, rk FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(q.qv, e.v) DESC, e.vec_id) AS rk
                FROM q, e) WHERE rk <= 10
        """,
        "ann_cosine_neardup": f"""
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM read_parquet('{os.path.join(REPO, "fixtures", "neardup", "embeddings.parquet")}'))
            SELECT a.vec_id AS a, b.vec_id AS b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.9
        """,
        "ann_cosine_neardup_exact": """
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings)
            SELECT a.vec_id AS a, b.vec_id AS b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        """,
        "w_topk_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rk
                FROM orders) WHERE rk <= 3
        """,
        "asof_purchases": """
            SELECT l.user_id, l.event_id, l.ts,
                   r.value AS purchase_value, r.ts AS purchase_ts
            FROM (SELECT user_id, event_id, ts FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "q_part_brand_prices": """
            SELECT p_brand, count(*) AS n_parts,
                   CAST(sum(CAST(p_retailprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_retail,
                   CAST(max(p_size) AS BIGINT) AS max_size
            FROM part GROUP BY p_brand
        """,
        "q_region_supplier_stats": """
            SELECT r.r_name,
                   count(*) AS n_suppliers,
                   count(DISTINCT n.n_nationkey) AS n_nations,
                   CAST(sum(CAST(s.s_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS sum_acctbal
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name
        """,
        "q_rollup_lineitem": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q_approx_distinct_parts": """
            SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
                   true AS within_5pct
            FROM lineitem
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE) AS sum_charge,
              CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
              count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue_orders": """
            WITH j AS (
              SELECT l.l_orderkey, o.o_orderdate,
                     sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS revenue_d
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment = 'BUILDING'
                AND o.o_orderdate < TIMESTAMP '1996-01-01'
                AND l.l_shipdate > TIMESTAMP '1996-01-01'
              GROUP BY l.l_orderkey, o.o_orderdate
            ),
            r AS (
              SELECT l_orderkey, CAST(revenue_d AS DOUBLE) AS revenue,
                     CAST(o_orderdate AS VARCHAR) AS o_orderdate,
                     row_number() OVER (ORDER BY revenue_d DESC, l_orderkey) AS rk
              FROM j
            )
            SELECT l_orderkey, revenue, o_orderdate, CAST(rk AS BIGINT) AS rk
            FROM r WHERE rk <= 10
        """,
        "a3_skew_stats_lineitem": """
            SELECT l_returnflag, avg(n) AS avg_suppliers_per_order, count(*) AS n_orders
            FROM (SELECT l_returnflag, l_orderkey, count(DISTINCT l_suppkey) AS n
                  FROM lineitem GROUP BY l_returnflag, l_orderkey)
            GROUP BY l_returnflag
        """,
        "evt_sessionize": """
            SELECT user_id, event_id,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
            FROM (
                SELECT user_id, event_id, ts,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800.0
                            THEN 1 ELSE 0 END AS new_session
                FROM events)
        """,
        "evt_funnel": """
            WITH s0 AS (
              SELECT user_id, event_type, ts, event_id,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER w AS seen0
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            s1 AS (
              SELECT user_id, event_type, ts, event_id, seen0,
                     min(CASE WHEN event_type = 'click'
                              AND seen0 IS NOT NULL THEN ts END)
                       OVER w AS seen1
              FROM s0
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            s2 AS (
              SELECT user_id, seen0, seen1,
                     min(CASE WHEN event_type = 'purchase'
                              AND seen1 IS NOT NULL THEN ts END)
                       OVER w AS seen2
              FROM s1
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            per_user AS (
              SELECT user_id,
                     max(CASE WHEN seen0 IS NOT NULL THEN 1 ELSE 0 END) AS r0,
                     max(CASE WHEN seen1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
                     max(CASE WHEN seen2 IS NOT NULL THEN 1 ELSE 0 END) AS r2
              FROM s2 GROUP BY user_id)
            SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name,
                   CAST(sum(r0) AS BIGINT) AS n_users FROM per_user
            UNION ALL
            SELECT CAST(1 AS BIGINT), 'click', CAST(sum(r1) AS BIGINT)
            FROM per_user
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'purchase', CAST(sum(r2) AS BIGINT)
            FROM per_user
        """,
        "evt_retention_cohorts": """
            WITH act AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('week', ts) AS DATE) AS wk
              FROM events),
            coh AS (
              SELECT user_id, min(wk) AS cohort_week FROM act GROUP BY user_id)
            SELECT c.cohort_week,
                   CAST(date_diff('day', c.cohort_week, a.wk) // 7 AS BIGINT)
                     AS week_offset,
                   CAST(count(*) AS BIGINT) AS n_active
            FROM act a JOIN coh c ON a.user_id = c.user_id
            GROUP BY 1, 2
        """,
        "kg_assortativity": f"""
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R}),
            tri AS (
                SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
                FROM {_GOLD} g
                JOIN e es ON g.subj_canon = es.name
                JOIN e eo ON g.obj_canon = eo.name
                JOIN r rr ON g.pred = rr.name
            ),
            deg AS (
                SELECT e, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT h AS e FROM tri UNION ALL SELECT t AS e FROM tri
                ) GROUP BY e
            ),
            xy AS (
                SELECT dh.degree AS dx, dt.degree AS dy
                FROM tri JOIN deg dh ON tri.h = dh.e
                         JOIN deg dt ON tri.t = dt.e
            ),
            st AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       sum(CAST(dx AS DECIMAL(38,0))) AS sx,
                       sum(CAST(dy AS DECIMAL(38,0))) AS sy,
                       sum(CAST(dx * dy AS DECIMAL(38,0))) AS sxy,
                       sum(CAST(dx * dx AS DECIMAL(38,0))) AS sx2,
                       sum(CAST(dy * dy AS DECIMAL(38,0))) AS sy2
                FROM xy
            )
            SELECT n AS n_edges,
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                     AS assortativity
            FROM st
        """,
        "kg_reciprocity": f"""
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R}),
            tri AS (
                SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
                FROM {_GOLD} g
                JOIN e es ON g.subj_canon = es.name
                JOIN e eo ON g.obj_canon = eo.name
                JOIN r rr ON g.pred = rr.name
            ),
            p AS (
                SELECT least(h, t) AS a, greatest(h, t) AS b,
                       CAST(h < t AS INT) AS fwd, CAST(h > t AS INT) AS rev
                FROM tri WHERE h <> t
            ),
            g2 AS (SELECT a, b, max(fwd) AS f, max(rev) AS r
                   FROM p GROUP BY a, b),
            tot AS (
                SELECT CAST(coalesce(sum(f + r), 0) AS BIGINT) AS n_edges,
                       CAST(coalesce(sum(CASE WHEN f = 1 AND r = 1
                                              THEN 2 ELSE 0 END), 0) AS BIGINT)
                         AS n_reciprocal
                FROM g2
            )
            SELECT n_edges, n_reciprocal,
                   CAST(n_reciprocal AS DOUBLE) / CAST(n_edges AS DOUBLE)
                     AS reciprocity
            FROM tot
        """,
        "txt_bpe_pairs": """
            WITH tk AS (
              SELECT string_split_regex(lower(trim(text)), '\\s+') AS tk
              FROM documents),
            p AS (
              SELECT tk[i] AS t1, tk[i + 1] AS t2
              FROM tk, unnest(generate_series(1, len(tk) - 1)) s(i))
            SELECT t1, t2, CAST(count(*) AS BIGINT) AS n_pairs
            FROM p WHERE t1 <> '' AND t2 <> ''
            GROUP BY t1, t2
            ORDER BY n_pairs DESC, t1, t2 LIMIT 20
        """,
        "dedup_survivorship": f"""
            WITH RECURSIVE {_NGRAM_PAIRS_CTES.replace('__NORM__', _NORM_TEXT)},
            edges AS (
                SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
            walk AS (
                SELECT a AS node, a AS comp FROM edges
                UNION
                SELECT e.a AS node, w.comp FROM walk w JOIN edges e ON w.node = e.b),
            cc AS (SELECT node, min(comp) AS component FROM walk GROUP BY node),
            lab AS (
                SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id,
                       d.n_chars
                FROM documents d LEFT JOIN cc c ON d.doc_id = c.node),
            rk AS (
                SELECT group_id, doc_id, n_chars,
                       row_number() OVER (PARTITION BY group_id
                           ORDER BY n_chars DESC, doc_id) AS rn,
                       count(*) OVER (PARTITION BY group_id) AS n
                FROM lab)
            SELECT group_id, CAST(doc_id AS BIGINT) AS kept_doc_id,
                   CAST(n_chars AS BIGINT) AS kept_n_chars,
                   CAST(n AS BIGINT) AS n_docs
            FROM rk WHERE rn = 1
        """,
        "q18_large_orders": """
            WITH qty AS (
              SELECT l_orderkey,
                     sum(CAST(l_quantity AS DECIMAL(12,2))) AS qd
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250)
            SELECT c_name, o_orderkey, o_totalprice,
                   CAST(qd AS DOUBLE) AS total_qty
            FROM qty
            JOIN orders ON qty.l_orderkey = orders.o_orderkey
            JOIN customer ON orders.o_custkey = customer.c_custkey
        """,
        "q14_promo_share": """
            WITH base AS (
              SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
                     p_type,
                     CAST(l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l_discount AS DECIMAL(4,2)) AS rev
              FROM lineitem JOIN part ON l_partkey = p_partkey),
            agg AS (
              SELECT month,
                     CAST(count(*) AS BIGINT) AS n_items,
                     sum(rev) AS total_d,
                     sum(CASE WHEN p_type = 'PROMO' THEN rev
                              ELSE CAST(0 AS DECIMAL(12,2)) END) AS promo_d
              FROM base GROUP BY month)
            SELECT month, n_items,
                   CAST(total_d AS DOUBLE) AS total_rev,
                   (100.0 * CAST(promo_d AS DOUBLE)) / CAST(total_d AS DOUBLE)
                     AS promo_pct
            FROM agg
        """,
        "txt_phrase_search": """
            WITH tk AS (
              SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS tk
              FROM documents),
            u AS (
              SELECT doc_id, tk[i] AS token, CAST(i - 1 AS BIGINT) AS pos
              FROM tk, unnest(generate_series(1, len(tk))) s(i)
              WHERE tk[i] <> ''),
            slots(token, slot) AS (
              VALUES ('table', CAST(0 AS BIGINT)),
                     ('hash', CAST(1 AS BIGINT))),
            hits AS (
              SELECT u.doc_id, u.pos - s.slot AS base, s.slot
              FROM u JOIN slots s ON u.token = s.token),
            full_m AS (
              SELECT doc_id, base FROM hits
              GROUP BY doc_id, base HAVING count(DISTINCT slot) = 2)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM full_m GROUP BY doc_id
        """,
        "evt_anomaly_zscore": """
            WITH st AS (
              SELECT event_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     sum(CAST(value AS DECIMAL(12,2))) AS sx,
                     sum(CAST(value AS DECIMAL(12,2))
                         * CAST(value AS DECIMAL(12,2))) AS sx2
              FROM events GROUP BY event_type),
            m AS (
              SELECT event_type, n_events,
                     CAST(sx AS DOUBLE) / CAST(n_events AS DOUBLE)
                       AS mean_value,
                     sqrt(greatest(
                       (CAST(sx2 AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                          / CAST(n_events AS DOUBLE))
                       / CAST(n_events AS DOUBLE), 0.0)) AS std_value
              FROM st)
            SELECT m.event_type AS group_key, m.n_events, m.mean_value,
                   m.std_value,
                   CAST(sum(CASE WHEN abs(
                          CAST(CAST(e.value AS DECIMAL(12,2)) AS DOUBLE)
                          - m.mean_value) > 3.0 * m.std_value
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
            FROM events e JOIN m ON e.event_type = m.event_type
            GROUP BY 1, 2, 3, 4
        """,
        "q_salted_customer_orders": """
            SELECT o_orderkey, o_custkey, c_name, c_acctbal
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "txt_heavy_tokens": """
            WITH t AS (
              SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
                AS value
              FROM documents),
            f AS (
              SELECT value, CAST(count(*) AS BIGINT) AS n_count
              FROM t WHERE value <> '' GROUP BY value),
            n AS (SELECT CAST(sum(n_count) AS BIGINT) AS n_total FROM f)
            SELECT f.value, f.n_count, n.n_total
            FROM f, n WHERE f.n_count * 50 > n.n_total
        """,
        "evt_funnel_windowed": """
            WITH s0 AS (
              SELECT user_id, event_type, ts, event_id,
                     min(CASE WHEN event_type = 'view' THEN ts END)
                       OVER w AS seen0
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            s1 AS (
              SELECT user_id, event_type, ts, event_id, seen0,
                     min(CASE WHEN event_type = 'click'
                              AND seen0 IS NOT NULL
                              AND ts <= seen0 + INTERVAL 172800 SECOND
                              THEN ts END) OVER w AS seen1
              FROM s0
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            s2 AS (
              SELECT user_id, seen0, seen1,
                     min(CASE WHEN event_type = 'purchase'
                              AND seen1 IS NOT NULL
                              AND ts <= seen1 + INTERVAL 172800 SECOND
                              THEN ts END) OVER w AS seen2
              FROM s1
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            per_user AS (
              SELECT user_id,
                     max(CASE WHEN seen0 IS NOT NULL THEN 1 ELSE 0 END) AS r0,
                     max(CASE WHEN seen1 IS NOT NULL THEN 1 ELSE 0 END) AS r1,
                     max(CASE WHEN seen2 IS NOT NULL THEN 1 ELSE 0 END) AS r2
              FROM s2 GROUP BY user_id)
            SELECT CAST(0 AS BIGINT) AS step, 'view' AS step_name,
                   CAST(sum(r0) AS BIGINT) AS n_users FROM per_user
            UNION ALL
            SELECT CAST(1 AS BIGINT), 'click', CAST(sum(r1) AS BIGINT)
            FROM per_user
            UNION ALL
            SELECT CAST(2 AS BIGINT), 'purchase', CAST(sum(r2) AS BIGINT)
            FROM per_user
        """,
        "evt_session_stats": """
            WITH b AS (
              SELECT user_id, event_id,
                     date_diff('microsecond',
                               TIMESTAMP '2000-01-01 00:00:00', ts) AS pos
              FROM events),
            marks AS (
              SELECT user_id, event_id, pos,
                     CASE WHEN lag(pos) OVER w IS NULL
                               OR pos - lag(pos) OVER w > 1800000000
                          THEN 1 ELSE 0 END AS new_s
              FROM b
              WINDOW w AS (PARTITION BY user_id ORDER BY pos, event_id)),
            sess AS (
              SELECT user_id, pos,
                     sum(new_s) OVER (PARTITION BY user_id
                        ORDER BY pos, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS sess_id
              FROM marks),
            per_s AS (
              SELECT user_id, sess_id,
                     CAST(count(*) AS BIGINT) AS n,
                     max(pos) - min(pos) AS dur
              FROM sess GROUP BY user_id, sess_id)
            SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_bounces,
                   CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bounce_rate,
                   CAST(coalesce(sum(n), 0) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS avg_events,
                   (CAST(coalesce(sum(dur), 0) AS DOUBLE) / 1000000.0)
                     / CAST(count(*) AS DOUBLE) AS avg_duration_sec,
                   CAST(max(dur) AS DOUBLE) / 1000000.0 AS max_duration_sec
            FROM per_s
        """,
        "dedup_incremental": f"""
            WITH newb AS (
              SELECT doc_id, md5({_NORM_TEXT}) AS fingerprint
              FROM documents WHERE doc_id % 5 = 0),
            seen AS (
              SELECT DISTINCT md5({_NORM_TEXT}) AS fingerprint
              FROM documents WHERE doc_id % 5 <> 0)
            SELECT min(doc_id) AS doc_id, fingerprint
            FROM newb
            WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)
            GROUP BY fingerprint
        """,
        "ann_pq_topk_recall": """
            SELECT CAST(0.7125 AS DOUBLE) AS recall_at_10
        """,
        "evt_scd2_join": f"""
            WITH scd AS ({_SCD2_SQL}),
            facts AS (
              SELECT user_id, event_id, ts FROM events
              WHERE event_type = 'purchase')
            SELECT f.user_id, f.event_id,
                   s.event_type AS state_at_purchase,
                   s.version AS state_version
            FROM facts f LEFT JOIN scd s
              ON f.user_id = s.user_id
             AND s.valid_from <= f.ts
             AND (s.valid_to IS NULL OR s.valid_to > f.ts)
        """,
        "evt_trailing_7d": """
            SELECT user_id, event_id,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
                     PARTITION BY user_id ORDER BY pos
                     RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS trailing_sum
            FROM (
              SELECT user_id, event_id, value,
                     date_diff('microsecond',
                               TIMESTAMP '2000-01-01 00:00:00', ts) AS pos
              FROM events)
        """,
        "evt_type_pivot": """
            SELECT user_id,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_view
            FROM events GROUP BY user_id
        """,
        "kg_rule_mining": f"""
            WITH e AS ({_DENSE_E}), r AS ({_DENSE_R}),
            tri AS (
                SELECT DISTINCT es.id AS h, rr.id AS p, eo.id AS t
                FROM {_GOLD} g
                JOIN e es ON g.subj_canon = es.name
                JOIN e eo ON g.obj_canon = eo.name
                JOIN r rr ON g.pred = rr.name
            ),
            body AS (
                SELECT DISTINCT a.h AS x, a.p AS r1, b.p AS r2, b.t AS y
                FROM tri a JOIN tri b ON a.t = b.h),
            bs AS (
                SELECT r1, r2, CAST(count(*) AS BIGINT) AS body_size
                FROM body GROUP BY r1, r2),
            heads AS (SELECT DISTINCT h AS x, p AS r3, t AS y FROM tri),
            sup AS (
                SELECT r1, r2, r3, CAST(count(*) AS BIGINT) AS support
                FROM body JOIN heads USING (x, y) GROUP BY r1, r2, r3)
            SELECT s.r1, s.r2, s.r3, b.body_size, s.support,
                   CAST(s.support AS DOUBLE) / CAST(b.body_size AS DOUBLE)
                     AS confidence
            FROM sup s JOIN bs b USING (r1, r2)
            WHERE s.support >= 5
        """,
        "docs_chunks": """
            WITH tk AS (
              SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
              FROM documents WHERE trim(text) <> ''),
            st AS (
              SELECT doc_id, tk,
                     unnest(generate_series(0, greatest(len(tk) - 17, 0), 48))
                       AS start
              FROM tk)
            SELECT doc_id,
                   CAST(start // 48 AS BIGINT) AS chunk_idx,
                   CAST(least(64, len(tk) - start) AS BIGINT) AS n_tokens,
                   array_to_string(list_slice(tk, start + 1, start + 64), ' ')
                     AS chunk_text
            FROM st
        """,
        "evt_forward_fill": """
            SELECT user_id, event_id,
                   last_value(CASE WHEN event_type = 'purchase'
                                   THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS last_purchase_value
            FROM events
        """,
        "a1_datasource_triples": f"""
            SELECT h, t, r FROM read_parquet('{OKE}/train2id.parquet')
        """,
        "a1_datasource_dict": f"""
            SELECT name, id FROM read_parquet('{OKE}/entity2id.parquet')
        """,
        "a15_relation_ranks": f"""
            WITH
              test AS (SELECT * FROM read_parquet('{OKE}/test2id.parquet')),
              known AS ({_KNOWN}),
              ent AS (SELECT * FROM read_parquet('{OKE}/ent_emb_long.parquet')),
              rel AS (SELECT * FROM read_parquet('{OKE}/rel_emb_long.parquet')),
              rs AS (
                SELECT tt.h, tt.t, tt.r, cr.id AS cand,
                       sum(abs(he.val + cr.val - te.val)) AS score
                FROM test tt
                JOIN ent he ON he.id = tt.h
                JOIN ent te ON te.id = tt.t AND te.k = he.k
                JOIN rel cr ON cr.k = he.k
                GROUP BY tt.h, tt.t, tt.r, cr.id
              ),
              tr AS (SELECT h, t, r, score FROM rs WHERE cand = r),
              ranks AS (
                SELECT rs.h, rs.t, rs.r,
                  1 + count(*) FILTER (WHERE rs.score < tr.score)
                      AS rank_rel_raw,
                  1 + count(*) FILTER (WHERE rs.score < tr.score
                                         AND k.h IS NULL)
                      AS rank_rel_filt
                FROM rs
                JOIN tr ON rs.h = tr.h AND rs.t = tr.t AND rs.r = tr.r
                LEFT JOIN known k ON k.h = rs.h AND k.t = rs.t
                                 AND k.r = rs.cand AND k.r <> rs.r
                GROUP BY rs.h, rs.t, rs.r
              )
            SELECT * FROM ranks
        """,
        "txt_collocations": r"""
            WITH toks AS (
              SELECT doc_id, unnest(l) AS w1,
                     unnest(range(1, len(l) + 1)) AS pos
              FROM (SELECT doc_id,
                           list_filter(
                             string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '') AS l
                    FROM documents)
            ),
            big AS (
              SELECT doc_id, pos, w1,
                     lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
              FROM toks
            ),
            pc AS (
              SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
              FROM big GROUP BY w1, w2
            ),
            uni AS (
              SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c FROM pc GROUP BY w1
            ),
            tot AS (
              SELECT CAST(sum(n_pair) AS BIGINT) AS n_tok,
                     CAST(sum(n_pair) FILTER (WHERE w2 IS NOT NULL) AS BIGINT)
                         AS n_pairs
              FROM pc
            )
            SELECT p.w1, p.w2, p.n_pair,
                   round(ln((CAST(p.n_pair AS DOUBLE) * t.n_tok * t.n_tok)
                            / (CAST(u1.c AS DOUBLE) * u2.c * t.n_pairs)),
                         6) AS pmi
            FROM pc p
            JOIN uni u1 ON u1.w1 = p.w1
            JOIN uni u2 ON u2.w1 = p.w2
            CROSS JOIN tot t
            WHERE p.w2 IS NOT NULL AND p.n_pair >= 3
        """,
        "str_datasource_tail": f"""
            SELECT h, t, r FROM read_parquet('{OKE}/valid2id.parquet')
            UNION ALL
            SELECT h, t, r FROM read_parquet('{OKE}/test2id.parquet')
        """,
        "txt_unigram_logprob": r"""
            WITH dtc AS (
              SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
              FROM (SELECT doc_id,
                           unnest(list_filter(
                             string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '')) AS w
                    FROM documents)
              GROUP BY doc_id, w
            ),
            uni AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS c
                    FROM dtc GROUP BY w),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni)
            SELECT d.doc_id,
                   CAST(sum(d.cnt) AS BIGINT) AS n_tokens,
                   round(sum(CAST(d.cnt AS DOUBLE)
                             * (-ln(CAST(u.c AS DOUBLE) / t.n)))
                         / sum(d.cnt), 6) AS avg_nll
            FROM dtc d
            JOIN uni u ON u.w = d.w
            CROSS JOIN tot t
            GROUP BY d.doc_id
        """,
        "q19_discount_revenue": """
            SELECT CAST(count(*) AS BIGINT) AS n_items,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(1 - l_discount AS DECIMAL(4,2)))
                        AS DOUBLE) AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                     AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#7' AND p_size BETWEEN 5 AND 20
                     AND l_quantity BETWEEN 10 AND 35)
               OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 40
                     AND l_quantity BETWEEN 20 AND 50)
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(1 - l_discount AS DECIMAL(4,2)))
                        AS DOUBLE) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE l_shipdate BETWEEN '1996-01-01' AND '1997-12-31'
              AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            GROUP BY 1, 2, 3
        """,
        "ann_knn_label_accuracy": """
            WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
                              list_transform(embedding,
                                             x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            q AS (SELECT vec_id AS query_id, label AS true_label, v AS qv
                  FROM e WHERE vec_id < 64),
            top AS (
              SELECT query_id, true_label, nlabel FROM (
                SELECT q.query_id, q.true_label, e.label AS nlabel,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(q.qv, e.v) DESC,
                                    e.vec_id) AS rk
                FROM q JOIN e ON e.vec_id <> q.query_id)
              WHERE rk <= 10
            ),
            votes AS (SELECT query_id, true_label, nlabel, count(*) AS c
                      FROM top GROUP BY 1, 2, 3),
            pred AS (
              SELECT query_id, true_label, nlabel AS pred_label FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                              ORDER BY c DESC, nlabel) AS pr
                FROM votes)
              WHERE pr = 1
            )
            SELECT true_label AS label,
                   CAST(count(*) AS BIGINT) AS n_queries,
                   CAST(sum(CASE WHEN pred_label = true_label
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
                   CAST(sum(CASE WHEN pred_label = true_label
                                 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
                       AS accuracy
            FROM pred GROUP BY 1
        """,
        "q13_customer_distribution": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
              SELECT c.c_custkey,
                     CAST(count(o.o_orderkey) AS BIGINT) AS c_count
              FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey)
            GROUP BY c_count
        """,
        "q17_small_quantity_revenue": """
            WITH li AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#23'
            ), cut AS (
              SELECT l_partkey AS ck,
                     0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(12,2)))
                                 AS DOUBLE) / count(*)) AS qty_cut
              FROM li GROUP BY 1
            )
            SELECT CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS DOUBLE) / 7.0 AS avg_yearly
            FROM li JOIN cut ON l_partkey = ck
            WHERE l_quantity < qty_cut
        """,
        "q21_lone_failing_supplier": """
            WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
            f AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
                  WHERE l_returnflag = 'R')
            SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
            FROM f JOIN supplier ON f.l_suppkey = s_suppkey
            WHERE EXISTS (SELECT 1 FROM pairs p
                          WHERE p.l_orderkey = f.l_orderkey
                            AND p.l_suppkey <> f.l_suppkey)
              AND NOT EXISTS (SELECT 1 FROM f f2
                              WHERE f2.l_orderkey = f.l_orderkey
                                AND f2.l_suppkey <> f.l_suppkey)
            GROUP BY s_name
        """,
        "q22_idle_customers": """
            WITH cut AS (
              SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                     / count(*) AS bal_cut
              FROM customer WHERE c_acctbal > 0.0
            )
            SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                       AS totacctbal
            FROM customer CROSS JOIN cut
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > bal_cut
              AND NOT EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey
                GROUP BY o_custkey HAVING count(*) > 2)
            GROUP BY n_name
        """,
        "evt_markov_transitions": """
            WITH seq AS (
              SELECT event_type AS src,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS dst
              FROM events
            ), counts AS (
              SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
              FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
            )
            SELECT src, dst, n_transitions,
                   CAST(n_transitions AS DOUBLE)
                   / sum(n_transitions) OVER (PARTITION BY src) AS prob
            FROM counts
        """,
        "dq_drift_psi": """
            WITH b AS (
              SELECT least(9, CAST(floor(o_totalprice / 50000.0) AS BIGINT))
                         AS bucket,
                     (o_orderdate < TIMESTAMP '1998-01-01') AS is_expected
              FROM orders
            ), agg AS (
              SELECT bucket,
                     CAST(sum(CASE WHEN is_expected THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_expected,
                     CAST(sum(CASE WHEN is_expected THEN 0 ELSE 1 END)
                          AS BIGINT) AS n_actual
              FROM b GROUP BY 1
            ), tot AS (
              SELECT CAST(sum(n_expected) AS DOUBLE) AS tot_e,
                     CAST(sum(n_actual) AS DOUBLE) AS tot_a
              FROM agg
            )
            SELECT bucket, n_expected, n_actual,
                   round(((n_actual + 0.5) / (tot_a + 0.5 * 10.0)
                          - (n_expected + 0.5) / (tot_e + 0.5 * 10.0))
                         * ln(((n_actual + 0.5) / (tot_a + 0.5 * 10.0))
                              / ((n_expected + 0.5) / (tot_e + 0.5 * 10.0))),
                         10) AS psi_term
            FROM agg CROSS JOIN tot
        """,
        "cat_rollback": """
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents WHERE n_chars < 400
        """,
        "b7b_fuzzy_aliases": f"""
            WITH g AS (
              SELECT DISTINCT surface, lower(surface) AS l, canonical
              FROM {_GAZ}
            )
            SELECT a.surface AS surface_a, b.surface AS surface_b,
                   CAST(levenshtein(a.l, b.l) AS BIGINT) AS edit_dist,
                   (a.canonical = b.canonical) AS same_canonical
            FROM g a JOIN g b
              ON substr(a.l, 1, 1) = substr(b.l, 1, 1)
             AND abs(length(a.l) - length(b.l)) <= 2
             AND a.surface < b.surface
            WHERE levenshtein(a.l, b.l) <= 2
        """,
        "q8_market_share": """
            WITH j AS (
              SELECT year(o_orderdate) AS yr, n2.n_name AS supp_nation,
                     CAST(l_extendedprice AS DECIMAL(12,2))
                     * CAST(1 - l_discount AS DECIMAL(4,2)) AS rev
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region ON n1.n_regionkey = r_regionkey
                         AND r_name = 'AMERICA'
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
            )
            SELECT CAST(yr AS BIGINT) AS o_year,
                   CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                                 THEN rev ELSE 0 END) AS DOUBLE)
                   / CAST(sum(rev) AS DOUBLE) AS mkt_share
            FROM j GROUP BY 1
        """,
        "q9_product_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                            * CAST(1 - l_discount AS DECIMAL(4,2))
                            - 0.5 * CAST(p_retailprice AS DECIMAL(12,2))
                              * CAST(l_quantity AS DECIMAL(12,2)))
                        AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%red%'
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1, 2
        """,
        "evt_top_paths": """
            WITH p AS (
              SELECT user_id, CAST(ts AS DATE) AS day,
                     array_to_string(
                       list_slice(list(event_type ORDER BY ts, event_id),
                                  1, 8), '>') AS path
              FROM events GROUP BY 1, 2
            )
            SELECT path, CAST(count(*) AS BIGINT) AS n_user_days
            FROM p GROUP BY 1 HAVING count(*) >= 3
        """,
        "kg_entity_cooccurrence": f"""
            WITH ent AS (
              SELECT conv_id, subj_canon AS ent FROM {_GOLD}
              UNION
              SELECT conv_id, obj_canon FROM {_GOLD}
            ), per_ent AS (
              SELECT ent, CAST(count(*) AS BIGINT) AS n FROM ent GROUP BY 1
            ), pairs AS (
              SELECT a.ent AS ent_a, b.ent AS ent_b,
                     CAST(count(*) AS BIGINT) AS n_together
              FROM ent a JOIN ent b
                ON a.conv_id = b.conv_id AND a.ent < b.ent
              GROUP BY 1, 2 HAVING count(*) >= 2
            )
            SELECT ent_a, ent_b, n_together,
                   CAST(n_together AS DOUBLE) / (na.n + nb.n - n_together)
                       AS jaccard
            FROM pairs
            JOIN per_ent na ON ent_a = na.ent
            JOIN per_ent nb ON ent_b = nb.ent
        """,
        "q15_top_supplier": """
            WITH r AS (
              SELECT l_suppkey,
                     sum(CAST(l_extendedprice AS DECIMAL(12,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))) AS rev
              FROM lineitem
              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
              GROUP BY 1
            )
            SELECT s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_rev
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev = (SELECT max(rev) FROM r)
        """,
        "docs_mix_rebalance": """
            WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
            f AS (SELECT lang,
                         least(1.0, 100.0 / CAST(n AS DOUBLE)) AS frac
                  FROM c)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN f ON d.lang = f.lang
            WHERE (('0x' || substr(md5(CAST(77 || ':' || d.doc_id AS VARCHAR)),
                                   1, 15))::UBIGINT::DOUBLE + 1.0)
                  / 1152921504606846976.0 <= f.frac
        """,
        "kg_provenance": f"""
            WITH roles AS (
              SELECT subj_canon AS ent, conv_id, turn_idx, pred, 1 AS s
              FROM {_GOLD}
              UNION ALL
              SELECT obj_canon, conv_id, turn_idx, pred, 0 FROM {_GOLD}
            )
            SELECT ent,
                   CAST(count(*) AS BIGINT) AS n_mentions,
                   CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
                   CAST(sum(s) AS BIGINT) AS n_as_subj,
                   CAST(sum(1 - s) AS BIGINT) AS n_as_obj,
                   CAST(count(DISTINCT pred) AS BIGINT) AS n_preds,
                   CAST(min(turn_idx) AS BIGINT) AS first_turn
            FROM roles GROUP BY ent
        """,
        "txt_lexical_stats": """
            WITH t AS (
              SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
                AS token
              FROM documents),
            f AS (
              SELECT token, count(*) AS n
              FROM t WHERE token <> '' GROUP BY token)
            SELECT CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hapax,
                   CAST(max(n) AS BIGINT) AS max_freq,
                   CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                       AS type_token_ratio
            FROM f
        """,
        "a7e_simple_scores": _SQL_SIMPLE,
        "a7f_rescal_scores": _SQL_RESCAL,
        "kg_k_truss": """
            WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
            e0 AS (
              SELECT x.l_partkey AS a, y.l_partkey AS b
              FROM lp x JOIN lp y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
              GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            t0 AS (
              SELECT e1.a, e1.b, e2.b AS c FROM e0 e1
              JOIN e0 e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN e0 e3 ON e3.a = e1.b AND e3.b = e2.b
            ),
            s0 AS (
              SELECT a, b, count(*) AS sup FROM (
                SELECT a, b FROM t0
                UNION ALL SELECT a, c FROM t0
                UNION ALL SELECT b, c FROM t0
              ) GROUP BY 1, 2
            ),
            e1 AS (
              SELECT e0.a, e0.b FROM e0 JOIN s0 USING (a, b) WHERE sup >= 1
            ),
            t1 AS (
              SELECT x.a, x.b, y.b AS c FROM e1 x
              JOIN e1 y ON y.a = x.a AND y.b > x.b
              JOIN e1 z ON z.a = x.b AND z.b = y.b
            ),
            s1 AS (
              SELECT a, b, count(*) AS sup FROM (
                SELECT a, b FROM t1
                UNION ALL SELECT a, c FROM t1
                UNION ALL SELECT b, c FROM t1
              ) GROUP BY 1, 2
            )
            SELECT e1.a, e1.b,
                   CAST(coalesce(s1.sup, 0) AS BIGINT) AS support
            FROM e1 LEFT JOIN s1 USING (a, b)
        """,
        "a15_ranks_distmult": f"""
            WITH {_RANK_CTES_DISTMULT}
            SELECT * FROM ranks
        """,
        "kg_functional_resolution": f"""
            WITH g AS (
              SELECT subj_canon, pred, obj_canon, conv_id, turn_idx
              FROM {_GOLD}
              WHERE pred IN ('livesIn', 'worksAt', 'ceoOf', 'bornIn')
            ), ranked AS (
              SELECT subj_canon, pred, obj_canon,
                     row_number() OVER (
                       PARTITION BY subj_canon, pred
                       ORDER BY conv_id DESC, turn_idx DESC, obj_canon DESC
                     ) AS rn,
                     CAST(count(*) OVER (PARTITION BY subj_canon, pred)
                          AS BIGINT) AS n_attestations,
                     CAST(count(DISTINCT obj_canon) OVER (
                       PARTITION BY subj_canon, pred) AS BIGINT)
                         AS n_conflicting_values
              FROM g
            )
            SELECT subj_canon AS subj, pred, obj_canon AS obj,
                   n_attestations, n_conflicting_values
            FROM ranked WHERE rn = 1
        """,
        "cat_wap_publish": """
            SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
            FROM documents
        """,
        "a17_metrics_distmult": f"""
            WITH {_RANK_CTES_DISTMULT},
            both_ AS (
                SELECT rank_head_raw AS raw, rank_head_filt AS filt FROM ranks
                UNION ALL
                SELECT rank_tail_raw AS raw, rank_tail_filt AS filt FROM ranks
            )
            SELECT
              round(avg(raw), 9) AS mr_raw,
              round(avg(1.0/raw), 9) AS mrr_raw,
              round(avg(CASE WHEN raw <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_raw,
              round(avg(CASE WHEN raw <= 3 THEN 1.0 ELSE 0.0 END), 9) AS hits3_raw,
              round(avg(CASE WHEN raw <= 1 THEN 1.0 ELSE 0.0 END), 9) AS hits1_raw,
              round(avg(filt), 9) AS mr_filt,
              round(avg(1.0/filt), 9) AS mrr_filt,
              round(avg(CASE WHEN filt <= 10 THEN 1.0 ELSE 0.0 END), 9) AS hits10_filt,
              round(avg(CASE WHEN filt <= 3 THEN 1.0 ELSE 0.0 END), 9) AS hits3_filt,
              round(avg(CASE WHEN filt <= 1 THEN 1.0 ELSE 0.0 END), 9) AS hits1_filt
            FROM both_
        """,
        "a15_ranks_complex": f"""
            WITH {_RANK_CTES_COMPLEX}
            SELECT * FROM ranks
        """,
        "a15_ranks_rotate": f"""
            WITH {_RANK_CTES_ROTATE}
            SELECT * FROM ranks
        """,
        "a7g_analogy_scores": _SQL_ANALOGY,
        "a7h_hole_scores": _SQL_HOLE,
        "a15_ranks_analogy": f"""
            WITH {_RANK_CTES_ANALOGY}
            SELECT * FROM ranks
        """,
        "a15_ranks_hole": f"""
            WITH {_RANK_CTES_HOLE}
            SELECT * FROM ranks
        """,
        "cat_partition_evolution": """
            SELECT event_id, user_id, event_type,
                   CAST(event_id % 4 AS BIGINT) AS bucket
            FROM events
        """,
        "a17_kernel_leaderboard": _LEADERBOARD_SQL,
        "kg_ntriples_roundtrip": """
            SELECT c_name AS s, 'in_nation' AS p, n_name AS o
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "kg_nquads_provenance_roundtrip": """
            SELECT c_name AS s, 'in_nation' AS p, n_name AS o,
                   c_mktsegment AS g
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "txt_duplicate_spans": r"""
            WITH words AS (
              SELECT doc_id, w AS word, ord FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\s+')) AS w,
                       unnest(generate_series(
                         1, len(string_split_regex(trim(text), '\s+')))) AS ord
                FROM documents
              ) WHERE w <> ''
            ),
            led AS (
              SELECT doc_id, ord, word,
                     lead(word, 1) OVER dw AS w1, lead(word, 2) OVER dw AS w2,
                     lead(word, 3) OVER dw AS w3, lead(word, 4) OVER dw AS w4,
                     lead(word, 5) OVER dw AS w5, lead(word, 6) OVER dw AS w6,
                     lead(word, 7) OVER dw AS w7
              FROM words
              WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)
            ),
            grams AS (
              SELECT doc_id, ord AS pos,
                     concat_ws(' ', word, w1, w2, w3, w4, w5, w6, w7) AS gram
              FROM led WHERE w7 IS NOT NULL
            ),
            dup AS (
              SELECT gram FROM grams
              GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
            ),
            occ AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
            sweep AS (
              SELECT doc_id, pos,
                     max(pos + 7) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS runmax
              FROM occ
            ),
            cov AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS n_dup_grams,
                     CAST(sum(greatest(
                       0, pos + 7 - greatest(coalesce(runmax, pos - 1), pos - 1)
                     )) AS BIGINT) AS dup_tokens
              FROM sweep GROUP BY doc_id
            ),
            tok AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
              FROM words GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(tok.n_tokens, 0) AS n_tokens,
                   COALESCE(cov.n_dup_grams, 0) AS n_dup_grams,
                   COALESCE(cov.dup_tokens, 0) AS dup_tokens,
                   CASE WHEN COALESCE(tok.n_tokens, 0) > 0
                        THEN CAST(COALESCE(cov.dup_tokens, 0) AS DOUBLE)
                             / CAST(tok.n_tokens AS DOUBLE)
                        ELSE 0.0 END AS dup_token_frac
            FROM documents d
            LEFT JOIN tok USING (doc_id)
            LEFT JOIN cov USING (doc_id)
        """,
        "a4_constrained_negatives": f"""
            SELECT CAST(2 * count(*) AS BIGINT) AS n_neg,
                   CAST(0 AS BIGINT) AS n_known_violations,
                   CAST(0 AS BIGINT) AS n_domain_violations,
                   CAST(0 AS BIGINT) AS n_range_violations
            FROM read_parquet('{OKE}/train2id.parquet')
        """,
        "a11_softplus_distmult": """
            SELECT 'distmult_softplus' AS model,
                   true AS improved, true AS finite
        """,
        "a11_selfadv_rotate": """
            SELECT 'rotate_selfadv' AS model,
                   true AS improved, true AS finite, true AS unit_modulus
        """,
    }
