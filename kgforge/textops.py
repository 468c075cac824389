"""Training-data text operations over a ``documents(doc_id, text, ...)``
table — the large-scale pipeline extensions (dedup family, language ID,
quality scoring, token counting, fingerprinting).

Everything here is expressed with built-in ``pyspark.sql.functions``
(JVM-side, whole-stage-codegen) wherever the semantics allow; only
MinHash/SimHash signatures drop to vectorized NumPy in ``mapInPandas``.
Each SQL-expressible op has a matching DuckDB oracle in
``__spark_entry__.oracle_sql`` — the arithmetic is written identically
in both dialects so results match bit-for-bit (integer counts, IEEE
double division; no engine-ordered float accumulation in outputs).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import splitmix64

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def normalize_text(col):
    """Whitespace-collapse + lowercase — the exact-dedup key."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup on normalized text: survivor = min doc_id per group.

    Hash aggregation (one shuffle on the md5 key, partial agg map-side).
    Output: ``doc_id, fingerprint, group_size``.
    """
    return (
        docs.select(
            "doc_id", F.md5(normalize_text("text")).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("group_size"),
        )
        .select("doc_id", "fingerprint", "group_size")
    )


def incremental_exact_dedup(new_docs: DataFrame, existing: DataFrame) -> DataFrame:
    """Incremental corpus ingestion dedup: of a NEW document batch,
    keep only rows whose normalized-text fingerprint is (a) absent from
    the ``existing`` corpus and (b) the batch-local survivor (min
    doc_id per fingerprint) — the step an append-only training corpus
    runs on every drop instead of re-deduplicating the whole corpus.

    Output: ``(doc_id, fingerprint)`` of the rows to append.

    Plan shape: the existing side reduces to DISTINCT fingerprints
    (hash agg, map-side partials) before a LEFT ANTI join on the
    16-byte md5 key — never a full-text comparison and never a rescan
    of existing payloads; the batch-local survivor pick is one more agg
    on the same key, so both shuffles hash the same column. At 100 TB
    the existing fingerprint set is the natural bucketed table: write
    it bucketed by fingerprint once and the anti join is co-located.
    """
    new_fp = new_docs.select(
        "doc_id", F.md5(normalize_text("text")).alias("fingerprint")
    )
    seen = existing.select(
        F.md5(normalize_text("text")).alias("fingerprint")
    ).dropDuplicates(["fingerprint"])
    fresh = new_fp.join(seen, "fingerprint", "left_anti")
    return (
        fresh.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fingerprint")
    )


def fingerprint_docs(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of normalized text (+ lengths)."""
    return docs.select(
        "doc_id",
        F.md5(normalize_text("text")).alias("fingerprint"),
        F.length("text").cast("long").alias("len_raw"),
        F.length(normalize_text("text")).cast("long").alias("len_norm"),
    )


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + BPE-ish subword-regex tokens per document.

    ``n_tokens_ws``: split on whitespace runs. ``n_tokens_bpe``: count of
    ``\\w+|[^\\w\\s]`` matches (words + isolated punctuation — the
    standard pre-tokenizer shape).
    """
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens_ws"),
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0)).cast("long").alias("n_tokens_bpe"),
        F.length("text").cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = r"\b(the|and|of|to|in|is|a|that|it|for)\b"
_PUNCT = r"[^\w\s]"


def _n_tokens_expr():
    return F.size(F.split(F.trim("text"), r"\s+"))


def _quality_ok_expr():
    n_chars = F.length("text")
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(_PUNCT), 0))
    return (
        (_n_tokens_expr() >= 5)
        & (n_chars >= 20)
        & ((n_punct.cast("double") / n_chars.cast("double")) < 0.2)
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword heuristics (Gopher-rules style).

    All ratios are exact IEEE doubles from integer counts (identical in
    the DuckDB oracle). ``quality_ok`` is the boolean gate.
    """
    low = F.lower(F.col("text"))
    n_chars = F.length("text")
    n_tokens = _n_tokens_expr()
    n_stop = F.size(F.regexp_extract_all(low, F.lit(_STOPWORDS), 0))
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(_PUNCT), 0))
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_text"),
        n_tokens.cast("long").alias("n_tokens"),
        (n_chars.cast("double") / n_tokens.cast("double")).alias("mean_token_len"),
        (n_stop.cast("double") / n_tokens.cast("double")).alias("stopword_ratio"),
        (n_punct.cast("double") / n_chars.cast("double")).alias("punct_ratio"),
        _quality_ok_expr().alias("quality_ok"),
    )


# ---------------------------------------------------------------------------
# language ID (n-gram / stopword heuristic)
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|is|was|with)\b",
    "fr": r"\b(le|la|les|et|est|une|dans)\b",
    "de": r"\b(der|die|das|und|ist|mit|ein)\b",
    "es": r"\b(el|los|las|es|una|con|para)\b",
}
LANG_ORDER = ["en", "fr", "de", "es"]


def _lang_pred_expr():
    low = F.lower(F.col("text"))
    counts = {
        lang: F.size(F.regexp_extract_all(low, F.lit(rx), 0))
        for lang, rx in LANG_MARKERS.items()
    }
    best = F.lit("und")
    best_n = F.lit(0)
    for lang in reversed(LANG_ORDER):  # earlier langs win ties -> apply last
        c = counts[lang]
        best = F.when(c >= F.greatest(best_n, F.lit(1)), F.lit(lang)).otherwise(best)
        best_n = F.greatest(best_n, c)
    return counts, best


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-word-count argmax language guess; 'und' when all zero.

    Ties break in LANG_ORDER — the oracle SQL uses the same nested CASE.
    """
    counts, best = _lang_pred_expr()
    cols = [counts[lang].cast("long").alias(f"n_{lang}") for lang in LANG_ORDER]
    return docs.select("doc_id", *cols, best.alias("lang_pred"))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact) near-dup pairs
# ---------------------------------------------------------------------------

def hashed_gram_table(docs: DataFrame, n: int = 3) -> DataFrame:
    """``(doc_id, grams array<long>)`` — distinct word-n-grams, hashed
    with ``xxhash64`` (JVM-side; 64-bit collisions are negligible at any
    realistic shingle cardinality).

    ``localCheckpoint`` is deliberate: the gram expression is a
    higher-order ``transform`` that Spark evaluates *interpreted* (no
    codegen) and re-evaluates once per downstream reference — measured
    4× re-evaluation (explode's non-empty filter + both join sides) cost
    ~9 s of a 15 s query at sf0.1. Materializing the hashed table once
    (it is ~10 longs per doc, far smaller than the text) and truncating
    lineage is the right trade at any scale.
    """
    from .session import ensure_min_partitions

    docs = ensure_min_partitions(docs)
    toks = docs.select(
        "doc_id",
        F.split(normalize_text("text"), r"\s+").alias("toks"),
    )
    grams = toks.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                lambda i: F.xxhash64(F.array_join(F.slice("toks", i + 1, n), " ")),
            )
        ).alias("grams"),
    )
    return grams.localCheckpoint()


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.8, df_cap: int | None = 10_000
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity pairs (a < b) above threshold.

    Pair generation is the classic inverted-index self-join on shingle
    keys — only docs *sharing* a shingle ever pair, never a cross join —
    plus the size prefilter ``min(|A|,|B|) >= t*max(|A|,|B|)`` (exact:
    Jaccard <= min/max).

    ``df_cap`` is the 100 TB skew guard: shingles held by more than
    ``df_cap`` docs (stop-shingles — 'of the and' pairs every doc with
    every doc, a quadratic blowup) are excluded from *pair generation*,
    and candidates are then verified exactly against the full gram
    arrays (``array_intersect``), so any reported Jaccard is exact. A
    true pair is missed only if ALL its shared shingles are stop-
    shingles — at a near-dup threshold a pair shares a large fraction of
    its (mostly discriminative) shingles, so the generous default
    (10,000) keeps recall 1.0 in practice while bounding join fan-out at
    ``df_cap^2`` per shingle. The guard is ON by default — the quadratic
    unguarded join requires an explicit ``df_cap=None`` opt-out (only
    sensible as a small-corpus oracle baseline). Use
    :func:`ngram_df_capped_stats` to observe how many shingles a cap
    drops.
    """
    grams = hashed_gram_table(docs, n)
    ex = grams.select(
        "doc_id",
        F.size("grams").cast("long").alias("ng"),
        F.explode("grams").alias("g"),
    )
    if df_cap is not None:
        # one df pass shared by the kept-filter AND the dropped-gram
        # side tables below (was computed once per join side: two full
        # Exchange+HashAggregate subtrees in the executed plan)
        dfreq = (
            ex.groupBy("g").agg(F.count("*").alias("df")).localCheckpoint(eager=False)
        )
        ex_gen = ex.join(
            dfreq.where((F.col("df") >= 2) & (F.col("df") <= df_cap)).select("g"), "g"
        )
    else:
        ex_gen = ex
    a = ex_gen.select(F.col("doc_id").alias("a"), F.col("ng").alias("na"), "g")
    b = ex_gen.select(F.col("doc_id").alias("b"), F.col("ng").alias("nb"), "g")
    joined = a.join(b, "g").where(
        (F.col("a") < F.col("b"))
        & (F.col("na") >= threshold * F.col("nb"))
        & (F.col("nb") >= threshold * F.col("na"))
    )
    # shared-KEPT-shingle count per candidate pair falls out of the same
    # shuffle the old dropDuplicates paid (partial map-side agg either
    # way) — but c is exact for the kept universe, so most candidates
    # can be rejected WITHOUT ever touching the gram arrays.
    cnt = joined.groupBy("a", "b", "na", "nb").agg(F.count("*").alias("c"))
    if df_cap is None:
        # uncapped: every shared df>=2 shingle is in the join, c IS |A∩B|
        inter = cnt.withColumnRenamed("c", "n_common")
    else:
        # Exact composition instead of the old full-array verify join:
        #   n_common = c + |dropped(A) ∩ dropped(B)|
        # (df=1 shingles are shared by nobody; kept shingles are counted
        # exactly by c; only df>df_cap stop-shingles are missing). The
        # sound upper bound  c + min(|dropped(A)|, |dropped(B)|)  >=
        # n_common rejects pairs below threshold BEFORE the (tiny)
        # dropped-array intersect — jaccard is monotone in n_common, so
        # no true pair is lost and survivors are verified exactly.
        dropped_docs = (
            ex.join(dfreq.where(F.col("df") > df_cap).select("g"), "g")
            .groupBy("doc_id")
            .agg(F.collect_list("g").alias("_dg"))
        )
        nd_a = dropped_docs.select(
            F.col("doc_id").alias("a"), F.col("_dg").alias("_dga")
        )
        nd_b = dropped_docs.select(
            F.col("doc_id").alias("b"), F.col("_dg").alias("_dgb")
        )
        ub = F.col("c") + F.least(
            F.coalesce(F.size("_dga"), F.lit(0)),
            F.coalesce(F.size("_dgb"), F.lit(0)),
        ).cast("long")
        n_common = F.col("c") + F.when(
            F.col("_dga").isNotNull() & F.col("_dgb").isNotNull(),
            F.size(F.array_intersect("_dga", "_dgb")).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        inter = (
            cnt.join(nd_a, "a", "left")
            .join(nd_b, "b", "left")
            .where(
                ub.cast("double") / (F.col("na") + F.col("nb") - ub).cast("double")
                >= threshold
            )
            .select("a", "b", "na", "nb", n_common.alias("n_common"))
        )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_df_capped_stats(docs: DataFrame, n: int = 3, df_cap: int = 100) -> dict:
    """Observability for the ``df_cap`` skew guard: how many shingles /
    how much join fan-out a cap removes. One aggregation over the gram
    table; bench logs this so a silent cap is impossible."""
    ex = hashed_gram_table(docs, n).select("doc_id", F.explode("grams").alias("g"))
    row = (
        ex.groupBy("g")
        .agg(F.count("*").alias("df"))
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("df") > df_cap, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("pairs_uncapped"),
            F.sum(
                F.when(F.col("df") <= df_cap, F.col("df") * (F.col("df") - 1) / 2).otherwise(0)
            ).alias("pairs_capped"),
            F.max("df").alias("max_df"),
        )
        .collect()[0]
    )
    return {k: (int(v) if v is not None else 0) for k, v in row.asDict().items()}


# ---------------------------------------------------------------------------
# SimHash + MinHash-LSH near-dup (signature-based scale path)
# ---------------------------------------------------------------------------

def simhash_docs(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash over word tokens (vectorized NumPy per Arrow batch).

    Near-dups have small Hamming distance; pairing is done by banding the
    hash into 4 x 16-bit keys (exact match on any band → candidate; see
    :func:`simhash_candidate_pairs`).
    Output: ``doc_id, simhash (bigint)``.
    """
    schema = "doc_id long, simhash long"

    from .hashing import fnv1a_tokens, pad_tokens
    from .session import ensure_min_partitions
    from .stages.canonicalize import hash_shingle, row_chunks

    docs = ensure_min_partitions(docs)

    shifts = np.arange(bits, dtype=np.uint64)

    def _sigs_from_token_hashes(hs: np.ndarray, counts: np.ndarray) -> np.ndarray:
        """Token hashes (grouped by doc) → packed majority-bit simhash.

        Doc-chunked so the [tokens, bits] temporary stays small enough
        for glibc heap reuse (see canonicalize.row_chunks).
        """
        bounds = np.concatenate(([0], np.cumsum(counts)))
        out = np.empty(len(counts), dtype=np.int64)
        for lo, hi in row_chunks(bounds, 16384):
            h = hs[bounds[lo]:bounds[hi]]
            idx = (bounds[lo:hi] - bounds[lo]).astype(np.int64)
            bitmat = ((h[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
            sums = np.add.reduceat(bitmat, idx, axis=0)  # [docs, bits]
            maj = (sums * 2 > counts[lo:hi, None]).astype(np.uint64)
            packed = (maj << shifts).sum(axis=1, dtype=np.uint64)
            out[lo:hi] = (packed >> np.uint64(1)).astype(np.int64)  # sign-safe
        return out

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            out = np.zeros(len(pdf), dtype=np.int64)
            token_lists = pdf["text"].str.lower().str.split()
            vec_rows, vec_tokens, vec_counts = [], [], []
            for i, toks in enumerate(token_lists):
                if not isinstance(toks, list) or not toks:
                    continue  # simhash 0
                if all(t.isascii() for t in toks):
                    vec_rows.append(i)
                    vec_tokens.extend(t.encode() for t in toks)
                    vec_counts.append(len(toks))
                else:
                    # scalar fallback (non-ASCII tokens) — same hash values
                    hs = splitmix64(
                        np.array([hash_shingle(w, 42) for w in toks], dtype=np.uint64)
                    )
                    out[i] = _sigs_from_token_hashes(hs, np.array([len(toks)]))[0]
            if vec_rows:
                padded, lens = pad_tokens(vec_tokens)
                hs = splitmix64(fnv1a_tokens(padded, lens, 42))
                counts = np.asarray(vec_counts, dtype=np.int64)
                out[vec_rows] = _sigs_from_token_hashes(hs, counts)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return docs.select("doc_id", "text").mapInPandas(fn, schema)


def simhash_candidate_pairs(sim: DataFrame, band_bits: int = 16, max_hamming: int = 6) -> DataFrame:
    """Band the 63-bit simhash into ``ceil(63 / band_bits)`` keys of
    ``band_bits`` bits (4 x 16 at the default, the last band 15 bits);
    docs equal on any band are candidates (:func:`~kgforge.stages.
    canonicalize.band_pairs`); verify by exact Hamming distance
    (bit_count of xor). Pigeonhole: a pair at Hamming distance < the
    band count keeps one band intact, so it is always a candidate.

    The pair ids are ``struct(doc_id, simhash)``: structs order by
    their first field, so pairs and their dedup are those of
    ``doc_id``, and the verify reads both hashes without a join back.
    """
    from .stages.canonicalize import band_pairs

    n_bands = math.ceil(63 / band_bits)
    banded = sim.select(
        F.struct("doc_id", "simhash").alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bucket")
    return (
        band_pairs(banded, "id")
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def char_shingle_table(docs: DataFrame, k: int = 5, seed: int = 42) -> DataFrame:
    """``(doc_id, shingles array<long>)`` — sorted distinct hashed char
    k-shingles per doc: :func:`~kgforge.stages.canonicalize.
    normalize_names`, then :func:`~kgforge.stages.canonicalize.
    shingle_hashes` + ``shingle_sets`` per Arrow batch (same values as
    ``hash_shingle`` over the ``char_shingles`` string set, so Jaccard
    over these arrays equals Jaccard over the string sets, collisions
    aside).

    Computing shingles ONCE per doc and verifying pairs with JVM
    ``array_intersect`` replaces per-pair Python set shingling — the
    pair side only ever joins against this table.
    """
    from .session import ensure_min_partitions
    from .stages.canonicalize import normalize_names, shingle_hashes, shingle_sets

    docs = ensure_min_partitions(docs)
    schema = f"doc_id {dict(docs.dtypes)['doc_id']}, shingles array<long>"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            norm = normalize_names(pdf["text"]).tolist()
            out = shingle_sets(shingle_hashes(norm, k, seed), len(norm))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "shingles": out})

    return docs.select("doc_id", "text").mapInPandas(fn, schema)


def exact_char_jaccard_pairs(
    docs: DataFrame, k: int = 5, threshold: float = 0.5, seed: int = 42
) -> DataFrame:
    """Exact char-k-shingle Jaccard pairs (a < b) >= threshold — the
    brute-force truth the LSH dedup paths are containment-checked
    against. Shingle arrays computed once per doc; the all-pairs
    ``crossJoin`` carries only (id, array) and verifies with
    :func:`~kgforge.stages.canonicalize.verify_jaccard`. O(N^2) by
    design (it IS the oracle baseline)."""
    from .stages.canonicalize import verify_jaccard

    sh = char_shingle_table(docs, k, seed).localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id").alias("a"), F.col("shingles").alias("_sa"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("shingles").alias("_sb"))
    return verify_jaccard(a.crossJoin(b).where(F.col("a") < F.col("b")), threshold)


def minhash_neardup_docs(
    docs: DataFrame, n_perm: int = 64, n_bands: int = 16, threshold: float = 0.7,
    shingle_k: int = 5, max_bucket: int = 100,
) -> DataFrame:
    """MinHash-LSH near-duplicate document pairs (scale path for dedup):
    the B7 chain :func:`~kgforge.stages.canonicalize.minhash_lsh_pairs`
    keyed by ``doc_id`` over char ``shingle_k``-shingles of ``text``, on
    a min-parallelism-guarded input.
    Output: ``a, b, jaccard`` (doc_id pairs).
    """
    from .session import ensure_min_partitions
    from .stages.canonicalize import minhash_lsh_pairs

    return minhash_lsh_pairs(
        ensure_min_partitions(docs), "doc_id", "text", shingle_k, n_perm, n_bands,
        max_bucket, threshold,
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 10, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus TF-IDF with smoothed idf; the top-``k`` terms per document.

    ``tfidf = tf * (ln((N + 1) / (df + 1)) + 1)`` over ``[a-z0-9]+``
    tokens of the lowercased text (both factors double; rounded to 6
    decimals so cross-engine float ordering is stable).

    Scale shape: the token explode is a narrow map (no shuffle); ``tf``
    is one shuffle on (doc, term); ``df``/``idf`` re-aggregate BY TERM —
    a second token-scale shuffle that is inherent to idf (term-aligned
    statistics cannot ride the doc-aligned partitioning); the
    vocabulary-sized idf table then joins back to ``tf`` (AQE
    broadcasts it while the vocabulary fits, falls back to a shuffle
    join beyond that); the per-doc top-k window is bounded by each
    document's own distinct-term count, never partition size.

    Output: ``doc_id, term, tf, idf, tfidf, rk`` (rk 1..k by tfidf
    desc, term asc).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("term"),
    )
    # tf feeds both the scored join and (via df_t) the idf side; the
    # doubled subtree costs nothing extra — the executed plan reuses the
    # (doc, term) aggregation exchange (ReusedExchange), verified at the
    # 10x corpus (checkpointing it measured zero gain)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n_docs = docs.select(F.countDistinct(id_col).alias("n_docs"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = df_t.crossJoin(F.broadcast(n_docs)).select(
        "term",
        (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)).alias(
            "idf"
        ),
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.round("idf", 6).alias("idf"),
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("doc_id", "term", "tf", "idf", "tfidf", "rk")
    )


def length_quantiles(
    docs: DataFrame,
    col: str = "n_chars",
    probs: tuple = (0.25, 0.5, 0.75, 0.99),
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Quantiles of a numeric column (one row).

    ``exact=True`` (default): Spark's exact ``percentile`` (sort-based,
    SQL-standard continuous interpolation — matches DuckDB
    ``quantile_cont`` to the bit); the oracle anchor.

    ``exact=False``: ``percentile_approx`` (Greenwald-Khanna sketch,
    single pass, no global sort, mergeable across partitions) — the
    100 TB profiling path. Guarantee: each result is a REAL element of
    the column whose rank error is ≤ num_rows/``accuracy``, so at the
    default accuracy the reported quantile's rank is within 0.01 % of
    the requested one.
    """
    arr = ", ".join(str(p) for p in probs)
    fn_expr = (
        f"percentile({col}, array({arr}))"
        if exact
        else f"percentile_approx({col}, array({arr}), {accuracy})"
    )
    q = docs.select(F.expr(fn_expr).alias("q"))
    return q.select(
        *[
            F.col("q")[i].cast("double").alias(f"q{int(p * 100)}")
            for i, p in enumerate(probs)
        ]
    )


def _md5_threshold(frac: float) -> str:
    """Fraction of the md5 space as a 32-hex-char threshold string:
    ``md5(key) < threshold`` keeps ~``frac`` of keys. Lexicographic
    comparison of fixed-width lowercase hex is monotone in value, so the
    gate replays EXACTLY in any engine with a standard md5() — no
    engine-specific hash or hex-to-int conversion involved.

    ``frac >= 1.0`` returns ``"g"``: every hex digest compares below it
    ('f' < 'g'), so a keep-everything stratum truly keeps everything —
    clamping to ff..ff with a strict ``<`` would exclude a key whose
    digest is exactly ff..ff (probability 2^-128, but zero is better)."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"fraction {frac} outside [0, 1]")
    if frac >= 1.0:
        return "g"
    v = min(int(round(frac * (1 << 128))), (1 << 128) - 1)
    return format(v, "032x")


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    key_col: str = "doc_id",
    default_frac: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-balancing
    step of a training-data pipeline (e.g. keep 100 % of a rare
    language, 5 % of an over-represented one).

    A row survives iff ``md5(cast(key))`` falls below its stratum's
    share of the hash space. Properties that matter at 100 TB: no RNG
    state, no shuffle (a narrow filter the scanner can pipeline),
    partitioning-independent, stable under re-runs and retries, and the
    SAME rows are selected by any engine (the contract oracle replays
    the gate in SQL). Strata thresholds ride in a literal map —
    dictionary-sized by definition.
    """
    pairs = []
    for k, f in fractions.items():
        pairs += [F.lit(k), F.lit(_md5_threshold(f))]
    gate = F.coalesce(
        F.create_map(*pairs)[F.col(strata_col)] if pairs else F.lit(None),
        F.lit(_md5_threshold(default_frac)),
    )
    return docs.where(F.md5(F.col(key_col).cast("string").cast("binary")) < gate)


def mix_rebalance(
    docs: DataFrame,
    target_per_key: int = 100,
    strata_col: str = "lang",
    key_col: str = "doc_id",
    seed: int = 77,
) -> DataFrame:
    """Corpus mixture rebalancing with DATA-DEPENDENT fractions: cap
    every stratum at ``target_per_key`` expected rows (over-represented
    strata downsample to the target, rare strata pass through whole) —
    the "mix the training set 1:1:1 across languages/sources" step of
    an LLM data pipeline.

    Unlike :func:`stratified_sample` (caller-given literal fractions),
    the keep-fraction here is computed IN-ENGINE from the stratum
    counts (``least(1.0, target/n)``) and ridden back on a broadcast
    join, so no fraction ever leaves the plan — the whole operation is
    one small agg + one broadcast join + a narrow filter; the big table
    never shuffles. The gate itself is the engine-replayable uniform
    key (first 15 md5 hex digits of ``seed:key`` → IEEE double), same
    contract as the weighted sampler — deterministic, partitioning-
    independent, identical row set on any engine."""
    counts = docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    frac = counts.select(
        F.col(strata_col).alias("_k"),
        F.least(
            F.lit(1.0), F.lit(float(target_per_key)) / F.col("_n").cast("double")
        ).alias("_frac"),
    )
    m = F.md5(F.concat_ws(":", F.lit(int(seed)), F.col(key_col)).cast("binary"))
    vnum = F.conv(F.substring(m, 1, 15), 16, 10).cast("double")
    u01 = (vnum + F.lit(1.0)) / F.lit(1152921504606846976.0)  # 16^15
    return (
        docs.join(F.broadcast(frac), docs[strata_col] == F.col("_k"))
        .where(u01 <= F.col("_frac"))
        .drop("_k", "_frac")
    )


def training_corpus_filter(docs: DataFrame, lang: str = "en") -> DataFrame:
    """Composite training-data pipeline: quality gate ∧ language gate →
    exact dedup of the survivors — the canonical pre-training corpus
    cleanup, composed from this module's own operators so the pieces are
    exercised TOGETHER (the user story, not just per-op oracles).

    Shapes: the two gates are narrow per-doc maps (no shuffle — the
    joins on doc_id collapse to one scan under AQE at small scale and
    stay doc-partitioned at large); :func:`exact_dedup` contributes the
    only required shuffle (md5-key hash agg, map-side partial).

    Output: ``doc_id`` (group survivor = min id), ``fingerprint``,
    ``group_size``, ``n_tokens``.
    """
    # NOTE (r6 optimization round): a fully fused single-scan variant
    # (gates + md5 + n_tokens inline, survivor n_tokens via min_by) was
    # implemented and A/B-measured at the 10x corpus: 4.34 s vs 3.71 s
    # for this composed shape — the extra scans are trivial at bench
    # scale and the composed broadcast-join form pipelines better, so
    # the composed form stays (it is also the documented user story).
    q = quality_scores(docs).where("quality_ok").select("doc_id", "n_tokens")
    gate = lang_id(docs).where(F.col("lang_pred") == lang).select("doc_id")
    kept = docs.select("doc_id", "text").join(q.select("doc_id"), "doc_id").join(gate, "doc_id")
    ded = exact_dedup(kept)
    return ded.join(q, "doc_id").select(
        "doc_id",
        "fingerprint",
        F.col("group_size").cast("long").alias("group_size"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def neardup_groups(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Canonical near-duplicate GROUPS from a verified pair table —
    the step that turns pairwise dedup output into the actual corpus
    operation ("keep one document per duplicate cluster"): ``(doc_id,
    group_id, group_size, is_canonical)`` for EVERY document, where
    ``group_id`` is the smallest doc_id in the pair-graph component
    (singletons group with themselves) and ``is_canonical`` marks the
    one representative per group (doc_id == group_id, i.e. the min).

    Near-duplication is not transitive, so pair output alone
    over-deletes (A~B, B~C, drop B and C loses C's unique content
    twice) or under-deletes; grouping by connected components over the
    pair graph is the standard resolution (same policy as the entity
    canonicalizer, B7→B8). Plan: the B8 CC loop runs on the
    PAIR graph — component-count-sized, tiny next to the corpus — then
    one left join back to the doc table and one group-size aggregation.
    Filtering ``is_canonical`` yields the deduplicated corpus;
    ``group_size > 1`` yields the duplicate report.
    """
    from .stages.canonicalize import connected_components

    cc = connected_components(pairs.select("a", "b"))
    lab = (
        docs.select("doc_id")
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("group_id"),
        )
    )
    sizes = lab.groupBy("group_id").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return lab.join(sizes, "group_id").select(
        "doc_id",
        "group_id",
        "group_size",
        (F.col("doc_id") == F.col("group_id")).alias("is_canonical"),
    )


def bpe_pair_counts(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Adjacent-token-pair frequency table — the candidate table a BPE
    tokenizer learner reads for its first merge (Sennrich 2016: "count
    all symbol pairs, merge the most frequent"). Word-level symbols
    here (the same whitespace-lowercase tokenizer :func:`build_vocab`
    fits), top-``k`` pairs by (count desc, t1, t2).

    Output: ``(t1, t2, n_pairs)`` — a deterministic function of the
    corpus (full tie-break), so the LIMIT is stable.

    Plan shape: NO per-document shuffle. Pairs come from zipping the
    token array against itself shifted by one (``slice`` + ``arrays_zip``
    — plain codegen'd expressions, not interpreted lambda HOFs, so the
    split is NOT re-evaluated per reference; docs/PLANS.md §6), all
    narrow until the one pair-count aggregation (map-side partials over
    a Zipf-bounded key space) and a TakeOrdered top-k. The window/
    self-join formulations would shuffle the whole tokenized corpus by
    doc id first.
    """
    toks = docs.select(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("tk")
    )
    n1 = F.greatest(F.size("tk") - F.lit(1), F.lit(0))
    shifted = toks.select(
        F.slice("tk", F.lit(1), n1).alias("t1s"),
        F.slice("tk", F.lit(2), n1).alias("t2s"),
    )
    pairs = (
        shifted.select(F.explode(F.arrays_zip("t1s", "t2s")).alias("p"))
        .select(F.col("p.t1s").alias("t1"), F.col("p.t2s").alias("t2"))
        .where((F.col("t1") != "") & (F.col("t2") != ""))
    )
    return (
        pairs.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.col("n_pairs").desc(), "t1", "t2")
        .limit(int(k))
    )


def inverted_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Positional inverted index over the corpus: ``(token, doc_id,
    pos)`` postings with 0-based token positions (same whitespace-
    lowercase tokenizer the vocab/BPE ops fit). This is the build side
    of full-text search; persist it partitioned/bucketed by ``token``
    and term lookups become partition-pruned scans.

    Narrow: one posexplode, no shuffle (the consumer decides the
    clustering)."""
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("pos", "token"),
        )
        .where(F.col("token") != "")
        .select("token", "doc_id", F.col("pos").cast("long").alias("pos"))
    )


def phrase_search(docs: DataFrame, phrase: str, text_col: str = "text") -> DataFrame:
    """Exact-phrase search via positional postings: documents where the
    tokenized ``phrase`` occurs as consecutive tokens, with occurrence
    counts — ``(doc_id, n_occurrences)``.

    Plan shape: ONE scan and ONE data-sized shuffle, for ANY phrase
    length (the final per-doc agg runs over match-count-sized data).
    The classic positional-intersection plan self-joins the posting
    list k-1 times (k scans of the index, k-1 shuffles); instead each
    posting for a phrase term joins a broadcast ``(term, slot)`` table
    and maps to its candidate base position ``pos - slot``, so an
    occurrence at base b exists iff ALL k slots appear in group
    ``(doc_id, b)`` — one groupBy with a distinct-slot count. Repeated
    phrase terms are handled (a token row fans out once per slot it
    could fill)."""
    terms = [t for t in phrase.lower().strip().split() if t]
    if not terms:
        raise ValueError("phrase_search: phrase must contain tokens")
    from .session import tiny_df

    spark = docs.sparkSession
    slots = tiny_df(
        spark, [(t, j) for j, t in enumerate(terms)], "token string, slot long"
    )
    postings = inverted_index(docs, text_col=text_col)
    hits = postings.join(F.broadcast(slots), "token").select(
        "doc_id", (F.col("pos") - F.col("slot")).alias("base"), "slot"
    )
    full = (
        hits.groupBy("doc_id", "base")
        .agg(F.countDistinct("slot").alias("_k"))
        .where(F.col("_k") == len(terms))
    )
    return full.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


def survivorship_pick(docs: DataFrame, groups: DataFrame) -> DataFrame:
    """Survivorship policy over near-duplicate groups: per group keep
    the LONGEST document (ties -> smallest doc_id) — the content-aware
    companion to :func:`neardup_groups`'s min-id ``is_canonical``
    (production dedup keeps the best representative, not an arbitrary
    one; cf. the keep-longest rule in public corpus pipelines such as
    CCNet/Gopher dedup).

    ``groups`` is :func:`neardup_groups` output (``doc_id, group_id``);
    ``docs`` must carry ``doc_id`` and ``n_chars``. Output: one row per
    group ``(group_id, kept_doc_id, kept_n_chars, n_docs)``.

    Plan shape: one join on doc_id + ONE group aggregation using the
    max-of-struct argmax (``struct(n_chars, -doc_id)`` compares
    lexicographically — no rank window over the corpus, map-side
    partials apply).
    """
    joined = groups.select("doc_id", "group_id").join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    best = F.max(
        F.struct(
            F.col("n_chars").alias("_len"), (-F.col("doc_id")).alias("_negid")
        )
    ).alias("_best")
    return (
        joined.groupBy("group_id")
        .agg(best, F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "group_id",
            (-F.col("_best._negid")).cast("long").alias("kept_doc_id"),
            F.col("_best._len").cast("long").alias("kept_n_chars"),
            "n_docs",
        )
    )


def prefix_by_budget(
    df: DataFrame,
    order_cols: list,
    amount_col: str,
    budget: int,
    num_ranges: int = 32,
) -> DataFrame:
    """Keep the prefix of ``df`` under the GLOBAL total order
    ``order_cols`` whose running sum of ``amount_col`` stays within
    ``budget`` — the corpus-curation primitive ("take the best
    documents until the token budget is spent") that naively needs a
    global running-sum window, i.e. a single-partition sort.

    Two-phase distributed cumulative sum instead: range-repartition on
    the order key (global order across partitions), per-partition local
    running sums under one partition-local window, then per-partition
    totals — a PARTITION-COUNT-sized driver collect — prefix-summed
    into offsets and broadcast back. ``global_cum = local_cum +
    offset(partition)``. No single-partition stage anywhere; the result
    is independent of where the range boundaries land because offsets
    correct for any split, PROVIDED the order key is a total order —
    pass a unique tie-breaker (duplicate keys split across a range
    boundary would otherwise cum in arbitrary relative order).

    Integer amounts make every cumulative sum exact and associative —
    the same engine-parity argument as the decimal running-revenue
    query. Rows with ``cum > budget`` are dropped; the first row alone
    exceeding the budget yields an empty prefix (strict contract).
    """
    return running_sum(df, order_cols, amount_col, num_ranges).where(
        F.col("cum_amount") <= F.lit(int(budget))
    )


def running_sum(
    df: DataFrame,
    order_cols: list,
    amount_col: str,
    num_ranges: int = 32,
) -> DataFrame:
    """Global running sum of ``amount_col`` under the total order
    ``order_cols``, WITHOUT a single-partition window — the two-phase
    distributed cumulative sum documented in :func:`prefix_by_budget`
    (which is now just this plus a budget filter). Adds ``cum_amount``
    (long, inclusive of the current row). ``order_cols`` must be a
    total order (include a unique tie-breaker).
    """
    ranged = df.repartitionByRange(num_ranges, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # pinned: the totals collect below is the first action AND the
    # returned plan re-reads the same pass — without the checkpoint the
    # range shuffle + window executed twice (and offsets keyed by _pid
    # from run 1 would join run 2's re-sampled range boundaries)
    local = ranged.withColumn(
        "_cum_local", F.sum(F.col(amount_col).cast("long")).over(w)
    ).localCheckpoint(eager=False)
    # partition totals: partition-count-sized, never data-sized
    totals = {
        r["_pid"]: r["_tot"]
        for r in local.groupBy("_pid")
        .agg(F.max("_cum_local").alias("_tot"))
        .collect()
    }
    offsets, running = {}, 0
    for pid in sorted(totals):
        offsets[pid] = running
        running += totals[pid]
    from .session import tiny_df

    spark = df.sparkSession
    off_df = F.broadcast(
        tiny_df(
            spark,
            [(int(pid), int(off)) for pid, off in offsets.items()],
            "_pid int, _off long",
        )
    )
    return (
        local.join(off_df, "_pid")
        .withColumn("cum_amount", (F.col("_cum_local") + F.col("_off")).cast("long"))
        .drop("_pid", "_cum_local", "_off")
    )


def benchmark_contamination(
    corpus: DataFrame, bench_docs: DataFrame, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document,
    the fraction of its distinct word-``n``-grams that also occur in
    the benchmark/eval set — the standard train-test leakage gate run
    before LLM training (the GPT-3 appendix-C / PaLM 13-gram check,
    here over the same hashed shingles the dedup family uses).

    Scale shape: the benchmark side is ALWAYS small relative to the
    corpus (eval suites are 10^4-10^6 grams vs 100 TB of training
    text), so its distinct-gram set is **broadcast** — the corpus side
    streams through one explode + map-side-partial ``groupBy(doc_id)``
    with NO corpus-sized shuffle-join. If an eval set ever outgrew
    broadcast range, dropping the ``F.broadcast`` hint degrades
    gracefully to a shuffle hash join on the gram key.

    Output per corpus doc: ``n_grams`` (distinct), ``n_contaminated``,
    ``contam_frac``, ``is_contaminated`` (``contam_frac >=
    threshold``). Uses :func:`hashed_gram_table` (xxhash64 shingles);
    the DuckDB oracle replays the identical n-gram construction on the
    raw strings — counts agree unless xxhash64 collides, which at
    shingle cardinality is negligible (and would be caught by the
    hash-exact contract).
    """
    bench_grams = (
        hashed_gram_table(bench_docs, n)
        .select(F.explode("grams").alias("g"))
        .dropDuplicates(["g"])
        .withColumn("_hit", F.lit(1))
    )
    ex = hashed_gram_table(corpus, n).select(
        "doc_id", F.explode("grams").alias("g")
    )
    per = (
        ex.join(F.broadcast(bench_grams), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )
    frac = F.col("n_contaminated").cast("double") / F.col("n_grams").cast("double")
    return per.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        frac.alias("contam_frac"),
        (frac >= F.lit(float(threshold))).alias("is_contaminated"),
    )


def repetition_stats(docs: DataFrame, n: int = 2) -> DataFrame:
    """Gopher-style within-document repetition signals — the standard
    LLM-corpus quality gates for boilerplate / machine-generated text
    (Rae et al. 2021 §A1.1: duplicate-line fraction, duplicate-line
    character fraction, top/duplicate n-gram fractions).

    Per document:
      * ``n_lines`` / ``dup_line_frac`` — non-empty trimmed lines;
        ``1 - distinct/total`` (0.0 when every line unique).
      * ``dup_line_char_frac`` — characters inside repeated line
        occurrences beyond the first, over all line characters.
      * ``n_grams`` / ``dup_gram_frac`` — word ``n``-grams (lead-window
        over whitespace tokens, no HOF lambdas — Catalyst re-evaluation
        trap avoided), same ``1 - distinct/total``.
      * ``top_gram_char_frac`` — ``max(count * len(gram)) / len(text)``:
        characters covered by the single most repeated n-gram. The max
        is over the product, so no tie-break is ever needed.

    Scale: three doc_id-keyed shuffles (line agg, gram window+agg,
    stats join), each with map-side partial aggregation; no data-sized
    driver state. All fractions are exact IEEE doubles from integer
    counts — the DuckDB oracle writes the identical expressions.
    Documents with no lines / fewer than ``n`` words get zeros (left
    joins + coalesce), never NULL or division by zero.
    """
    base = docs.select("doc_id", F.length("text").cast("long").alias("_n_chars"))

    lines = (
        docs.select("doc_id", F.explode(F.split("text", "\n")).alias("line"))
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
    )
    line_stats = (
        lines.groupBy("doc_id", "line")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_lines"),
            (
                (F.sum("cnt") - F.count(F.lit(1))).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("dup_line_frac"),
            (
                F.sum((F.col("cnt") - 1) * F.length("line")).cast("double")
                / F.sum(F.col("cnt") * F.length("line")).cast("double")
            ).alias("dup_line_char_frac"),
        )
    )

    words = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "word"),
        )
        .where(F.col("word") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", k).over(w).alias(f"_w{k}") for k in range(1, n)
    ]
    grams = (
        words.select("doc_id", *parts)
        # lead(n-1) NULL only on the last n-1 rows; its presence implies
        # every shorter lead is present too
        .where(F.col(f"_w{n - 1}").isNotNull())
        .select("doc_id", F.concat_ws(" ", F.col("word"), *[
            F.col(f"_w{k}") for k in range(1, n)
        ]).alias("gram"))
    )
    gram_stats = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            (
                (F.sum("cnt") - F.count(F.lit(1))).cast("double")
                / F.sum("cnt").cast("double")
            ).alias("dup_gram_frac"),
            F.max(F.col("cnt") * F.length("gram")).cast("long").alias("_top_chars"),
        )
    )

    return (
        base.join(line_stats, "doc_id", "left")
        .join(gram_stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_lines", F.lit(0).cast("long")).alias("n_lines"),
            F.coalesce("dup_line_frac", F.lit(0.0)).alias("dup_line_frac"),
            F.coalesce("dup_line_char_frac", F.lit(0.0)).alias("dup_line_char_frac"),
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("dup_gram_frac", F.lit(0.0)).alias("dup_gram_frac"),
            F.coalesce(
                # gram rows exist => the doc has >= n words => _n_chars >= 1
                F.col("_top_chars").cast("double") / F.col("_n_chars").cast("double"),
                F.lit(0.0),
            ).alias("top_gram_char_frac"),
        )
    )


def token_budget_select(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Token-budget corpus curation: quality documents first (then
    doc_id — the unique tie-breaker the two-phase cumsum requires),
    keep documents while the running whitespace-token total fits
    ``budget_tokens``. Output: ``(doc_id, quality_ok, n_tokens_ws,
    cum_amount)`` for the kept prefix."""
    ranked = (
        quality_scores(docs)
        .select("doc_id", "quality_ok")
        .join(token_counts(docs).select("doc_id", "n_tokens_ws"), "doc_id")
    )
    return prefix_by_budget(
        ranked,
        [F.col("quality_ok").desc(), F.col("doc_id")],
        "n_tokens_ws",
        budget_tokens,
    ).select("doc_id", "quality_ok", "n_tokens_ws", "cum_amount")


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# (name, pattern, replacement) — applied IN THIS ORDER, sequentially:
# each class is counted on the text as left by the previous class's
# replacement, so overlapping matches are attributed to the earlier
# class exactly once. Patterns stay inside the common Java-regex /
# RE2 subset (\b, \d, bounded repetition — no backrefs, no lookaround)
# so Spark and DuckDB compile them identically.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the pre-training privacy scrub every public
    LLM corpus pipeline runs (C4 / Dolma / FineWeb all regex-redact
    emails, IPs, and phone-shaped strings before release).

    Per document: one count column per PII class (``n_email``,
    ``n_ipv4``, ``n_ssn``, ``n_phone``, matched sequentially per
    :data:`PII_PATTERNS`), ``n_pii`` (their sum), and ``redacted``
    (the text with every match replaced by its class token).

    Scale shape: a pure narrow map — ``regexp_count`` +
    ``regexp_replace`` chains inside whole-stage codegen, zero
    shuffles, zero Python; at 100 TB this is scan-bound and trivially
    partition-parallel. The DuckDB oracle replays the identical
    sequential pipeline (``len(regexp_extract_all(...))`` +
    ``regexp_replace(..., 'g')``) so counts and redacted strings are
    hash-exact.
    """
    cur = F.col(text_col)
    out_counts = []
    for name, pat, repl in PII_PATTERNS:
        out_counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, repl)
    scrubbed = docs.select("doc_id", *out_counts, cur.alias("redacted"))
    total = sum((F.col(f"n_{n}") for n, _, _ in PII_PATTERNS), F.lit(0).cast("long"))
    return scrubbed.select(
        "doc_id",
        *[f"n_{n}" for n, _, _ in PII_PATTERNS],
        total.cast("long").alias("n_pii"),
        "redacted",
    )


# ---------------------------------------------------------------------------
# boilerplate line removal
# ---------------------------------------------------------------------------

def boilerplate_lines(docs: DataFrame, min_docs: int, text_col: str = "text") -> DataFrame:
    """Cross-document boilerplate detection: the trimmed non-empty
    lines that occur in at least ``min_docs`` DISTINCT documents —
    footers, nav bars, cookie banners, license blurbs (the CCNet /
    RefinedWeb line-dedup signal, computed corpus-wide rather than
    within-document like :func:`repetition_stats`).

    One shuffle on the line key with map-side partial aggregation
    (``count_distinct`` over doc_id — exact; swap in
    ``approx_count_distinct`` at extreme line cardinality). Output:
    ``(line, n_docs)``. By construction the result is tiny for any
    meaningful threshold (a line repeated across >= min_docs documents
    out of billions is boilerplate, and there are few of those), which
    is what makes the :func:`strip_boilerplate` join broadcast-able.
    """
    return (
        docs.select(
            "doc_id", F.explode(F.split(text_col, "\n")).alias("line")
        )
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
        .groupBy("line")
        .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
    )


def strip_boilerplate(
    docs: DataFrame, min_docs: int, text_col: str = "text"
) -> DataFrame:
    """Remove corpus-wide boilerplate lines from every document:
    drop each trimmed line occurring in >= ``min_docs`` distinct
    documents (per :func:`boilerplate_lines`), reassemble the
    survivors in original order. Output: ``(doc_id, clean_text,
    n_lines, n_removed)``; a document that was ALL boilerplate
    survives with ``clean_text = ''``.

    Scale shape: the boilerplate set is broadcast (small by
    construction — see :func:`boilerplate_lines`), so the strip is a
    broadcast left-anti join per line plus one ``doc_id``-keyed
    aggregation to reassemble — a single data-sized shuffle. The
    in-order rebuild sorts the collected (pos, line) structs inside
    the aggregation buffer (per-doc-sized, never global).
    """
    lines = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(text_col, "\n")).alias("pos", "line"),
        )
        .withColumn("line", F.trim("line"))
        .where(F.col("line") != "")
    )
    bp = boilerplate_lines(docs, min_docs, text_col).select("line")
    kept = lines.join(F.broadcast(bp), "line", "left_anti")
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.line,
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def pack_sequences(
    docs: DataFrame, seq_len: int, num_ranges: int = 32
) -> DataFrame:
    """Sequence-packing manifest for LLM training: concatenate every
    document's whitespace tokens in ``doc_id`` order into one virtual
    token stream and cut it every ``seq_len`` tokens (the standard
    "concat-then-chunk" packing — documents straddle sequence
    boundaries; no padding, no token wasted). Output: one row per
    (sequence, document) overlap —

      ``seq_id``        which training sequence,
      ``doc_id``        which document contributes,
      ``tok_from``/``tok_to``  the doc-local token span [from, to),
      ``n_tok_in_seq``  its length.

    A trainer materializes sequence ``s`` by concatenating the spans
    of its rows in ``doc_id`` order — the manifest IS the shuffle-free
    description of the packed dataset.

    Scale shape: the global token offset per document comes from
    :func:`running_sum` (two-phase distributed cumsum — range
    partition + local window + broadcast offsets; no single-partition
    stage), and each doc then expands to exactly the sequences it
    overlaps via ``sequence()`` + ``explode`` — output rows =
    n_docs + n_sequences, never a cross product. Arithmetic is all
    integer, so any engine reproduces the manifest bit-for-bit.
    Zero-token documents (empty/whitespace text) are excluded.
    """
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
        F.trim("text").alias("_t"),
    ).where(F.col("_t") != "").drop("_t")
    cum = running_sum(tok, ["doc_id"], "n_tok", num_ranges)
    k = F.lit(int(seq_len)).cast("long")
    spans = cum.select(
        "doc_id",
        "n_tok",
        (F.col("cum_amount") - F.col("n_tok")).alias("_off"),
        F.col("cum_amount").alias("_end"),
    )
    exploded = spans.select(
        "doc_id",
        "_off",
        "_end",
        F.explode(
            F.sequence(
                F.floor(F.col("_off") / k), F.floor((F.col("_end") - 1) / k)
            )
        ).alias("seq_id"),
    )
    lo = F.greatest(F.col("seq_id") * k, F.col("_off"))
    hi = F.least((F.col("seq_id") + 1) * k, F.col("_end"))
    return exploded.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        "doc_id",
        (lo - F.col("_off")).cast("long").alias("tok_from"),
        (hi - F.col("_off")).cast("long").alias("tok_to"),
        (hi - lo).cast("long").alias("n_tok_in_seq"),
    )


# ---------------------------------------------------------------------------
# vocabulary building / OOV
# ---------------------------------------------------------------------------

def build_vocab(docs: DataFrame, size: int, text_col: str = "text") -> DataFrame:
    """Fit a word vocabulary over the corpus: the ``size`` most
    frequent whitespace-lowercased tokens, densely id'd — the
    tokenizer-fitting step of an LLM data pipeline (word-level here;
    a BPE learner iterates the same count table).

    Output: ``(token_id, token, n_occurrences)``; ids assigned by
    (count desc, token) so the table is a deterministic function of
    the corpus. Scale shape: explode + ONE count shuffle with
    map-side partials (the token key space is Zipf-bounded), then a
    top-``size`` TakeOrdered and a window over the vocabulary-sized
    result only — the corpus is never globally sorted.
    """
    counts = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
                "token"
            )
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "token")
        .limit(int(size))
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), "token")
    # the row_number window runs over <= `size` rows (post-LIMIT), the
    # same dictionary-scale single-partition contract as dense_ids
    return counts.select(
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        "token",
        "n_occurrences",
    )


def oov_stats(
    docs: DataFrame, vocab: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a fitted
    :func:`build_vocab` table: ``(doc_id, n_tokens, n_oov,
    oov_frac)`` — the standard coverage check before committing to a
    tokenizer.

    The vocab is broadcast (it is vocabulary-sized by construction);
    the corpus streams through one explode + left join + doc_id
    aggregation — a single data-sized shuffle.
    """
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "token"
        ),
    ).where(F.col("token") != "")
    v = vocab.select("token").withColumn("_in", F.lit(1))
    per = (
        toks.join(F.broadcast(v), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias(
            "oov_frac"
        ),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """RAG-style overlapping chunker: split each document into
    ``chunk_tokens``-token windows on a ``chunk_tokens - overlap``
    stride — the preprocessing step between a cleaned corpus and an
    embedding index. Output: ``(doc_id, chunk_idx, n_tokens,
    chunk_text)``; a trailing window that would add no new tokens
    (start + overlap >= n) is not emitted, so chunks are a
    deterministic function of the text alone.

    Plan shape: fully narrow — tokenize (plain split, no lambda HOFs),
    ``sequence`` of starts, one explode, ``slice`` + ``array_join``
    per chunk. No shuffle at all; the chunk table lands partitioned
    exactly like the corpus.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("chunk_documents: need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    base = docs.where(F.trim(F.col(text_col)) != "").select(
        "doc_id", F.split(F.trim(F.col(text_col)), r"\s+").alias("_tk")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("_tk") - F.lit(overlap) - F.lit(1), F.lit(0)),
        F.lit(stride),
    )
    rows = base.select("doc_id", "_tk", F.explode(starts).alias("_start"))
    return rows.select(
        "doc_id",
        (F.col("_start") / F.lit(stride)).cast("long").alias("chunk_idx"),
        F.least(
            F.lit(chunk_tokens), F.size("_tk") - F.col("_start")
        ).cast("long").alias("n_tokens"),
        F.array_join(
            F.slice("_tk", F.col("_start") + F.lit(1), F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def collocations(
    docs: DataFrame, min_count: int = 3, text_col: str = "text"
) -> DataFrame:
    """PMI-scored bigram collocations over the corpus — the standard
    "which word pairs stick together" analysis (Church & Hanks 1990)
    an LLM-data owner runs to find multiword units and template
    boilerplate. ``pmi = ln(p(x,y) / (p(x) p(y)))`` with ``p(x,y) =
    c_xy / N_pairs`` and ``p(x) = c_x / N_tok``.

    Output: ``(w1, w2, n_pair, pmi)`` for adjacent lowercased
    whitespace-token pairs with ``n_pair >= min_count``.

    Scale shape: tokenize + ONE doc-keyed window pass pairs each token
    with its successor (``lead``; no self-join), then ONE data-sized
    groupBy collapses to the pair-count table — Zipf-bounded, vastly
    smaller than the corpus. That table is ``localCheckpoint``-ed
    because everything downstream derives from it three ways (pair
    rows, unigram counts, corpus totals) and a twice-referenced
    DataFrame executes twice (docs/PLANS.md round-3 audit). Unigram
    counts need NO second corpus pass: every token occurrence is a
    ``w1`` exactly once (the last token of a doc carries a NULL
    ``w2``), so summing pair counts per ``w1`` reproduces them.

    Determinism: counts are exact integers; the PMI ratio is computed
    with an identical left-associated double expression in the SQL
    oracle and rounded to 6 decimals, the repo's standard cross-engine
    float recipe (pagerank rounds the same way).
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).alias("pos", "w1"),
    ).where(F.col("w1") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = toks.select("doc_id", "pos", "w1", F.lead("w1").over(w).alias("w2"))
    pc = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .localCheckpoint(eager=False)
    )
    uni = pc.groupBy("w1").agg(F.sum("n_pair").cast("long").alias("c"))
    totals = pc.agg(
        F.sum("n_pair").cast("long").alias("n_tok"),
        F.sum(F.when(F.col("w2").isNotNull(), F.col("n_pair")))
        .cast("long")
        .alias("n_pairs"),
    )
    out = (
        pc.where(F.col("w2").isNotNull() & (F.col("n_pair") >= int(min_count)))
        .join(uni.select(F.col("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w1").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    ratio = (
        F.col("n_pair").cast("double") * F.col("n_tok") * F.col("n_tok")
    ) / (F.col("c1").cast("double") * F.col("c2") * F.col("n_pairs"))
    return out.select(
        "w1", "w2", "n_pair", F.round(F.log(ratio), 6).alias("pmi")
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean negative log unigram probability — the
    "unigram perplexity" quality signal (the cheap stand-in for the
    CCNet/Wikipedia-LM perplexity filter): documents made of rare
    tokens score high, templated/common-token documents score low.
    ``p(w) = c_w / N`` is the corpus MLE; output ``(doc_id, n_tokens,
    avg_nll)`` with ``avg_nll = round(-mean ln p(w), 6)``.

    Scale shape: ONE corpus-sized shuffle — tokenize and collapse to
    per-(doc, token) counts first (the corpus never flows again), then
    the unigram table is a token-keyed aggregate OF THOSE COUNTS and
    joins back to them, so the base scan runs once and everything after
    the first groupBy is doc-vocabulary-sized. Final rounding to 6
    decimals is the repo's standard cross-engine float recipe (the
    token-level ln values are bit-identical; only the per-doc sum's
    accumulation order can differ in the last ulp).
    """
    dtc = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    uni = dtc.groupBy("w").agg(F.sum("cnt").cast("long").alias("c"))
    total = uni.agg(F.sum("c").cast("long").alias("n"))
    nll = -F.log(F.col("c").cast("double") / F.col("n"))
    return (
        dtc.join(uni, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(
                F.sum(F.col("cnt").cast("double") * nll) / F.sum("cnt"),
                6,
            ).alias("avg_nll"),
        )
    )

def duplicate_spans(docs: DataFrame, n: int = 8) -> DataFrame:
    """Cross-document EXACT substring duplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): per
    document, how many tokens sit inside a word ``n``-gram that also
    appears in at least one OTHER document. The near-dup family
    (MinHash/SimHash/Jaccard) finds whole-document copies; this finds
    the copied PASSAGES inside otherwise-distinct documents — quote
    farms, license blocks, templated intros — which are what substring
    dedup actually removes from an LLM corpus.

    Output per doc: ``(doc_id, n_tokens, n_dup_grams, dup_tokens,
    dup_token_frac)`` — ``n_dup_grams`` counts this doc's gram
    occurrences whose gram is shared cross-doc; ``dup_tokens`` is the
    size of the UNION of their ``[pos, pos+n-1]`` spans (a sweep-line
    window: running max of span end, each span contributes only past
    that), so overlapping grams never double-count a token.
    Within-document repetition alone does NOT mark a gram (the df is
    ``count_distinct(doc_id) >= 2``) — that axis is
    :func:`repetition_stats`.

    Plan shape: posexplode + lead-window grams (no HOF lambdas — the
    re-evaluation trap), ONE corpus-sized groupBy(gram) for the
    document frequency (the irreducible cost of exact substring
    matching — this is the distributed stand-in for the suffix-array
    pass), a semi-join back, and a doc-keyed window+agg. All counts
    are exact integers; the fraction is one integer ratio, so the
    DuckDB oracle replays every row bit-exactly. At 100 TB the gram
    JOIN KEY should be ``xxhash64(gram)`` (hashed_gram_table's trick —
    8 bytes instead of ~50); kept as the string here so the oracle
    needs no hash-function parity.
    """
    words = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "word"),
        )
        .where(F.col("word") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("word")] + [
        F.lead("word", k).over(w).alias(f"_w{k}") for k in range(1, n)
    ]
    grams = (
        words.select("doc_id", "pos", *parts)
        .where(F.col(f"_w{n - 1}").isNotNull())
        .select(
            "doc_id",
            "pos",
            F.concat_ws(
                " ", F.col("word"), *[F.col(f"_w{k}") for k in range(1, n)]
            ).alias("gram"),
        )
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .where(F.col("_df") >= 2)
        .select("gram")
    )
    occ = grams.join(dup, "gram", "left_semi")
    end = F.col("pos") + F.lit(n - 1)
    runmax = F.max(F.col("pos") + F.lit(n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = (
        occ.withColumn("_runmax", runmax)
        .select(
            "doc_id",
            F.greatest(
                F.lit(0),
                end - F.greatest(F.coalesce("_runmax", F.col("pos") - 1), F.col("pos") - 1),
            ).alias("_new"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_grams"),
            F.sum("_new").cast("long").alias("dup_tokens"),
        )
    )
    tok = words.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
    return (
        docs.select("doc_id")
        .join(tok, "doc_id", "left")
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
            F.coalesce("n_dup_grams", F.lit(0).cast("long")).alias("n_dup_grams"),
            F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_token_frac"),
        )
    )
