"""A15–A19 — OpenKE link-prediction evaluation protocol, Spark-first.

Protocol parity (OpenKEonSpark ``base/Test.h::testHead/testTail/
test_link_prediction``, recalled — SURVEY.md §0):

* For each test triple ``(h, t, r)``: score *every* entity as candidate
  head ``f(e, r, t)`` (and symmetrically tail). Rank of the true entity
  = ``1 + |{e : score(e) < score(true)}|`` — **strict less-than**, ties
  rank better, exactly the reference's ``if (value < minimal) l_s++``.
* **raw** counts all candidates; **filtered** skips candidates that form
  a known-true triple in train ∪ valid ∪ test (the true entity itself is
  never skipped).
* Metrics: MR, MRR, Hits@10/3/1, head/tail averaged, raw + filtered.

One entity-rank path, :func:`link_prediction_ranks_multi` (and its
one-model form :func:`link_prediction_ranks`): test triples flow through
one Arrow-batched ``mapInPandas``; the embedding components the models
score with are broadcast once (``sc.broadcast`` NumPy, not a join). Per
chunk of test triples and direction, one kernel call scores the chunk
against all |E| candidates as a ``[chunk, |E|]`` block (chunk sized so
its temporaries stay ≤16 MB). The known set is shipped as two
``sampling.sorted_index`` indexes (the one known-triple index, which the
trainer's negatives also avoid) keyed ``(r, t) → h`` / ``(r, h) → t``.
It may be pandas, or a DataFrame of any size: then only the known
triples sharing a test triple's fixed slot are collected (one left-semi
join against the broadcast test keys), a test-sized set.
The B12 gate (``Pipeline.stage_evaluate``) ranks through this path, with
the constructed KG as the known DataFrame.

Embeddings are model-parameter-sized (|E|·d floats), the same thing the
reference holds on every worker via its parameter-server checkpoint —
broadcasting them is the intended design, not a shortcut; the link
stage broadcasts the same matrices. Every rank path scores through
``kernels.score_batch`` and rounds with ``np.round``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import kernels
from .sampling import indexed_values, sorted_index
from .session import pin_broadcast

RANK_COLS = ("rank_head_raw", "rank_head_filt", "rank_tail_raw", "rank_tail_filt")
RANKS_SCHEMA = "h long, t long, r long, " + ", ".join(f"{c} long" for c in RANK_COLS)


#: byte budget of one scoring temporary: glibc hands buffers above ~32 MB
#: back to the OS on free, so larger ones page-fault on every reuse
_CHUNK_BYTES = 16 << 20


def _chunk_rows(n_cand: int, dim: int, model: str) -> int:
    """Test rows per scoring chunk against ``n_cand`` candidates: one
    component-major ``[d, chunk, n_cand]`` float64 temporary stays within
    ``_CHUNK_BYTES`` (HolE's gathered operand is ``d``× wider)."""
    return max(1, _CHUNK_BYTES // (n_cand * dim * (dim if model == "hole" else 1) * 8))


def _scores(model: str, emb: dict, h, r, t, norm: int, dec: int | None) -> np.ndarray:
    """``kernels.score_batch``, rounded with ``np.round`` (half-even) to
    ``dec`` decimals when given — the one rounding rule of every rank
    path."""
    s = kernels.score_batch(model, emb, h, r, t, norm)
    return s if dec is None else np.round(s, dec)


def _triple_ids(
    pdf: pd.DataFrame, n_ent: int, n_rel: int, kind: str = "test", cols=("h", "t", "r")
) -> list[np.ndarray]:
    """The ``cols`` columns of ``kind`` triples as int64. An id outside
    ``[0, |E|)`` (``[0, |R|)`` for ``r``) raises ``ValueError`` naming
    it: NumPy would read ``-1`` as the last row and fail on ``|E|`` with
    a bare ``IndexError``."""
    out = []
    for c in cols:
        n, size = (n_rel, "|R|") if c == "r" else (n_ent, "|E|")
        ids = pdf[c].to_numpy(np.int64)
        bad = ids[(ids < 0) | (ids >= n)]
        if len(bad):
            raise ValueError(f"{kind} triple {c} id {bad[0]} is out of range: {size} = {n}")
        out.append(ids)
    return out


def _score_tables(emb: dict, models) -> tuple[dict, int, int]:
    """The components ``models`` score with (``kernels.SCORE_COMPONENTS``:
    a checkpoint carries every model's), |E| and |R| — the smallest
    relation-side table, so every relation id in range reads each one."""
    emb = {k: emb[k] for k in dict.fromkeys(k for m in models for k in kernels.SCORE_COMPONENTS[m])}
    n_rel = min(len(v) for k, v in emb.items() if not k.startswith("ent"))
    return emb, emb["ent"].shape[0], n_rel


def _known_cols(known: pd.DataFrame | None, n_ent: int, n_rel: int) -> list[np.ndarray]:
    """``h``, ``t``, ``r`` of the known triples as int64, range-checked on
    the driver as the test ids are (:func:`_triple_ids`): a ``-1`` would
    otherwise filter entity |E|−1 as known. ``None`` is the empty set, so
    filtered ranks equal raw ranks."""
    if known is None:
        return [np.empty(0, np.int64)] * 3
    return _triple_ids(known, n_ent, n_rel, "known")


def _known_index(known: pd.DataFrame | None, n_ent: int, n_rel: int) -> tuple[tuple, tuple]:
    """Known-triple filter as one ``sampling.sorted_index`` per side,
    keyed ``(r << 32) | e`` (``e`` = t on the head side, h on the tail
    side) over the known ids of the varied slot."""
    h, t, r = _known_cols(known, n_ent, n_rel)
    return sorted_index((r << 32) | t, h), sorted_index((r << 32) | h, t)


def _near_known(known, test: DataFrame, *keys: str) -> pd.DataFrame | None:
    """A DataFrame ``known`` cut to the triples that share a key with a
    test triple, collected: ``keys`` are SQL expressions over ``h``,
    ``t``, ``r`` (a ``stack`` may emit one key row per direction), and
    one left-semi join against the broadcast test keys keeps the known
    rows whose keys match. The result is test-sized, and it is all the
    known-triple index of a call ever probes. pandas or ``None`` pass
    through unchanged."""
    if not isinstance(known, DataFrame):
        return known
    test_keys = test.selectExpr(*keys)
    return (
        known.selectExpr("h AS _h", "t AS _t", "r AS _r", *keys)
        .join(F.broadcast(test_keys), test_keys.columns, "left_semi")
        .selectExpr("_h AS h", "_t AS t", "_r AS r")
        .toPandas()
    )


def link_prediction_ranks(
    spark: SparkSession,
    test: DataFrame,
    emb: dict[str, np.ndarray],
    known: pd.DataFrame | DataFrame | None,
    model: str = "transe",
    norm: int = 1,
    constraints: tuple[dict | None, dict | None] | None = None,
    score_decimals: int | None = None,
) -> DataFrame:
    """Per-test-triple raw+filtered head/tail ranks (RANKS_SCHEMA) for one
    kernel: :func:`link_prediction_ranks_multi` with a single model.

    ``score_decimals``: round scores before the strict-< comparison.
    Needed for cross-engine L2 parity: L1 scores of float32 embeddings
    are *exact* in float64 (each |h+r−t| term ≤26 mantissa bits, a
    16-term sum ≤30 — order-free), but L2 squares carry 52 bits, so the
    sum's last ulp depends on accumulation order and unrounded rank
    comparisons flip between engines on mathematical ties.
    """
    return link_prediction_ranks_multi(
        spark, test, emb, known, [(model, score_decimals)], norm, constraints
    ).drop("model")


def _rank(s: np.ndarray, true_e: int, cand, known) -> tuple[int, int]:
    """(raw, filtered) strict-< rank of entity ``true_e`` under the
    candidate scores ``s`` (indexed by entity id).

    ``cand``: the relation's allowed candidate ids, or None for all
    entities. ``known``: sorted ids forming a known-true triple in this
    slot; the filtered rank skips those inside ``cand`` except
    ``true_e`` itself.
    """
    true_s = s[true_e]
    below = int(((s if cand is None else s[cand]) < true_s).sum())
    if cand is not None:
        known = np.intersect1d(known, cand)
    filt = below - int((s[known[known != true_e]] < true_s).sum())
    return 1 + below, 1 + filt


def link_prediction_ranks_multi(
    spark: SparkSession,
    test: DataFrame,
    emb: dict[str, np.ndarray],
    known: pd.DataFrame | DataFrame | None,
    models: list[tuple[str, int | None]],
    norm: int = 1,
    constraints: tuple[dict | None, dict | None] | None = None,
) -> DataFrame:
    """Model-tagged ranks for one or more ``(model, score_decimals)``
    kernels in ONE pass: the test table crosses the Arrow boundary once
    and one broadcast set serves every kernel (a unioned per-kernel plan
    cost ~2.7 s of scheduling for ~0.4 s of NumPy at fixture scale).
    Output: ``model`` + RANKS_SCHEMA, one row per test row.

    The broadcast set holds only the components the models score with
    (``kernels.SCORE_COMPONENTS``): a checkpoint carries every model's.
    Per chunk of test triples and direction, one ``kernels.score_batch``
    call scores ``[chunk, 1]`` fixed-slot and relation ids against
    ``[1, |E|]`` candidate ids into a ``[chunk, |E|]`` block (bit-identical
    to flat per-row calls), rounded with ``np.round`` to the model's
    ``score_decimals`` when given; :func:`_rank` counts each row. A chunk
    keeps one component-major ``[d, chunk, |E|]`` float64 temporary
    within ``_CHUNK_BYTES`` (HolE's gathered operand is ``d``× wider). A
    test or known id outside the embedding tables raises ``ValueError``
    (known ids on the driver, before any job).

    ``known``: pandas, a DataFrame or ``None`` (raw-only). A DataFrame
    is cut to the triples sharing a test triple's fixed slot — ``(r, t)``
    on the head side, ``(r, h)`` on the tail side — and collected
    (:func:`_near_known`); nothing else of it reaches the driver.

    ``constraints``: optional ``(domains, ranges)`` maps ``r → entity
    ids`` (``type_constrain.txt`` semantics; either side may be None):
    head candidates outside the relation's domain and tail candidates
    outside its range are skipped entirely; relations absent from a map
    stay unconstrained — the reference's type-constrained protocol
    (``base/Test.h``, recalled — SURVEY.md §0).
    """
    emb, n_ent, n_rel = _score_tables(emb, [model for model, _ in models])
    chunk = {model: _chunk_rows(n_ent, emb["ent"].shape[1], model) for model, _ in models}
    b_emb = pin_broadcast(spark, emb)
    known = _near_known(known, test, "r", "stack(2, true, t, false, h) AS (head, fix)")
    domains, ranges = constraints or (None, None)
    b_filter = pin_broadcast(spark, (*_known_index(known, n_ent, n_rel), domains or {}, ranges or {}))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        heads_of, tails_of, domains, ranges = b_filter.value
        all_ents = np.arange(n_ent, dtype=np.int64)[None, :]

        for pdf in batches:
            if pdf.empty:
                continue
            h_arr, t_arr, r_arr = _triple_ids(pdf, n_ent, n_rel)
            known_h = indexed_values(heads_of, (r_arr << 32) | t_arr)
            known_t = indexed_values(tails_of, (r_arr << 32) | h_arr)
            outs = []
            for model, dec in models:
                ranks = np.empty((len(pdf), 4), dtype=np.int64)
                for lo in range(0, len(pdf), chunk[model]):
                    rows = slice(lo, lo + chunk[model])
                    h, t, r = h_arr[rows, None], t_arr[rows, None], r_arr[rows, None]
                    s_head = _scores(model, E, all_ents, r, t, norm, dec)
                    s_tail = _scores(model, E, h, r, all_ents, norm, dec)
                    for j, i in enumerate(range(lo, lo + len(h))):
                        ri = int(r_arr[i])
                        ranks[i, :2] = _rank(s_head[j], h_arr[i], domains.get(ri), known_h[i])
                        ranks[i, 2:] = _rank(s_tail[j], t_arr[i], ranges.get(ri), known_t[i])
                res = pdf[["h", "t", "r"]].copy()
                res.insert(0, "model", model)
                for j, col in enumerate(RANK_COLS):
                    res[col] = ranks[:, j]
                outs.append(res)
            yield pd.concat(outs, ignore_index=True)

    return test.select("h", "t", "r").mapInPandas(fn, "model string, " + RANKS_SCHEMA)


def _rank_metrics(ranks: DataFrame, *keys: str, extra=()) -> DataFrame:
    """A17 metrics: MR / MRR / Hits@10/3/1, raw + filtered, head and tail
    ranks pooled, grouped by ``keys``. ``extra`` aggregates (over the
    pooled rows, two per test triple) come right after the keys."""
    def _m(tag: str):
        c = F.col(tag).cast("double")
        # reciprocals summed in decimal: a double sum depends on the
        # order partitions arrive in, the decimal one is exact.
        # try_divide: an empty group is null, as avg gives
        recip = F.sum((1.0 / c).cast("decimal(38,18)")).cast("double")
        return [
            F.avg(c).alias(f"mr_{tag}"),
            F.try_divide(recip, F.count(c)).alias(f"mrr_{tag}"),
            F.avg((c <= 10).cast("double")).alias(f"hits10_{tag}"),
            F.avg((c <= 3).cast("double")).alias(f"hits3_{tag}"),
            F.avg((c <= 1).cast("double")).alias(f"hits1_{tag}"),
        ]

    both = ranks.select(
        *keys,
        F.explode(
            F.array(
                F.struct(F.col("rank_head_raw").alias("raw"), F.col("rank_head_filt").alias("filt")),
                F.struct(F.col("rank_tail_raw").alias("raw"), F.col("rank_tail_filt").alias("filt")),
            )
        ).alias("x"),
    ).select(*keys, "x.raw", "x.filt")
    return both.groupBy(*keys).agg(*extra, *_m("raw"), *_m("filt"))


def link_prediction_metrics_by_model(ranks: DataFrame) -> DataFrame:
    """A17 leaderboard: :func:`link_prediction_metrics` per ``model`` tag
    of :func:`link_prediction_ranks_multi`, in one aggregation."""
    return _rank_metrics(ranks, "model")


def relation_prediction_ranks(
    spark: SparkSession,
    test: DataFrame,
    emb: dict[str, np.ndarray],
    known: pd.DataFrame | DataFrame | None,
    norm: int = 1,
    score_decimals: int | None = None,
) -> DataFrame:
    """Relation prediction: rank the TRUE relation among ALL relations
    for each test pair — "what links h to t?", the third axis of the
    link-prediction protocol beside the head/tail ranks (A15/A16).
    Output ``(h, t, r, rank_rel_raw, rank_rel_filt)``, one row per
    distinct test triple; strict-< and the known-triple filtered
    correction follow the entity-rank protocol exactly (a known
    ``(h, cand, t)`` with ``cand != r`` never counts against the
    filtered rank).

    The shape of :func:`link_prediction_ranks_multi`: the entity and
    relation matrices are broadcast, and the known relations come from
    one ``sampling.sorted_index`` keyed ``(h << 32) | t`` (a DataFrame
    ``known`` is cut to the test pairs' triples first). Per Arrow batch,
    one ``kernels.score_batch`` call per chunk scores ``[rows, |R|]``
    and :func:`_rank` ranks each row. At any corpus scale |R| stays
    dictionary-sized, which makes relation prediction the cheapest eval
    direction (the entity ranks pay |test| x |E|).

    TransE, L1 or L2; pass ``score_decimals`` (6) with ``norm=2`` —
    the same cross-engine float-ordering story as the entity ranks.
    """
    emb, n_ent, n_rel = _score_tables(emb, ["transe"])
    b_emb = pin_broadcast(spark, emb)
    kh, kt, kr = _known_cols(_near_known(known, test, "h", "t"), n_ent, n_rel)
    b_known = pin_broadcast(spark, sorted_index((kh << 32) | kt, kr))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        cands = np.arange(n_rel, dtype=np.int64)[None, :]
        chunk = _chunk_rows(n_rel, E["rel"].shape[1], "transe")
        for pdf in batches:
            if pdf.empty:
                continue
            h, t, r = _triple_ids(pdf, n_ent, n_rel)
            known_r = indexed_values(b_known.value, (h << 32) | t)
            ranks = np.empty((len(pdf), 2), dtype=np.int64)
            for lo in range(0, len(pdf), chunk):
                rows = slice(lo, lo + chunk)
                s = _scores("transe", E, h[rows, None], cands, t[rows, None], norm, score_decimals)
                for j, i in enumerate(range(lo, lo + len(s))):
                    ranks[i] = _rank(s[j], r[i], None, known_r[i])
            out = pdf[["h", "t", "r"]].copy()
            out["rank_rel_raw"], out["rank_rel_filt"] = ranks[:, 0], ranks[:, 1]
            yield out

    return test.select("h", "t", "r").dropDuplicates().mapInPandas(
        fn, "h long, t long, r long, rank_rel_raw long, rank_rel_filt long"
    )


def link_prediction_metrics(ranks: DataFrame) -> DataFrame:
    """A17: MR / MRR / Hits@10/3/1, raw + filtered, head+tail averaged.

    One hash aggregation over the ranks table; column names are the
    stable contract for the oracle comparison.
    """
    return _rank_metrics(ranks)


def relation_categories(triples: DataFrame) -> DataFrame:
    """Per-relation 1-1 / 1-N / N-1 / N-N classification (upstream
    OpenKE ``n-n.py`` recipe, recalled — SURVEY.md §0): thresholds at
    1.5 on tph (avg tails per head) and hpt (avg heads per tail).

    Output: ``r, tph, hpt, category``.
    """
    from .sampling import bern_stats

    st = bern_stats(triples)
    return st.withColumn(
        "category",
        F.when((F.col("tph") < 1.5) & (F.col("hpt") < 1.5), "1-1")
        .when((F.col("tph") >= 1.5) & (F.col("hpt") < 1.5), "1-N")
        .when((F.col("tph") < 1.5) & (F.col("hpt") >= 1.5), "N-1")
        .otherwise("N-N"),
    )


def link_prediction_metrics_by_category(ranks: DataFrame, categories: DataFrame) -> DataFrame:
    """A17 optional breakdown: metrics per relation category.

    Output: one row per category — ``category, n_triples`` and MR / MRR /
    Hits@10, raw + filtered.
    """
    joined = ranks.join(F.broadcast(categories.select("r", "category")), "r")
    return _rank_metrics(
        joined, "category", extra=[(F.count("*") / 2).cast("long").alias("n_triples")]
    ).drop("hits3_raw", "hits1_raw", "hits3_filt", "hits1_filt")


def top_k_completions(
    spark: SparkSession,
    queries: DataFrame,
    emb: dict[str, np.ndarray],
    k: int = 10,
    model: str = "transe",
    norm: int = 1,
    mode: str = "tail",
    constraints: tuple | None = None,
) -> DataFrame:
    """A19: best-k completions for ``(h, r)`` (mode='tail') or ``(r, t)``.

    Scores the queries in blocks inside the UDF and emits only the top-k
    (partial top-k inside the batch — nothing |E|-sized ever shuffles):
    per chunk of queries, one ``kernels.score_batch`` call scores
    ``[chunk, 1]`` fixed-slot and relation ids against ``[1, |E|]``
    candidates, the call :func:`link_prediction_ranks_multi` makes, and
    each row is ranked with a stable argsort (ties keep id order). A
    query id outside the embedding tables raises ``ValueError``.

    ``constraints``: optional ``(domains, ranges)`` maps ``r → entity
    ids`` (``type_constrain.txt`` semantics). Tail completion draws
    candidates from the relation's range, head completion from its
    domain; relations absent from the map stay unconstrained. A
    constrained row is ranked over ``s[j, cand]``, its candidates'
    entries of the scored row, in the order the map lists them.
    """
    emb, n_ent, n_rel = _score_tables(emb, [model])
    chunk = _chunk_rows(n_ent, emb["ent"].shape[1], model)
    b_emb = pin_broadcast(spark, emb)
    b_constr = pin_broadcast(spark, constraints)
    in_cols = ("h", "r") if mode == "tail" else ("t", "r")
    out_schema = f"{in_cols[0]} long, r long, candidate long, score double, rk long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        constr = b_constr.value
        cand_of = (constr[1] if mode == "tail" else constr[0]) if constr else None
        all_ents = np.arange(n_ent, dtype=np.int64)[None, :]
        for pdf in batches:
            if pdf.empty:
                continue
            a_arr, r_arr = _triple_ids(pdf, n_ent, n_rel, "query", in_cols)
            rows = []
            for lo in range(0, len(pdf), chunk):
                a, r = a_arr[lo : lo + chunk, None], r_arr[lo : lo + chunk, None]
                s = (
                    kernels.score_batch(model, E, a, r, all_ents, norm)
                    if mode == "tail"
                    else kernels.score_batch(model, E, all_ents, r, a, norm)
                )
                for j, i in enumerate(range(lo, lo + len(a))):
                    c = None if cand_of is None else cand_of.get(int(r_arr[i]))
                    cand = all_ents[0] if c is None else np.asarray(c, dtype=np.int64)
                    si = s[j] if c is None else s[j, cand]
                    order = np.argsort(si, kind="stable")[:k]
                    rows.append(
                        pd.DataFrame(
                            {
                                in_cols[0]: a_arr[i],
                                "r": r_arr[i],
                                "candidate": cand[order],
                                "score": si[order],
                                "rk": np.arange(1, len(order) + 1, dtype=np.int64),
                            }
                        )
                    )
            yield pd.concat(rows, ignore_index=True)

    return queries.select(*in_cols).dropDuplicates(list(in_cols)).mapInPandas(fn, out_schema)


def score_triples(
    spark: SparkSession,
    triples: DataFrame,
    emb: dict[str, np.ndarray],
    model: str = "transe",
    norm: int = 1,
    decimals: int | None = None,
) -> DataFrame:
    """Add a ``score`` column (kernel distance) to any (h, t, r[, ...]) DF.

    Broadcast embeddings + vectorized NumPy per Arrow batch — the
    shared scoring primitive for classification/calibration paths.
    ``decimals`` rounds with :func:`_scores` — the rule every rank path
    applies to its candidate scores, so rank decompositions built on
    these scores use one consistent rounding. An id outside the
    embedding tables raises ``ValueError`` naming it.
    """
    emb, n_ent, n_rel = _score_tables(emb, [model])
    b_emb = pin_broadcast(spark, emb)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in triples.schema.fields
    ) + ", score double"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        for pdf in batches:
            if len(pdf):
                h, t, r = _triple_ids(pdf, n_ent, n_rel, "scored")
                pdf = pdf.copy()
                pdf["score"] = _scores(model, E, h, r, t, norm, decimals).astype("float64")
                yield pdf

    return triples.mapInPandas(fn, schema)


def triple_classification(
    scored_valid: DataFrame, scored_test: DataFrame
) -> tuple[DataFrame, float]:
    """A18: per-relation threshold from valid, accuracy on test.

    Inputs: ``(h, t, r, y, score)`` with y=1 pos / y=-1 neg. The
    threshold sweep is a window cumulative count over scores per
    relation: the best cut maximizes (pos below) + (neg at-or-above).
    Returns (per-relation thresholds DF, overall test accuracy).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("r").orderBy("score", "h", "t")
    tot = Window.partitionBy("r")
    sweep = (
        scored_valid
        .withColumn("cum_pos", F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).over(w))
        .withColumn("cum_neg", F.sum(F.when(F.col("y") == -1, 1).otherwise(0)).over(w))
        .withColumn("n_neg", F.sum(F.when(F.col("y") == -1, 1).otherwise(0)).over(tot))
        .withColumn("correct", F.col("cum_pos") + (F.col("n_neg") - F.col("cum_neg")))
    )
    best = Window.partitionBy("r").orderBy(F.desc("correct"), "score")
    thresholds = (
        sweep.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select("r", F.col("score").alias("threshold"))
    )
    scored = scored_test.join(F.broadcast(thresholds), "r", "left").withColumn(
        "pred", F.when(F.col("score") <= F.col("threshold"), 1).otherwise(-1)
    )
    acc = scored.agg(F.avg((F.col("pred") == F.col("y")).cast("double"))).first()[0]
    return thresholds, float(acc)
