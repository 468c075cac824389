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

Two entity-rank paths, one protocol (equality-tested and
contract-checked against the same oracles):

* :func:`link_prediction_ranks` (broadcast): test triples flow through
  one Arrow-batched ``mapInPandas``; the full entity/relation embedding
  matrices are broadcast once (``sc.broadcast`` NumPy, not a join). Per
  chunk of test triples and direction, one kernel call scores the chunk
  against all |E| candidates as a ``[chunk, |E|]`` block (chunk sized
  so its temporaries stay ≤16 MB). The known set is pandas, shipped as
  two sorted-array indexes keyed ``(r, t) → h`` / ``(r, h) → t`` and
  probed with ``np.searchsorted`` — for dictionary-scale splits.
* :func:`link_prediction_ranks_blocked`: the entity table stays in
  Spark; one ``mapInPandas`` scores each entity block against the
  broadcast test triples with the same kernel call, and one aggregation
  sums the per-block counts. The known set may be a DataFrame: it is
  joined against the test triples into per-candidate skip lists, so
  nothing data-sized reaches the driver. The B12 gate
  (``Pipeline.stage_evaluate``) ranks through this path, with the
  constructed KG as the known set.

Embeddings are model-parameter-sized (|E|·d floats), the same thing the
reference holds on every worker via its parameter-server checkpoint —
broadcasting them is the intended design, not a shortcut. Every rank
path scores through ``kernels.score_batch`` and rounds with
``np.round``.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import kernels
from .session import pin_broadcast

RANK_COLS = ("rank_head_raw", "rank_head_filt", "rank_tail_raw", "rank_tail_filt")
RANKS_SCHEMA = "h long, t long, r long, " + ", ".join(f"{c} long" for c in RANK_COLS)


#: byte budget of one scoring temporary: glibc hands buffers above ~32 MB
#: back to the OS on free, so larger ones page-fault on every reuse
_CHUNK_BYTES = 16 << 20


def _chunk_rows(n_cand: int, dim: int, model: str) -> int:
    """Test rows per scoring chunk against ``n_cand`` candidates: one
    ``[chunk, n_cand, d]`` float64 temporary stays within ``_CHUNK_BYTES``
    (HolE's gathered operand is ``d``× wider)."""
    return max(1, _CHUNK_BYTES // (n_cand * dim * (dim if model == "hole" else 1) * 8))


def _scores(model: str, emb: dict, h, r, t, norm: int, dec: int | None) -> np.ndarray:
    """``kernels.score_batch``, rounded with ``np.round`` (half-even) to
    ``dec`` decimals when given — the one rounding rule of every rank
    path."""
    s = kernels.score_batch(model, emb, h, r, t, norm)
    return s if dec is None else np.round(s, dec)


def _known_index(known: pd.DataFrame | None) -> tuple[tuple, tuple]:
    """Known-triple filter as one sorted index per side, ``(keys,
    starts, vals)``: ``keys`` are the unique ``(r << 32) | e`` keys (``e``
    = t on the head side, h on the tail side) and
    ``vals[starts[i]:starts[i + 1]]`` the sorted unique ids known under
    ``keys[i]``.

    ``known=None`` → empty indexes: raw-only ranking, the filtered
    columns equal the raw ones.
    """
    h, t, r = (
        (np.empty(0, np.int64),) * 3 if known is None
        else (known[c].to_numpy(np.int64) for c in ("h", "t", "r"))
    )

    def index(fixed: np.ndarray, var: np.ndarray) -> tuple:
        # unique (key, id) columns, sorted by key, then id
        key, var = np.unique(np.stack([(r << 32) | fixed, var]), axis=1)
        keys, starts = np.unique(key, return_index=True)
        return keys, np.append(starts, len(key)), var

    return index(t, h), index(h, t)


def _known_ids(index: tuple, r: np.ndarray, e: np.ndarray) -> list[np.ndarray]:
    """Per row, the sorted ids known under key ``(r, e)``: the left and
    right ``searchsorted`` slots of a key in ``keys`` differ by one on a
    hit and coincide on a miss, which yields an empty slice."""
    keys, starts, vals = index
    key = (r << 32) | e
    lo = starts[np.searchsorted(keys, key)]
    hi = starts[np.searchsorted(keys, key, side="right")]
    return [vals[a:b] for a, b in zip(lo, hi)]


def link_prediction_ranks(
    spark: SparkSession,
    test: DataFrame,
    emb: dict[str, np.ndarray],
    known: pd.DataFrame | None,
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
    known: pd.DataFrame | None,
    models: list[tuple[str, int | None]],
    norm: int = 1,
    constraints: tuple[dict | None, dict | None] | None = None,
) -> DataFrame:
    """Model-tagged ranks for one or more ``(model, score_decimals)``
    kernels in ONE pass: the test table crosses the Arrow boundary once
    and one broadcast set serves every kernel (a unioned per-kernel plan
    cost ~2.7 s of scheduling for ~0.4 s of NumPy at fixture scale).
    Output: ``model`` + RANKS_SCHEMA.

    Per chunk of test triples and direction, one ``kernels.score_batch``
    call scores ``[chunk, 1]`` fixed-slot and relation ids against
    ``[1, |E|]`` candidate ids into a ``[chunk, |E|]`` block (bit-identical
    to flat per-row calls), rounded with ``np.round`` to the model's
    ``score_decimals`` when given; :func:`_rank` counts each row. A chunk
    keeps one ``[chunk, |E|, d]`` float64 temporary within
    ``_CHUNK_BYTES`` (HolE's gathered operand is ``d``× wider).

    ``constraints``: optional ``(domains, ranges)`` maps ``r → entity
    ids`` (``type_constrain.txt`` semantics; either side may be None):
    head candidates outside the relation's domain and tail candidates
    outside its range are skipped entirely; relations absent from a map
    stay unconstrained — the reference's type-constrained protocol
    (``base/Test.h``, recalled — SURVEY.md §0).
    """
    n_ent, dim = emb["ent"].shape
    chunk = {model: _chunk_rows(n_ent, dim, model) for model, _ in models}
    b_emb = pin_broadcast(spark, dict(emb))
    domains, ranges = constraints or (None, None)
    b_filter = pin_broadcast(spark, (*_known_index(known), domains or {}, ranges or {}))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        heads_of, tails_of, domains, ranges = b_filter.value
        all_ents = np.arange(n_ent, dtype=np.int64)[None, :]

        for pdf in batches:
            if pdf.empty:
                continue
            h_arr = pdf["h"].to_numpy(np.int64)
            t_arr = pdf["t"].to_numpy(np.int64)
            r_arr = pdf["r"].to_numpy(np.int64)
            known_h = _known_ids(heads_of, r_arr, t_arr)
            known_t = _known_ids(tails_of, r_arr, h_arr)
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


def _vecs_df(spark: SparkSession, mats: dict[str, np.ndarray]) -> DataFrame:
    """``[n, d]`` NumPy components → one ``(id, <key> array<double>, …)``
    DataFrame whose row ``i`` carries every component's row ``i``, in ONE
    partition: ``createDataFrame`` alone splits even a tiny frame over
    every core, and each partition a ``mapInPandas`` reads costs a Python
    task (~0.2 s of fixed start-up on a 4-core host).

    Test/fixture convenience only — the scale path reads ``(id, vec)``
    straight from a Parquet checkpoint (:func:`kgforge.io_openke.
    read_embedding_df`), never through the driver."""
    mats = {k: np.asarray(m, dtype="float64") for k, m in mats.items()}
    n = len(next(iter(mats.values())))
    # ndarray.tolist() (NOT list(map(list, ...))) — native Python floats,
    # plus an explicit schema: non-Arrow createDataFrame (Spark defaults;
    # the driver's harness) rejects np.float64 scalars and cannot infer
    # array<double> from object cells. The repo's own session enables
    # Arrow, which masked this — see tests/test_arrow_off.py.
    pdf = pd.DataFrame(
        {"id": np.arange(n, dtype="int64").tolist(), **{k: m.tolist() for k, m in mats.items()}}
    )
    schema = ", ".join(["id long", *(f"{k} array<double>" for k in mats)])
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def _emb_sides(spark: SparkSession, emb) -> tuple[DataFrame, dict[str, np.ndarray]]:
    """Split an embeddings argument — NumPy arrays and/or ``(id, vec)``
    DataFrames (Parquet-backed, :func:`kgforge.io_openke.
    read_embedding_df`) per component — into the two sides of the blocked
    paths:

    * the entity components (keys starting ``ent``) as ONE ``(id, ent,
      ent_p, …)`` DataFrame of ``array<double>`` columns — the |E|-sized
      side, which never leaves Spark;
    * the relation-indexed components (``rel``, ``norm``, ``mat``, …) as
      NumPy indexed by relation id — |R|-sized, so DataFrame ones are
      collected, all in one job. A checkpoint's ``mat`` rows arrive flat
      (``[|R|, d_r·d_e]``; io_openke flattens trailing dims).
    """
    def side(ent: bool, frames: bool) -> dict:
        return {
            k: v for k, v in emb.items()
            if k.startswith("ent") == ent and isinstance(v, DataFrame) == frames
        }

    ents = [_vecs_df(spark, side(True, False))] if side(True, False) else []
    ents += [
        v.select(F.col("id").cast("long"), F.col("vec").cast("array<double>").alias(k))
        for k, v in side(True, True).items()
    ]
    rel = {k: np.asarray(v) for k, v in side(False, False).items()}
    rel_dfs = [
        v.select(F.lit(k).alias("key"), F.col("id").cast("long"), F.col("vec").cast("array<double>"))
        for k, v in side(False, True).items()
    ]
    if rel_dfs:
        for k, g in reduce(DataFrame.unionByName, rel_dfs).toPandas().groupby("key"):
            g = g.sort_values("id")
            if not (g["id"].to_numpy() == np.arange(len(g))).all():
                raise ValueError(f"non-dense relation ids in {k!r}")
            rel[k] = np.stack(g["vec"].to_numpy())
    return reduce(lambda a, b: a.join(b, "id"), ents), rel


def _known_df(spark: SparkSession, known) -> DataFrame:
    """``(h, t, r)`` known triples as a DataFrame, from a DataFrame (scale
    path) or pandas (tests/fixtures convenience); ``None`` is the empty
    set, so filtered ranks equal raw ranks. Duplicates may remain: both
    consumers collect into sets."""
    if known is None:
        return spark.createDataFrame([], "h long, t long, r long")
    if isinstance(known, pd.DataFrame):
        return spark.createDataFrame(known[["h", "t", "r"]].drop_duplicates())
    return known.select("h", "t", "r")


def _skip_pairs(lists: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """One block's skip-list cells (null, or arrays of test-row indexes)
    → flat ``(tid, block row)`` pairs, sorted by tid."""
    cells = [np.empty(0, np.int64) if v is None else np.asarray(v, np.int64) for v in lists]
    tid = np.concatenate([np.empty(0, np.int64), *cells])
    row = np.repeat(np.arange(len(cells)), [len(c) for c in cells])
    order = np.argsort(tid, kind="stable")
    return tid[order], row[order]


def _skipped(below: np.ndarray, pairs: tuple, lo: int) -> np.ndarray:
    """Per row of a ``[chunk, block]`` hit mask whose first row is test
    row ``lo``: how many of its skip pairs are hits."""
    tid, row = pairs
    a, b = np.searchsorted(tid, [lo, lo + len(below)])
    i = tid[a:b] - lo
    return np.bincount(i, weights=below[i, row[a:b]], minlength=len(below)).astype(np.int64)


def link_prediction_ranks_blocked(
    spark: SparkSession,
    test: DataFrame,
    emb,
    known,
    norm: int = 1,
    model: str = "transe",
    constraints: tuple[dict | None, dict | None] | None = None,
    score_decimals: int | None = None,
) -> DataFrame:
    """A15/A16 scale path: the broadcast path's ranks, with the entity
    side kept in Spark.

    :func:`link_prediction_ranks` holds the whole |E|·d entity matrix on
    every Python worker — the right plan at model-parameter scale. When
    |E| grows beyond broadcast reach, ranks decompose over entity blocks,

        rank = 1 + Σ_block |{e ∈ block : s(e) < s(true)}|

    so one ``mapInPandas`` over the entity table takes each Arrow batch
    as one block (no worker holds more, nothing is carried across
    batches), emits partial counts for every test triple, and one
    ``groupBy(h, t, r)`` sums them. Broadcast: the |R|-sized relation
    components and the distinct test triples with their h/t entity-side
    vectors (test-sized, one collect). Nothing |E|-sized reaches the
    driver.

    Per chunk of test rows (``_chunk_rows`` with the block in place of
    |E|) and direction, one ``kernels.score_batch`` call scores
    ``[chunk, block]`` on a local embedding dict — test vectors first,
    then the block's rows — rounded like :func:`link_prediction_ranks_multi`;
    the true score is a flat call on the same dict, bitwise equal to its
    block element. Every kernel ``score_batch`` serves is supported.

    ``constraints``: ``(domains, ranges)`` maps, broadcast, with
    :func:`link_prediction_ranks_multi`'s semantics (relations absent
    from a map stay unconstrained). ``known`` (triples DataFrame, or
    pandas) filters relationally: ``known ⋈ test`` on the fixed slot,
    minus the true entity, grouped per candidate into head and tail
    skip lists of test-row indexes and left-joined onto the entity rows;
    a block subtracts its skipped in-constraint candidates that score
    below the true score.

    ``emb``: NumPy dict and/or ``(id, vec)`` DataFrames per component
    (:func:`_emb_sides`). Output: RANKS_SCHEMA, one row per distinct test
    triple whose h and t have embeddings.

    Callers: the B12 gate (``Pipeline.stage_evaluate``, known = the
    constructed KG as a DataFrame) and the A15/A17 blocked contract
    queries (``a15_ranks_blocked*``, ``a15_constrained_ranks_blocked``,
    ``a17_category_blocked``, and three that pass the known set as a
    DataFrame, as the gate does). Trade-off against the broadcast
    path: a NumPy ``emb`` enters through :func:`_vecs_df`, which puts the
    entity matrix in ONE partition, so at 10k entities × 1000 test
    triples this path took 3.9–4.5 s where broadcast scoring with a
    join-based filter took 2.2–2.7 s (4-core host). No caller runs that
    size: the gate ranks ≤500 triples against a dictionary of tens of
    entities, where this path runs fewer jobs.
    """
    # only what the model scores with: a checkpoint carries every
    # model's components, and each entity one rides every join below
    read = kernels.SCORE_COMPONENTS[model]
    ents, rel = _emb_sides(spark, {k: v for k, v in emb.items() if k in read})
    ent_keys = [c for c in ents.columns if c != "id"]

    # one pass over the entity table: the test triples, broadcast, once
    # per slot (id = h, id = t); ids without embeddings drop their rows
    got = ents.join(
        F.broadcast(test.selectExpr("h", "t", "r", "explode(array(h, t)) AS id")), "id"
    ).toPandas()
    vecs = got.drop_duplicates("id").set_index("id")
    tests = got[["h", "t", "r"]].drop_duplicates(ignore_index=True)
    tests = tests[tests["h"].isin(vecs.index) & tests["t"].isin(vecs.index)]
    n = len(tests)
    if n == 0:
        return spark.createDataFrame([], RANKS_SCHEMA)
    h_arr, t_arr, r_arr = (tests[c].to_numpy(np.int64) for c in ("h", "t", "r"))
    # entity-side vectors of the test rows: heads at local ids [0, n),
    # tails at [n, 2n); a block's rows follow from 2n
    slots = np.concatenate([h_arr, t_arr])
    test_vecs = {k: np.stack(vecs[k].loc[slots].to_numpy()) for k in ent_keys}
    dim = test_vecs["ent"].shape[1]
    if "mat" in rel:
        rel["mat"] = rel["mat"].reshape(len(rel["mat"]), -1, dim)
    test_rels = set(r_arr.tolist())
    domains, ranges = (
        {int(r): np.asarray(c) for r, c in (m or {}).items() if int(r) in test_rels}
        for m in (constraints or (None, None))
    )
    b_test = pin_broadcast(spark, (test_vecs, h_arr, t_arr, r_arr, rel, domains, ranges))

    tid = spark.createDataFrame(
        pd.DataFrame({"tid": np.arange(n), "h": h_arr, "t": t_arr, "r": r_arr}),
        "tid long, h long, t long, r long",
    )
    # known ⋈ test on the fixed slot, both directions in one broadcast
    # join: each triple once per direction as (head?, fixed slot, varied
    # slot). A candidate's skip lists are bounded by the test rows sharing
    # its fixed slots, so they ride broadcast onto the entity rows.
    slots = "stack(2, true, t, h, false, h, t) AS (head, fix, {})"
    pairs = _known_df(spark, known).selectExpr("r", slots.format("cand")).join(
        F.broadcast(tid.selectExpr("tid", "r", slots.format("true_e"))), ["head", "fix", "r"]
    ).where("cand != true_e")
    skips = pairs.groupBy(F.col("cand").alias("id")).agg(
        F.collect_set(F.when(F.col("head"), F.col("tid"))).alias("skip_h"),
        F.collect_set(F.when(~F.col("head"), F.col("tid"))).alias("skip_t"),
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        test_vecs, h_arr, t_arr, r_arr, rel, domains, ranges = b_test.value
        loc = np.arange(n, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(np.int64)
            E = dict(rel)
            for k in ent_keys:
                E[k] = np.concatenate([test_vecs[k], np.stack(pdf[k].to_numpy())])
            cand = (2 * n + np.arange(len(ids), dtype=np.int64))[None, :]
            # per direction (head, tail): the block's membership in each
            # constrained relation's list, and its skip pairs
            everyone = np.ones(len(ids), dtype=bool)
            members = [{r: np.isin(ids, c) for r, c in m.items()} for m in (domains, ranges)]
            skip_pairs = [_skip_pairs(pdf[c]) for c in ("skip_h", "skip_t")]
            counts = np.empty((n, 4), dtype=np.int64)
            chunk = _chunk_rows(len(ids), dim, model)
            for lo in range(0, n, chunk):
                rows = slice(lo, lo + chunk)
                h, t, r = loc[rows, None], n + loc[rows, None], r_arr[rows, None]
                true = _scores(model, E, h[:, 0], r[:, 0], t[:, 0], norm, score_decimals)[:, None]
                for j, (heads, tails) in enumerate(((cand, t), (h, cand))):
                    allowed = np.stack([members[j].get(x, everyone) for x in r_arr[rows].tolist()])
                    below = (_scores(model, E, heads, r, tails, norm, score_decimals) < true) & allowed
                    counts[rows, 2 * j] = below.sum(axis=1)
                    counts[rows, 2 * j + 1] = counts[rows, 2 * j] - _skipped(below, skip_pairs[j], lo)
            out = pd.DataFrame({"h": h_arr, "t": t_arr, "r": r_arr})
            out[list(RANK_COLS)] = counts
            yield out

    return (
        ents.join(F.broadcast(skips), "id", "left")
        .mapInPandas(fn, RANKS_SCHEMA)
        .groupBy("h", "t", "r")
        .agg(*((1 + F.sum(c)).alias(c) for c in RANK_COLS))
    )


def relation_prediction_ranks(
    spark: SparkSession,
    test: DataFrame,
    emb,
    known,
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

    Test rows are joined relationally to their h/t vectors and to the
    ``collect_set(r)`` of known triples per ``(h, t)``. The candidate
    side is the relation matrix — model-parameter-sized (|R| rows), so
    it is broadcast: per Arrow batch, one ``kernels.score_batch`` call
    per chunk scores ``[rows, |R|]`` and :func:`_rank` ranks each row.
    At any corpus scale |R| stays dictionary-sized, which makes relation
    prediction the cheapest eval direction (the entity ranks pay
    |test| x |E|).

    TransE, L1 or L2; pass ``score_decimals`` (6) with ``norm=2`` —
    the same cross-engine float-ordering story as the entity ranks.
    ``emb``/``known`` take the same shapes as
    :func:`link_prediction_ranks_blocked`.
    """
    ents, rel = _emb_sides(spark, {k: emb[k] for k in ("ent", "rel")})
    b_rel = pin_broadcast(spark, rel["rel"])

    def vec(slot: str) -> DataFrame:
        return ents.select(F.col("id").alias(slot), F.col("ent").alias(f"{slot}_vec"))

    known_r = _known_df(spark, known).groupBy("h", "t").agg(F.collect_set("r").alias("known_r"))
    rows = (
        test.select("h", "t", "r").dropDuplicates()
        .join(vec("h"), "h").join(vec("t"), "t")
        .join(known_r, ["h", "t"], "left")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        R = b_rel.value
        cands = np.arange(len(R), dtype=np.int64)[None, :]
        chunk = _chunk_rows(len(R), R.shape[1], "transe")
        for pdf in batches:
            if pdf.empty:
                continue
            n = len(pdf)
            # heads at local ids [0, n), tails at [n, 2n)
            ent = np.concatenate([np.stack(pdf[c].to_numpy()) for c in ("h_vec", "t_vec")])
            E = {"ent": ent, "rel": R}
            r = pdf["r"].to_numpy(np.int64)
            ranks = np.empty((n, 2), dtype=np.int64)
            for lo in range(0, n, chunk):
                loc = np.arange(lo, min(lo + chunk, n), dtype=np.int64)[:, None]
                s = _scores("transe", E, loc, cands, loc + n, norm, score_decimals)
                for j, i in enumerate(loc[:, 0]):
                    kr = pdf["known_r"].iat[i]
                    kr = np.asarray([] if kr is None else kr, np.int64)
                    ranks[i] = _rank(s[j], r[i], None, kr)
            out = pdf[["h", "t", "r"]].copy()
            out["rank_rel_raw"], out["rank_rel_filt"] = ranks[:, 0], ranks[:, 1]
            yield out

    return rows.mapInPandas(
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

    Scores all entities per query inside the UDF and emits only the top-k
    (partial top-k inside the batch — nothing |E|-sized ever shuffles).

    ``constraints``: optional ``(domains, ranges)`` maps ``r → entity
    ids`` (``type_constrain.txt`` semantics). Tail completion draws
    candidates from the relation's range, head completion from its
    domain; relations absent from the map stay unconstrained. The
    constrained candidate set also SHRINKS the per-query scoring work —
    at serving time this is the fast path, not just a filter.
    """
    n_ent = emb["ent"].shape[0]
    b_emb = pin_broadcast(spark, emb)
    b_constr = pin_broadcast(spark, constraints)
    in_cols = ["h", "r"] if mode == "tail" else ["t", "r"]
    out_schema = f"{in_cols[0]} long, r long, candidate long, score double, rk long"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        constr = b_constr.value
        cand_of = None
        if constr is not None:
            cand_of = constr[1] if mode == "tail" else constr[0]
        all_ents = np.arange(n_ent, dtype=np.int64)
        for pdf in batches:
            rows = []
            for a, r in pdf[in_cols].itertuples(index=False):
                cand = all_ents
                if cand_of is not None:
                    c = cand_of.get(int(r))
                    if c is not None:
                        cand = np.asarray(c, dtype=np.int64)
                r_ids = np.full(len(cand), int(r), dtype=np.int64)
                fixed = np.full(len(cand), int(a), dtype=np.int64)
                s = (
                    kernels.score_batch(model, E, fixed, r_ids, cand, norm)
                    if mode == "tail"
                    else kernels.score_batch(model, E, cand, r_ids, fixed, norm)
                )
                order = np.argsort(s, kind="stable")[:k]
                top = cand[order]
                s = s[order]
                rows.append(
                    pd.DataFrame(
                        {
                            in_cols[0]: int(a),
                            "r": int(r),
                            "candidate": top.astype(np.int64),
                            "score": s.astype(np.float64),
                            "rk": np.arange(1, len(top) + 1, dtype=np.int64),
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    return queries.select(*in_cols).dropDuplicates(in_cols).mapInPandas(fn, out_schema)


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
    these scores use one consistent rounding.
    """
    b_emb = pin_broadcast(spark, emb)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in triples.schema.fields
    ) + ", score double"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        for pdf in batches:
            if len(pdf):
                pdf = pdf.copy()
                pdf["score"] = _scores(
                    model, E,
                    pdf["h"].to_numpy(np.int64),
                    pdf["r"].to_numpy(np.int64),
                    pdf["t"].to_numpy(np.int64),
                    norm, decimals,
                ).astype("float64")
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
