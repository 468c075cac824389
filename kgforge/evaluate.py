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

Spark execution: test triples flow through one Arrow-batched
``mapInPandas``; the full entity/relation embedding matrices are
broadcast once (``sc.broadcast`` NumPy, not a join). Inside a batch the
test triples are taken in chunks; per chunk and direction, one kernel
call scores every triple of the chunk against all |E| candidates as a
``[chunk, |E|]`` block (chunk sized so its temporaries stay ≤16 MB).
The known-triple filter ships as two sorted-array indexes keyed
``(r, t) → h`` / ``(r, h) → t``, built from the (dictionary-scale)
triple splits and probed with ``np.searchsorted``.

Scale note: embeddings are model-parameter-sized (|E|·d floats), the
same thing the reference holds on every worker via its parameter-server
checkpoint — broadcasting them is the intended design, not a shortcut.
For |E| beyond broadcast reach, :func:`link_prediction_ranks_blocked`
computes the same ranks relationally (test-batch × entity-block JVM
join, array-fold scoring in codegen, one aggregation) — built and
equality-tested, contract-checked against the same oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

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


def _known_index(known: pd.DataFrame | None) -> tuple[tuple, tuple]:
    """Known-triple filter as one sorted index per side, ``(keys,
    starts, vals)``: ``keys`` are the unique ``(r << 32) | e`` keys (``e``
    = t on the head side, h on the tail side) and
    ``vals[starts[i]:starts[i + 1]]`` the sorted unique ids known under
    ``keys[i]``.

    ``known=None`` → empty indexes (raw-only ranking; the filtered
    columns then equal the raw ones — used by
    :func:`link_prediction_ranks_relfilter`, which applies the
    known-filter relationally instead).
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
    chunk = {
        model: max(1, _CHUNK_BYTES // (n_ent * dim * (dim if model == "hole" else 1) * 8))
        for model, _ in models
    }
    b_emb = pin_broadcast(spark, dict(emb))
    domains, ranges = constraints or (None, None)
    b_filter = pin_broadcast(spark, (*_known_index(known), domains or {}, ranges or {}))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        E = b_emb.value
        heads_of, tails_of, domains, ranges = b_filter.value
        all_ents = np.arange(n_ent, dtype=np.int64)[None, :]

        def scores(model, dec, heads, r_ids, tails):
            s = kernels.score_batch(model, E, heads, r_ids, tails, norm)
            return s if dec is None else np.round(s, dec)

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
                    s_head = scores(model, dec, all_ents, r, t)
                    s_tail = scores(model, dec, h, r, all_ents)
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
        return [
            F.avg(c).alias(f"mr_{tag}"),
            F.avg(1.0 / c).alias(f"mrr_{tag}"),
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


def _mat_to_vec_df(spark: SparkSession, mat: np.ndarray, col: str = "vec") -> DataFrame:
    """``[n, d]`` NumPy → ``(id, vec array<double>)`` DataFrame.

    Test/fixture convenience only — the scale path reads ``(id, vec)``
    straight from a Parquet checkpoint (:func:`kgforge.io_openke.
    read_embedding_df`), never through the driver."""
    mat = np.asarray(mat, dtype="float64")
    # ndarray.tolist() (NOT list(map(list, ...))) — native Python floats,
    # plus an explicit schema: non-Arrow createDataFrame (Spark defaults;
    # the driver's harness) rejects np.float64 scalars and cannot infer
    # array<double> from object cells. The repo's own session enables
    # Arrow, which masked this — see tests/test_arrow_off.py.
    pdf = pd.DataFrame(
        {"id": np.arange(mat.shape[0], dtype="int64").tolist(), col: mat.tolist()}
    )
    return spark.createDataFrame(pdf, schema=f"id long, {col} array<double>")


def _emb_dfs(spark: SparkSession, emb) -> dict[str, DataFrame]:
    """Normalize an embeddings argument to ``(id, vec array<double>)``
    DataFrames per component. Accepts a NumPy dict (fixtures/tests) or a
    dict of DataFrames (Parquet-backed — the beyond-broadcast path);
    float vecs are upcast to double so array folds accumulate in f64
    (L1 of f32 inputs is then exact — rank parity with the f64 oracles).
    """
    out: dict[str, DataFrame] = {}
    for key, v in emb.items():
        if isinstance(v, DataFrame):
            out[key] = v.select(
                F.col("id").cast("long").alias("id"),
                F.transform("vec", lambda x: x.cast("double")).alias("vec"),
            )
        elif key == "mat":
            # TransR matrices [|R|, d_r, d_e] ride as flat (id, vec)
            # rows — exactly the A20 checkpoint layout (io_openke
            # flattens trailing dims); re-sliced to 2-D lazily where
            # the relational matmul needs rows (_transr_proj).
            m = np.asarray(v)
            out[key] = _mat_to_vec_df(spark, m.reshape(m.shape[0], -1))
        else:
            out[key] = _mat_to_vec_df(spark, v)
    return out


def _fold_dist(d, norm: int, score_decimals: int | None):
    """Distance of a difference array as a codegen fold (L1 or L2)."""
    if norm == 1:
        s = F.aggregate(d, F.lit(0.0), lambda acc, x: acc + F.abs(x))
    else:
        s = F.sqrt(F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.round(s, score_decimals) if score_decimals is not None else s


def _vdot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _with_score(
    df: DataFrame, model: str, norm: int, score_decimals: int | None,
    a: str, b: str, out: str,
) -> DataFrame:
    """Add ``out`` = model score of (``a`` + r − ``b``) computed as
    array folds in whole-stage codegen. ``df`` must carry ``rvec`` and
    the model's projection dots as JOINED columns (``{a,b}_wdot`` for
    TransH, ``{a,b}_pdot`` for TransD — see the wdot/edot tables in the
    caller). The dots MUST be join-produced attributes, not expressions:
    Catalyst collapses a withColumn dot into the zip_with lambda, where
    the O(d) fold would re-evaluate per array element (O(d²)/row —
    verified in the captured plan, docs/PLANS.md §6)."""
    if model == "distmult":
        # bilinear diagonal: −Σ a_k r_k b_k as two nested element-wise
        # products + ONE fold (each zip_with lambda is O(1) per element,
        # so no O(d²) re-evaluation — the docs/PLANS.md §6 trap needs an
        # O(d) fold inside the lambda)
        prod = F.zip_with(
            F.zip_with(F.col(a), F.col("rvec"), lambda x, y: x * y),
            F.col(b),
            lambda x, y: x * y,
        )
        s = -F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)
        return df.withColumn(
            out, F.round(s, score_decimals) if score_decimals is not None else s
        )
    if model == "complex":
        # Re(<a, r, conj(b)>) expanded: −Σ (a_re r_re − a_im r_im) b_re
        # + (a_re r_im + a_im r_re) b_im — four nested element-wise
        # product arrays, two folds; imaginary parts ride as the
        # ``{a}_im`` join attributes (same convention as the wdot/pdot
        # dots)
        def _p3(x_, y_, z_):
            return F.zip_with(F.zip_with(x_, y_, lambda p, q: p * q), z_, lambda p, q: p * q)

        t1 = F.zip_with(
            _p3(F.col(a), F.col("rvec"), F.col(b)),
            _p3(F.col(f"{a}_im"), F.col("rvec_im"), F.col(b)),
            lambda p, q: p - q,
        )
        t2 = F.zip_with(
            _p3(F.col(a), F.col("rvec_im"), F.col(f"{b}_im")),
            _p3(F.col(f"{a}_im"), F.col("rvec"), F.col(f"{b}_im")),
            lambda p, q: p + q,
        )
        s = -(
            F.aggregate(t1, F.lit(0.0), lambda acc, x: acc + x)
            + F.aggregate(t2, F.lit(0.0), lambda acc, x: acc + x)
        )
        return df.withColumn(
            out, F.round(s, score_decimals) if score_decimals is not None else s
        )
    if model == "transe":
        pa, pb = F.col(a), F.col(b)
    elif model == "transh":
        pa = F.zip_with(F.col(a), F.col("wvec"), lambda x, y: x - F.col(f"{a}_wdot") * y)
        pb = F.zip_with(F.col(b), F.col("wvec"), lambda x, y: x - F.col(f"{b}_wdot") * y)
    elif model == "transd":
        pa = F.zip_with(F.col(a), F.col("rpvec"), lambda x, y: x + F.col(f"{a}_pdot") * y)
        pb = F.zip_with(F.col(b), F.col("rpvec"), lambda x, y: x + F.col(f"{b}_pdot") * y)
    else:
        raise NotImplementedError(
            f"blocked eval supports transe/transh/transd/transr/distmult/complex; "
            f"{model!r} needs the broadcast path or link_prediction_ranks_relfilter"
        )
    s = F.zip_with(pa, F.col("rvec"), lambda x, y: x + y)
    d = F.zip_with(s, pb, lambda x, y: x - y)
    return df.withColumn(out, _fold_dist(d, norm, score_decimals))


def _transr_proj(test: DataFrame, dfs: dict[str, DataFrame]) -> DataFrame:
    """TransR projections as a relational table: ``(id, r, pvec)`` for
    every entity × distinct test relation.

    The per-relation matmul is one ``transform`` over the matrix rows
    whose lambda folds d_e elements — genuinely O(d_r·d_e) work per
    entity (a matmul's intrinsic cost), *not* the inlined-fold bug of
    docs/PLANS.md §6; downstream the projected vector reaches the
    scoring folds as a JOIN attribute. localCheckpointed because three
    joins (h-side, t-side, candidate-side) reference it — interpreted
    higher-order exprs re-evaluate per downstream reference otherwise.
    Matrices are model-parameter-sized (|R|·d²) → broadcast; the
    |E|-scaling side never leaves the JVM.
    """
    ent = dfs["ent"]
    mat = dfs["mat"]
    # O(1)-row probes for the literal slice bounds — not data-sized pulls
    d_e = len(ent.select("vec").first()[0])
    d_r = len(mat.select("vec").first()[0]) // d_e
    rels_test = test.select("r").dropDuplicates()
    mat2d = (
        mat.withColumnRenamed("id", "r")
        .join(rels_test, "r")
        .select(
            "r",
            F.transform(
                F.sequence(F.lit(0), F.lit(d_r - 1)),
                lambda i: F.slice("vec", i * d_e + 1, d_e),
            ).alias("mat2d"),
        )
    )
    return (
        ent.crossJoin(F.broadcast(mat2d))
        .select(
            "id",
            "r",
            F.transform("mat2d", lambda row: _vdot(row, F.col("vec"))).alias("pvec"),
        )
        .localCheckpoint(eager=False)
    )


def _constraint_df(spark: SparkSession, c) -> DataFrame | None:
    """One constraint side → ``(r, cand)`` DataFrame. Accepts a DataFrame
    (scale path — any two columns named r/cand) or an ``r → entity ids``
    dict (the broadcast path's ``type_constrain`` shape)."""
    if c is None:
        return None
    # dedupe BOTH paths: a duplicate (r, cand) pair would multiply
    # candidate rows through _flag_constraint's left join and silently
    # inflate rank counts
    if isinstance(c, DataFrame):
        return c.select(
            F.col("r").cast("long"), F.col("cand").cast("long")
        ).dropDuplicates(["r", "cand"])
    rows = sorted(
        {(int(r), int(e)) for r, ents in c.items() for e in np.asarray(ents).tolist()}
    )
    if not rows:
        return None
    from .session import tiny_df

    return tiny_df(spark, rows, "r long, cand long")


def _known_df(spark: SparkSession, known) -> DataFrame:
    """Distinct ``(h, t, r)`` known triples as a DataFrame, from a
    DataFrame (scale path) or pandas (tests/fixtures convenience)."""
    if isinstance(known, pd.DataFrame):
        return spark.createDataFrame(known[["h", "t", "r"]].drop_duplicates())
    return known.select("h", "t", "r").dropDuplicates()


def _flag_constraint(cand: DataFrame, cdf: DataFrame | None, flag: str) -> DataFrame:
    """Mark candidate rows allowed by the relation's constraint list;
    relations ABSENT from the list stay unconstrained (the reference's
    ``type_constrain`` rule — recalled, SURVEY.md §0). Constraint tables
    are dictionary-sized (per-relation entity lists), so both joins ride
    broadcast — no extra shuffle on the corpus-sized candidate table. A
    boolean flag (not a filter) lets ONE candidate scan serve both the
    domain-gated head counts and the range-gated tail counts."""
    if cdf is None:
        return cand.withColumn(flag, F.lit(True))
    marked = cdf.withColumn("_in", F.lit(1))
    rels = cdf.select("r").dropDuplicates().withColumn("_has", F.lit(1))
    return (
        cand.join(F.broadcast(marked), ["r", "cand"], "left")
        .join(F.broadcast(rels), "r", "left")
        # coalesce: a disallowed candidate's flag must be a real False,
        # not NULL (downstream sum() happens to drop NULLs, but any other
        # consumer of the flag would mis-handle three-valued logic)
        .withColumn(
            flag,
            F.coalesce(F.col("_has").isNull() | (F.col("_in") == 1), F.lit(False)),
        )
        .drop("_in", "_has")
    )


def link_prediction_ranks_blocked(
    spark: SparkSession,
    test: DataFrame,
    emb,
    known,
    norm: int = 1,
    model: str = "transe",
    constraints: tuple | None = None,
    score_decimals: int | None = None,
) -> DataFrame:
    """A15/A16 scale path: block-nested-loop ranks, fully relational.

    The broadcast-NumPy path (:func:`link_prediction_ranks`) holds the
    whole |E|·d entity matrix on every Python worker — the right plan at
    model-parameter scale, but an escape hatch is needed when |E| grows
    beyond broadcast reach. Here the entity embeddings are a DataFrame
    and candidates stream through a JVM join (test-batch × entity-block;
    AQE partitions the product), scores are array folds inside codegen,
    and ranks are one aggregation — nothing |E|-sized ever enters Python
    or the driver.

    ``emb``: dict of ``(id, vec)`` DataFrames (Parquet-backed — the
    intended ingestion at beyond-broadcast |E|; see ``io_openke.
    read_embedding_df``) or a NumPy dict (tests/fixtures convenience).
    ``known``: triples DataFrame (scale path) or pandas (convenience).
    Models: the four translational (TransE/TransH/TransD/TransR, L1 +
    L2) and the diagonal bilinear pair (DistMult / ComplEx — pass
    ``score_decimals=6``, product sums round order-dependently).
    TransR's per-relation matmul is relational too: entities are
    pre-projected per distinct test relation (:func:`_transr_proj` —
    the matrix rides broadcast, the |E|-sized projection table is a
    localCheckpointed JVM pass) and scoring is then TransE over the
    projections; ComplEx's imaginary halves join on exactly the real
    halves' paths.

    Same protocol (strict <, raw + filtered); output is identical to the
    broadcast path (tested). L1 TransE scores of float32 embeddings are
    exact in float64 so fold order cannot disagree; L2 and the projected
    models carry products (order-dependent last ulp) — pass
    ``score_decimals`` (6) to rank on rounded scores, mirroring
    ``a15_ranks_l2`` semantics.
    """
    dfs = _emb_dfs(spark, emb)
    ent = dfs["ent"].select("id", F.col("vec").alias("evec"))
    rel = dfs["rel"].select("id", F.col("vec").alias("rvec"))

    # model extras: per-relation vectors are broadcast-joined onto the
    # test side; TransD per-entity projection dots are one |E|-sized
    # relational pass (edot), reused by both directions. TransR entities
    # are pre-projected per test relation (_transr_proj) and the score
    # is then TransE on the projections.
    t = test.select("h", "t", "r").join(F.broadcast(rel.withColumnRenamed("id", "r")), "r")
    if model == "transr":
        proj = _transr_proj(test, dfs)
        t = (
            t.join(proj.select(F.col("id").alias("h"), "r", F.col("pvec").alias("hvec")), ["h", "r"])
            .join(proj.select(F.col("id").alias("t"), "r", F.col("pvec").alias("tvec")), ["t", "r"])
        )
        score_model = "transe"
    else:
        t = (
            t.join(F.broadcast(ent.select(F.col("id").alias("h"), F.col("evec").alias("hvec"))), "h")
            .join(F.broadcast(ent.select(F.col("id").alias("t"), F.col("evec").alias("tvec"))), "t")
        )
        score_model = model
    cand_ent = ent.select(F.col("id").alias("cand"), F.col("evec").alias("cvec"))
    cand_extra_join = None
    if model == "transh":
        w = dfs["norm"].select(F.col("id").alias("r"), F.col("vec").alias("wvec"))
        t = t.join(F.broadcast(w), "r")
        # (entity, test-relation) projection dots as a relational table —
        # the dot must reach the scoring lambda as a join attribute, not
        # an inline expression (see _with_score). |E| × |distinct test
        # relations| rows; exactly the SQL oracle's wdot CTE.
        rels = test.select("r").dropDuplicates()
        wdot = (
            dfs["ent"]
            .crossJoin(F.broadcast(w.join(rels, "r")))
            .select("id", "r", _vdot(F.col("wvec"), F.col("vec")).alias("wdot"))
        )
        t = (
            t.join(wdot.select(F.col("id").alias("h"), "r", F.col("wdot").alias("hvec_wdot")), ["h", "r"])
            .join(wdot.select(F.col("id").alias("t"), "r", F.col("wdot").alias("tvec_wdot")), ["t", "r"])
        )
        cand_extra_join = wdot.select(
            F.col("id").alias("cand"), "r", F.col("wdot").alias("cvec_wdot")
        )
    elif model == "complex":
        # imaginary halves ride exactly like the real ones: per-relation
        # vector broadcast onto the test side, per-entity vectors joined
        # on h/t (the broadcast side is the full |E|-sized ent_im vector
        # table — same shape and cost as the pre-existing ent joins
        # above; a semi-join down to the test batch's h/t ids would
        # shrink both) and onto the candidate table (one |E|-sized JVM
        # join, same shape as TransD's edot)
        ri = dfs["rel_im"].select(F.col("id").alias("r"), F.col("vec").alias("rvec_im"))
        ei = dfs["ent_im"]
        t = (
            t.join(F.broadcast(ri), "r")
            .join(F.broadcast(ei.select(F.col("id").alias("h"), F.col("vec").alias("hvec_im"))), "h")
            .join(F.broadcast(ei.select(F.col("id").alias("t"), F.col("vec").alias("tvec_im"))), "t")
        )
        cand_ent = cand_ent.join(
            ei.select(F.col("id").alias("cand"), F.col("vec").alias("cvec_im")), "cand"
        )
    elif model == "transd":
        rp = dfs["rel_p"].select(F.col("id").alias("r"), F.col("vec").alias("rpvec"))
        edot = (
            dfs["ent"]
            .join(dfs["ent_p"].select("id", F.col("vec").alias("pvec")), "id")
            .select("id", _vdot(F.col("pvec"), F.col("vec")).alias("pdot"))
        )
        t = (
            t.join(F.broadcast(rp), "r")
            .join(F.broadcast(edot.select(F.col("id").alias("h"), F.col("pdot").alias("hvec_pdot"))), "h")
            .join(F.broadcast(edot.select(F.col("id").alias("t"), F.col("pdot").alias("tvec_pdot"))), "t")
        )
        cand_ent = cand_ent.join(
            edot.select(F.col("id").alias("cand"), F.col("pdot").alias("cvec_pdot")), "cand"
        )
    t = _with_score(t, score_model, norm, score_decimals, "hvec", "tvec", "s_head_true").withColumn(
        "s_tail_true", F.col("s_head_true")
    )

    known_df = _known_df(spark, known)
    kn_heads = known_df.select(F.col("h").alias("cand"), F.col("t"), F.col("r")).withColumn("_kh", F.lit(1))
    kn_tails = known_df.select(F.col("h"), F.col("t").alias("cand"), F.col("r")).withColumn("_kt", F.lit(1))

    if model == "transr":
        # every (entity, test-relation) projection IS a candidate row —
        # joining proj on r alone enumerates the full candidate set
        # without a separate cross join
        cand = t.join(
            proj.select(F.col("id").alias("cand"), "r", F.col("pvec").alias("cvec")), "r"
        )
    else:
        cand = t.crossJoin(cand_ent)
        if cand_extra_join is not None:
            cand = cand.join(cand_extra_join, ["cand", "r"])
    # type-constrained protocol (`type_constrain.txt` semantics, mirroring
    # the broadcast path's `constraints`): head candidates restricted to
    # the relation's domain, tail candidates to its range, via broadcast
    # semi-joins on the candidate table. The true score is computed on the
    # test row itself, so it ranks against the constrained set exactly as
    # the broadcast kernel does; the known-filter correction joins run on
    # the already-constrained rows (== np.intersect1d(known, cand) there).
    domains, ranges = constraints or (None, None)
    cand = _flag_constraint(cand, _constraint_df(spark, domains), "in_dom")
    cand = _flag_constraint(cand, _constraint_df(spark, ranges), "in_rng")

    # ONE pass over the candidate product: both direction scores per row,
    # both known-filter markers, a single groupBy with four conditional
    # aggregates. The candidate table is the job's dominant cost (|test|
    # × |E| rows) and a DataFrame referenced twice executes twice (no
    # ReusedExchange for this shape — docs/PLANS.md round-3 audit), so
    # the earlier two-branch formulation built and scored it twice and
    # paid a third shuffle re-joining head ranks to tail ranks.
    scored = _with_score(cand, score_model, norm, score_decimals, "cvec", "tvec", "s_head_cand")
    scored = _with_score(scored, score_model, norm, score_decimals, "hvec", "cvec", "s_tail_cand")
    scored = (
        scored.join(kn_heads, ["cand", "t", "r"], "left")
        .join(kn_tails, ["cand", "h", "r"], "left")
        .withColumn("skip_h", (F.col("_kh") == 1) & (F.col("cand") != F.col("h")))
        .withColumn("skip_t", (F.col("_kt") == 1) & (F.col("cand") != F.col("t")))
    )
    lt_head = F.col("in_dom") & (F.col("s_head_cand") < F.col("s_head_true"))
    lt_tail = F.col("in_rng") & (F.col("s_tail_cand") < F.col("s_tail_true"))
    return scored.groupBy("h", "t", "r").agg(
        (1 + F.sum(lt_head.cast("long"))).alias("rank_head_raw"),
        (1 + F.sum(
            (lt_head & ~F.coalesce("skip_h", F.lit(False))).cast("long")
        )).alias("rank_head_filt"),
        (1 + F.sum(lt_tail.cast("long"))).alias("rank_tail_raw"),
        (1 + F.sum(
            (lt_tail & ~F.coalesce("skip_t", F.lit(False))).cast("long")
        )).alias("rank_tail_filt"),
    )


def link_prediction_ranks_relfilter(
    spark: SparkSession,
    test: DataFrame,
    emb: dict[str, np.ndarray],
    known: DataFrame,
    model: str = "transe",
    norm: int = 1,
    score_decimals: int | None = None,
) -> DataFrame:
    """A15/A16 with a **relational** known-triple filter — works for all
    four models and a data-sized known set.

    The broadcast path ships the full known set as driver-built hash
    maps — fine for dictionary-scale splits, a "collect() on data-sized
    inputs" violation when the known set is a corpus-derived KG (the B12
    gate's case). Decomposition: raw ranks need only the (model-
    parameter-sized, broadcast) embeddings; the filtered rank is then

        rank_filt = rank_raw − |{known cand ≠ true : score(cand) < score(true)}|

    and that correction is a join: known triples sharing the test
    triple's (r, t) (head side) / (r, h) (tail side) are the only
    candidates the filter can ever skip, so score exactly those few
    rows with the same kernel and subtract. ``known`` is a DataFrame end
    to end — nothing data-sized touches the driver. Output is identical
    to :func:`link_prediction_ranks` (tested for every model × norm).
    """
    raw = link_prediction_ranks(
        spark, test, emb, None, model=model, norm=norm, score_decimals=score_decimals
    ).select("h", "t", "r", "rank_head_raw", "rank_tail_raw")

    # true scores once (|test| rows — checkpoint so the two downstream
    # references don't re-run the scoring UDF)
    # rounding happens INSIDE score_triples with np.round — the identical
    # half-even rule the raw-rank kernel uses; F.round here (HALF_UP)
    # would break the decomposition identity on exact .5 boundaries
    s_true = score_triples(
        spark, test.select("h", "t", "r").dropDuplicates(), emb,
        model=model, norm=norm, decimals=score_decimals,
    ).withColumnRenamed("score", "s_true")
    s_true = s_true.localCheckpoint()
    known = known.select("h", "t", "r")

    # candidates the filter skips: known triples sharing the fixed
    # (r, other-entity) key, excluding the true entity itself. Both
    # directions union into ONE scoring pass (side-tagged), then one
    # conditional aggregation back onto the test key.
    def _cand(side: str) -> DataFrame:
        var = "h" if side == "head" else "t"     # the corrupted slot
        fix = "t" if side == "head" else "h"     # the fixed slot
        kn = known.select(F.col(var).alias("cand"), fix, "r").dropDuplicates()
        c = s_true.join(kn, [fix, "r"]).where(F.col("cand") != F.col(var))
        # scored triple: corrupted slot = cand; original entity rides
        # along as _true_e to reconstruct the test key after scoring
        return c.select(
            F.lit(side).alias("side"),
            F.col(var).alias("_true_e"),
            "s_true",
            F.col("cand").alias(var) if side == "head" else F.col("h"),
            F.col("t") if side == "head" else F.col("cand").alias("t"),
            F.col("r"),
        )

    cands = _cand("head").unionByName(_cand("tail"))
    scored = score_triples(
        spark, cands, emb, model=model, norm=norm, decimals=score_decimals
    )
    corr = (
        scored.where(F.col("score") < F.col("s_true"))
        .groupBy(
            F.when(F.col("side") == "head", F.col("_true_e")).otherwise(F.col("h")).alias("h"),
            F.when(F.col("side") == "head", F.col("t")).otherwise(F.col("_true_e")).alias("t"),
            F.col("r"),
        )
        .agg(
            F.sum((F.col("side") == "head").cast("long")).alias("_corr_head"),
            F.sum((F.col("side") == "tail").cast("long")).alias("_corr_tail"),
        )
    )
    return raw.join(corr, ["h", "t", "r"], "left").select(
        "h", "t", "r",
        "rank_head_raw",
        (F.col("rank_head_raw") - F.coalesce("_corr_head", F.lit(0))).alias("rank_head_filt"),
        "rank_tail_raw",
        (F.col("rank_tail_raw") - F.coalesce("_corr_tail", F.lit(0))).alias("rank_tail_filt"),
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
    Output ``(h, t, r, rank_rel_raw, rank_rel_filt)``; strict-< and the
    known-triple filtered correction follow the entity-rank protocol
    exactly (a known ``(h, cand, t)`` with ``cand != r`` never counts
    against the filtered rank).

    Fully relational like :func:`link_prediction_ranks_blocked`, but
    the candidate side is the RELATION table — model-parameter-sized
    (|R| rows), so the candidate product is a broadcast nested loop:
    |test| x |R| rows with no shuffle of the test side beyond its
    embedding joins, then ONE rank aggregation. At any corpus scale
    |R| stays dictionary-sized, which makes relation prediction the
    cheapest eval direction (the entity ranks pay |test| x |E|).

    TransE, L1 or L2; pass ``score_decimals`` (6) with ``norm=2`` —
    the same cross-engine float-ordering story as the entity ranks.
    Other kernels compose the same way (swap the scoring fold); the
    flagship kernel is what the contract pins.
    """
    dfs = _emb_dfs(spark, emb)
    ent = dfs["ent"]
    rel = dfs["rel"]
    t = (
        test.select("h", "t", "r")
        .join(ent.select(F.col("id").alias("h"), F.col("vec").alias("hvec")), "h")
        .join(ent.select(F.col("id").alias("t"), F.col("vec").alias("tvec")), "t")
        .join(
            F.broadcast(rel.select(F.col("id").alias("r"), F.col("vec").alias("rvec"))),
            "r",
        )
    )
    t = _with_score(t, "transe", norm, score_decimals, "hvec", "tvec", "s_true").drop(
        "rvec"
    )
    cand = t.crossJoin(
        F.broadcast(rel.select(F.col("id").alias("cand"), F.col("vec").alias("rvec")))
    )
    cand = _with_score(cand, "transe", norm, score_decimals, "hvec", "tvec", "s_cand")

    known_df = _known_df(spark, known)
    kn = known_df.select("h", "t", F.col("r").alias("cand")).withColumn(
        "_k", F.lit(1)
    )
    scored = cand.join(kn, ["h", "t", "cand"], "left").withColumn(
        "skip", (F.col("_k") == 1) & (F.col("cand") != F.col("r"))
    )
    lt = F.col("s_cand") < F.col("s_true")
    return scored.groupBy("h", "t", "r").agg(
        (1 + F.sum(lt.cast("long"))).alias("rank_rel_raw"),
        (1 + F.sum((lt & ~F.coalesce("skip", F.lit(False))).cast("long"))).alias(
            "rank_rel_filt"
        ),
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
    ``decimals`` rounds inside the NumPy kernel with ``np.round``
    (half-even) — the SAME rule ``link_prediction_ranks`` applies to its
    candidate scores, so rank decompositions built on these scores use
    one consistent rounding (Spark's ``F.round`` is HALF_UP and would
    disagree on exact .5 boundaries).
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
                s = kernels.score_batch(
                    model, E,
                    pdf["h"].to_numpy(np.int64),
                    pdf["r"].to_numpy(np.int64),
                    pdf["t"].to_numpy(np.int64),
                    norm,
                ).astype("float64")
                pdf["score"] = np.round(s, decimals) if decimals is not None else s
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
