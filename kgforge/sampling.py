"""A3–A6 — relation skew stats, negative sampling (uniform & bern), and
the one corruption draw and known-triple index every trainer shares.

Reference semantics (OpenKEonSpark ``base/Corrupt.h::corrupt_head/
corrupt_tail`` + ``base/Base.cpp::sampling``, recalled — SURVEY.md §0):

* A3: per-relation mean tails-per-head (tph) and heads-per-tail (hpt).
* A4 uniform: corrupt h or t with a uniform random entity; redraw
  corruptions that form a *known* triple (the reference binary-searches
  its sorted triple arrays).
* A5 bern (Wang et al. 2014): corrupt the head with probability
  ``tph/(tph+hpt)`` for the triple's relation, else the tail — fewer
  false negatives on skewed relations.

One draw, :func:`corruption_draw`: a counter hash of (h, t, r, key, seed,
attempt), so a slot's corruption does not depend on partitioning. The
NumPy trainer (``training._batches``, key ``epoch · n_neg + k``) and the
Spark sampler (:func:`_slot_candidates`, key = slot index ``k``) call it.

One NumPy known-triple index, :func:`sorted_index`: probed per key by
:func:`indexed_values` (the evaluator's filter) and per triple by
:func:`index_contains` (the trainer's redraw test). The Spark sampler
rejects by a distributed ``left_anti`` join per retry round instead, the
one filter that never collects the known set to the driver. Both raise
on a slot still unfilled after ``MAX_ATTEMPTS`` draws.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import pin_broadcast

_NEG_SCHEMA = "h long, t long, r long, y int"

_PHI = 0x9E3779B97F4A7C15
#: relation corruption keys its slots from here up: a slot's entity and
#: relation draws are different hashes
_REL_KEYS = 1 << 63
MAX_ATTEMPTS = 16


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the counter-based RNG for sampling."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = x
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def corruption_draw(h, t, r, key, attempt, n: int, seed: int, bern_p=None,
                    constraints=None, relation: bool = False):
    """The ``attempt``-th corruption ``(nh, nt, nr)`` of each ``(h, t, r)``
    and its side ``head`` (``True`` where the head is replaced; ``None``
    when ``relation=True`` replaces ``r``, keyed from ``_REL_KEYS`` up).

    ``base = h·0x100000001B3 ^ t·0x1000193 ^ r·0x9E3779B1 ^ (seed·2654435761
    + key·0x5DEECE66D mod 2^64)``, and attempt ``a`` draws
    ``splitmix64(base ^ a·φ) % n``; ``key`` and ``attempt`` are scalars
    or arrays like ``h``. The side is the low bit of
    ``splitmix64(base ^ 0xABCDEF)`` — or its top 53 bits as a uniform
    ``u < bern_p[r]``, a dense per-relation array (0.5 past its end) — so
    it is fixed per slot. ``constraints`` = ``(domains, ranges)`` maps
    ``r → entity ids`` index head draws into ``domains[r]`` and tail
    draws into ``ranges[r]``; a relation absent from a map draws from ``n``.
    """
    h, t, r = (np.asarray(x, np.int64) for x in (h, t, r))
    key, attempt = (np.broadcast_to(np.asarray(x, np.uint64), h.shape) for x in (key, attempt))
    key = key | np.uint64(_REL_KEYS if relation else 0)
    base = (
        h.astype(np.uint64) * np.uint64(0x100000001B3)
        ^ t.astype(np.uint64) * np.uint64(0x1000193)
        ^ r.astype(np.uint64) * np.uint64(0x9E3779B1)
        ^ (np.uint64(seed * 2654435761 & 0xFFFFFFFFFFFFFFFF) + key * np.uint64(0x5DEECE66D))
    )
    draw = splitmix64(base ^ attempt * np.uint64(_PHI))
    cand = (draw % np.uint64(n)).astype(np.int64)
    if relation:
        return h, t, cand, None
    side = splitmix64(base ^ np.uint64(0xABCDEF))
    if bern_p is None:
        head = (side & np.uint64(1)).astype(bool)
    else:
        p = np.append(bern_p, 0.5)[np.minimum(r, len(bern_p))]
        head = (side >> np.uint64(11)).astype(np.float64) / float(1 << 53) < p
    if constraints is not None:
        for r_val in np.unique(r):
            for lists, on_side in zip(constraints, (head, ~head)):
                ids = lists.get(int(r_val))
                if ids is not None and len(ids):
                    m = (r == r_val) & on_side
                    cand[m] = ids[(draw[m] % np.uint64(len(ids))).astype(np.int64)]
    return np.where(head, cand, h), np.where(head, t, cand), r, head


def sorted_index(key: np.ndarray, val: np.ndarray) -> tuple:
    """Sorted index ``(keys, starts, vals)`` of ``(key, val)`` pairs:
    ``keys`` are the unique keys and ``vals[starts[i]:starts[i + 1]]``
    the sorted unique values under ``keys[i]``. The known triples are
    indexed with ``key = (r << 32) | e`` (ids below 2^32 and 2^31)."""
    key, val = np.unique(np.stack([key, val]), axis=1)
    keys, starts = np.unique(key, return_index=True)
    return keys, np.append(starts, len(key)), val


def _runs(index: tuple, key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per key, the bounds of its value run in ``vals``: its left and right
    ``searchsorted`` slots in ``keys`` coincide on a miss (an empty run)."""
    keys, starts, _ = index
    return starts[np.searchsorted(keys, key)], starts[np.searchsorted(keys, key, side="right")]


def indexed_values(index: tuple, key: np.ndarray) -> list[np.ndarray]:
    """Per key, the sorted values :func:`sorted_index` holds under it."""
    lo, hi = _runs(index, key)
    return [index[2][a:b] for a, b in zip(lo, hi)]


def index_contains(index: tuple, key: np.ndarray, val: np.ndarray) -> np.ndarray:
    """Whether each ``(key, val)`` pair is in the index: one vectorized
    bisection of every pair's value run at once."""
    vals = index[2]
    lo, end = _runs(index, key)
    if not len(vals):
        return np.zeros(len(lo), bool)
    hi = end.copy()
    while (open_ := lo < hi).any():
        mid = (lo + hi) >> 1
        less = vals[np.minimum(mid, len(vals) - 1)] < val
        lo = np.where(open_ & less, mid + 1, lo)
        hi = np.where(open_ & ~less, mid, hi)
    return (lo < end) & (vals[np.minimum(lo, len(vals) - 1)] == val)


def bern_stats(triples: DataFrame) -> DataFrame:
    """A3: per-relation ``tph`` and ``hpt`` via two-level aggregation.

    Output: ``r, tph, hpt`` (doubles). Two hash aggregations, partial
    map-side combine automatic; result is relation-cardinality small →
    broadcast into the sampling UDF.
    """
    tph = (
        triples.groupBy("r", "h").agg(F.countDistinct("t").alias("n"))
        .groupBy("r").agg(F.avg("n").alias("tph"))
    )
    hpt = (
        triples.groupBy("r", "t").agg(F.countDistinct("h").alias("n"))
        .groupBy("r").agg(F.avg("n").alias("hpt"))
    )
    return tph.join(hpt, "r")


_CAND_SCHEMA = "sh long, st long, sr long, k long, attempt long, h long, t long, r long"
_CAND_SIDE_SCHEMA = _CAND_SCHEMA + ", corrupt_head boolean"


def _bern_p(triples: DataFrame, stats: DataFrame | None) -> np.ndarray:
    """A5's head-corruption probability ``tph/(tph+hpt)`` as a dense
    per-relation array (relations the stats lack corrupt at 0.5)."""
    st = (stats if stats is not None else bern_stats(triples)).toPandas()
    p = np.full(int(st["r"].max()) + 1 if len(st) else 0, 0.5)
    p[st["r"].to_numpy(np.int64)] = (st["tph"] / (st["tph"] + st["hpt"])).to_numpy()
    return p


def _slot_candidates(
    slots: DataFrame,
    n_space: int,
    att_lo: int,
    att_hi: int,
    seed: int,
    bern_p: np.ndarray | None,
    corrupt_rel: bool,
    with_side: bool = False,
    constraints_bc=None,
) -> DataFrame:
    """One candidate per (slot, attempt) for attempts in [att_lo, att_hi).

    ``slots`` = ``(h, t, r, k)`` — positive × negative-slot index. The
    candidate is :func:`corruption_draw` with the slot index ``k`` as its
    key: partition-independent and reproducible across retry rounds.
    Degenerate draws (the positive itself) are dropped.

    ``with_side=True`` (entity mode only) keeps degenerate draws and
    emits the ``corrupt_head`` decision — the observability path for
    the bern head/tail ratio property (exactly one row per slot ×
    attempt, so row counts are SQL-derivable).

    ``constraints_bc``: optional *broadcast* of the draw's ``(domains,
    ranges)`` maps (``type_constrain.txt`` semantics), mirroring the eval
    path's candidate semantics (evaluate.link_prediction_ranks).
    """
    n_att = att_hi - att_lo

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            H, T, R, K = (np.repeat(pdf[c].to_numpy(np.int64), n_att) for c in ("h", "t", "r", "k"))
            ATT = np.tile(np.arange(att_lo, att_hi, dtype=np.int64), len(pdf))
            nh, nt, nr, head = corruption_draw(
                H, T, R, K, ATT, n_space, seed, bern_p,
                constraints_bc.value if constraints_bc is not None else None, corrupt_rel,
            )
            out = pd.DataFrame(
                {"sh": H, "st": T, "sr": R, "k": K, "attempt": ATT, "h": nh, "t": nt, "r": nr}
            )
            if with_side:
                out["corrupt_head"] = head
                yield out
            else:
                yield out[(nh != H) | (nt != T) | (nr != R)]

    return slots.mapInPandas(gen, _CAND_SIDE_SCHEMA if with_side else _CAND_SCHEMA)


def _exact_negatives(
    triples: DataFrame,
    n_space: int,
    neg_per_pos: int,
    seed: int,
    bern_p: np.ndarray | None,
    known: DataFrame | None,
    corrupt_rel: bool,
    constraints: tuple[dict[int, np.ndarray], dict[int, np.ndarray]] | None = None,
) -> DataFrame:
    """Exactly ``neg_per_pos`` negatives per positive (reference
    ``base/Corrupt.h`` semantics, recalled — SURVEY.md §0: redraw until
    the corruption is not a known triple; duplicates across positives
    are allowed, each slot keeps its first surviving draw).

    Slot = (positive, k). Per retry round: generate candidates for the
    still-unfilled slots only (2 attempts per round — rejection
    probability is ~degree/|E| so round one fills ~99.9% of slots),
    reject known triples with one distributed ``left_anti`` join, keep
    the min-attempt survivor per slot. The round loop runs on the
    driver but every data pass is a Spark plan — no collect().

    Duplicate positives are legal: slots are built per (h, t, r) GROUP
    with ``multiplicity × neg_per_pos`` distinct k values, so each
    duplicate row contributes its own negatives and the output is
    exactly ``neg_per_pos × count(triples)`` rows even on non-distinct
    input (distinct input takes k ∈ [0, neg_per_pos) — bit-identical to
    the ungrouped construction).
    """
    spark = triples.sparkSession
    constraints_bc = None if constraints is None else pin_broadcast(spark, constraints)
    slots = (
        triples.groupBy("h", "t", "r")
        .agg(F.count("*").alias("_m"))
        .withColumn(
            "k",
            F.explode(F.sequence(F.lit(0), F.col("_m") * neg_per_pos - 1)),
        )
        .select("h", "t", "r", F.col("k").cast("long").alias("k"))
    ).localCheckpoint()
    kn = (known if known is not None else triples).select("h", "t", "r")
    picked = []
    for att in range(0, MAX_ATTEMPTS, 2):
        cand = _slot_candidates(
            slots, n_space, att, att + 2, seed, bern_p, corrupt_rel,
            constraints_bc=constraints_bc,
        )
        good = cand.join(kn, ["h", "t", "r"], "left_anti")
        best = (
            good.groupBy("sh", "st", "sr", "k")
            .agg(F.min(F.struct("attempt", "h", "t", "r")).alias("m"))
            .select(
                "sh", "st", "sr", "k",
                F.col("m.h").alias("h"), F.col("m.t").alias("t"), F.col("m.r").alias("r"),
            )
            .localCheckpoint()
        )
        picked.append(best)
        slots = slots.join(
            best.select(
                F.col("sh").alias("h"), F.col("st").alias("t"),
                F.col("sr").alias("r"), "k",
            ),
            ["h", "t", "r", "k"],
            "left_anti",
        ).localCheckpoint()
        if slots.isEmpty():
            break
    else:
        raise ValueError(
            f"{slots.count()} negative slots unfilled after {MAX_ATTEMPTS} attempts "
            "(entity/relation space too saturated)"
        )
    out = reduce(DataFrame.unionByName, picked).select("h", "t", "r")
    return out.withColumn("y", F.lit(-1).cast("int"))


def negative_samples(
    triples: DataFrame,
    n_ent: int,
    neg_per_pos: int = 1,
    mode: str = "uniform",
    seed: int = 42,
    stats: DataFrame | None = None,
    known: DataFrame | None = None,
    constraints: tuple[dict[int, np.ndarray], dict[int, np.ndarray]] | None = None,
) -> DataFrame:
    """A4/A5: exactly ``neg_per_pos`` negatives per positive, none of
    which is a known triple.

    Returns ``(h, t, r, y=-1)`` — row count is exactly
    ``neg_per_pos * count(triples)``; duplicates across different
    positives are legal (the reference corrupts each positive
    independently). ``known`` defaults to ``triples``. Rejection is one
    distributed ``left_anti`` join per retry round (broadcast when
    small, sort-merge + AQE otherwise — never a driver-side set).

    ``constraints``: optional ``(domains, ranges)`` maps ``r → entity
    ids`` (``type_constrain.txt`` semantics): head corruptions draw from
    the relation's domain, tail corruptions from its range — the
    constrained-corruption companion to the eval path's constrained
    ranking. Harder negatives (type-plausible), fewer wasted gradient
    steps on trivially-typed corruptions. The maps are sc.broadcast once
    per call (entity-dictionary scale, same contract as eval's
    candidate maps).
    """
    if mode not in ("uniform", "bern"):
        raise ValueError(mode)
    bern_p = _bern_p(triples, stats) if mode == "bern" else None
    return _exact_negatives(
        triples, n_ent, neg_per_pos, seed, bern_p, known,
        corrupt_rel=False, constraints=constraints,
    )


def negative_rel_samples(
    triples: DataFrame,
    n_rel: int,
    neg_per_pos: int = 1,
    seed: int = 42,
    known: DataFrame | None = None,
) -> DataFrame:
    """A6's ``negative_rel`` path: corrupt the *relation* uniformly,
    rejecting corruptions that form a known triple (reference
    ``base/Base.cpp::sampling`` negRel branch, recalled — SURVEY.md §0).
    Exactly ``neg_per_pos`` per positive, same slot machinery as
    :func:`negative_samples`.
    """
    return _exact_negatives(triples, n_rel, neg_per_pos, seed, None, known, corrupt_rel=True)


def corruption_side_stats(
    triples: DataFrame,
    n_ent: int,
    mode: str = "bern",
    seed: int = 42,
    stats: DataFrame | None = None,
) -> DataFrame:
    """A5 observability: per-relation head-vs-tail corruption counts for
    the first draw of each positive (exactly one draw per row — no
    rejection/degenerate filtering, so ``n`` is SQL-derivable as the
    per-relation positive count).

    Output: ``r, n, n_head_corrupt`` (BIGINT). The bern contract (Wang
    et al. 2014): head corruption probability = tph/(tph+hpt) per
    relation — the a5 property oracle checks the observed ratio against
    the SQL-derived expectation within a binomial tolerance band.
    """
    bern_p = _bern_p(triples, stats) if mode == "bern" else None
    slots = triples.select("h", "t", "r").withColumn("k", F.lit(0).cast("long"))
    cand = _slot_candidates(slots, n_ent, 0, 1, seed, bern_p, corrupt_rel=False, with_side=True)
    return cand.groupBy(F.col("sr").alias("r")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("corrupt_head").cast("long")).cast("long").alias("n_head_corrupt"),
    )


def training_batches(
    triples: DataFrame,
    n_ent: int,
    n_rel: int,
    nbatches: int = 8,
    neg_ent: int = 1,
    neg_rel: int = 0,
    mode: str = "uniform",
    seed: int = 42,
) -> DataFrame:
    """A6 batch builder: positives + entity/relation negatives with
    labels, assigned to ``nbatches`` deterministic batch ids.

    Output: ``batch_id, h, t, r, y`` — positives (y=1) first per the
    reference's batch layout, negatives y=-1; batch assignment is a
    content hash so it is partition-independent.
    """
    parts = [triples.select("h", "t", "r").withColumn("y", F.lit(1))]
    if neg_ent > 0:
        parts.append(negative_samples(triples, n_ent, neg_ent, mode, seed))
    if neg_rel > 0:
        parts.append(negative_rel_samples(triples, n_rel, neg_rel, seed))
    return reduce(DataFrame.unionByName, parts).withColumn(
        "batch_id", F.pmod(F.hash("h", "t", "r", F.lit(seed)), F.lit(nbatches))
    ).select("batch_id", "h", "t", "r", "y")


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    A-ExpJ order-sampling): keep the ``k`` rows minimizing
    ``-ln(u)/w`` — an Exponential(w) variate per row — which selects
    each row with probability proportional to ``weight_col`` among the
    survivors. The corpus-curation workhorse ("sample 1M documents
    proportional to quality score").

    Engine-replayable randomness, same contract as the stratified md5
    gate and the node2vec argmin: ``u ∈ (0, 1]`` comes from the first
    15 hex digits of ``md5(seed:key)`` (``conv(hex,16,10)`` here,
    ``('0x'||hex)::UBIGINT::DOUBLE`` in DuckDB — identical IEEE
    doubles), and ``round(…, 12)`` pins the ln ulp, so ANY engine
    reproduces the exact sample. No RNG state, no shuffle for the
    draw itself; the only movement is the distributed top-k
    (``TakeOrdered`` — never a full global sort). Rows with
    non-positive weight are excluded (zero-weight rows must never be
    sampled; they would otherwise win with probability → 0 but rank
    among finite keys when u is tiny).

    ``key_col`` must be unique per row — it is the entire randomness
    input (duplicate keys draw identical ``u``, correlating their
    selection).
    """
    m = F.md5(F.concat_ws(":", F.lit(int(seed)), F.col(key_col)).cast("binary"))
    vnum = F.conv(F.substring(m, 1, 15), 16, 10).cast("double")
    u01 = (vnum + F.lit(1.0)) / F.lit(1152921504606846976.0)  # 16^15
    key = F.round(-F.log(u01) / F.col(weight_col).cast("double"), 12)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("sample_key", key)
        .orderBy("sample_key", key_col)
        .limit(int(k))
    )


def assign_splits(
    df: DataFrame,
    key_col: str,
    fracs: dict[str, float],
    seed: int = 42,
) -> DataFrame:
    """Deterministic train/valid/test split assignment: each row lands
    in a split with probability ``fracs[name]``, decided ONLY by
    ``md5(seed:key)`` — no RNG state, no shuffle, independent of
    partitioning, stable under re-runs and engine changes (the same
    contract as the stratified md5 gate and ``weighted_sample``).

    The gate is all-integer: the first 15 md5 hex digits as a 60-bit
    int, modulo 1000, compared against cumulative per-mille
    boundaries (fracs must sum to 1.0 within 1e-9 and each be a
    multiple of 0.001 — the resolution of the gate). Insertion order
    of ``fracs`` fixes the boundary order. Adds ``bucket`` (0..999)
    and ``split``.

    Scale shape: a narrow JVM-side map over the key column — zero
    shuffles, zero state; at 100 TB the split is decided during the
    scan. Rows move between splits only if their KEY changes, so
    incremental appends never reshuffle existing assignments.
    """
    mille = []
    for name, frac in fracs.items():
        m = round(frac * 1000)
        if abs(frac * 1000 - m) > 1e-6:
            raise ValueError(f"frac {name}={frac} is not a multiple of 0.001")
        mille.append((name, m))
    if sum(m for _, m in mille) != 1000:
        raise ValueError(f"fracs must sum to 1.0, got {fracs}")
    m = F.md5(F.concat_ws(":", F.lit(int(seed)), F.col(key_col)).cast("binary"))
    vnum = F.conv(F.substring(m, 1, 15), 16, 10).cast("long")
    bucket = F.pmod(vnum, F.lit(1000))
    expr = None
    cum = 0
    for name, mm in mille[:-1]:
        cum += mm
        branch = (bucket < F.lit(cum), F.lit(name))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    last = F.lit(mille[-1][0])
    split = last if expr is None else expr.otherwise(last)
    return df.withColumn("bucket", bucket.cast("long")).withColumn("split", split)
