"""A3–A6 — relation skew stats + negative sampling (uniform & bern).

Reference semantics (OpenKEonSpark ``base/Corrupt.h::corrupt_head/
corrupt_tail`` + ``base/Base.cpp::sampling``, recalled — SURVEY.md §0):

* A3: per-relation mean tails-per-head (tph) and heads-per-tail (hpt).
* A4 uniform: corrupt h or t with a uniform random entity; reject
  corruptions that form a *known* triple (the reference binary-searches
  its sorted triple arrays; we use a distributed ``left_anti`` join).
* A5 bern (Wang et al. 2014): corrupt the head with probability
  ``tph/(tph+hpt)`` for the triple's relation, else the tail — fewer
  false negatives on skewed relations.

Determinism without partition-dependence: candidate entities come from a
counter-based hash (splitmix64 over (h, t, r, seed, attempt)) computed
vectorized in NumPy — the same row yields the same corruption no matter
how Spark partitions the data. Rejection via one ``left_anti`` join per
attempt round, oversampling absorbs most rejections in round one.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import pin_broadcast

_NEG_SCHEMA = "h long, t long, r long, y int"


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 — the counter-based RNG for sampling."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    z = x
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


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


def _mix_base(H, T, R, K, ATT, seed: int, salt: int) -> np.ndarray:
    return (
        H * np.uint64(0x100000001B3)
        ^ T * np.uint64(0x1000193)
        ^ R * np.uint64(0x9E3779B1)
        ^ K
        ^ splitmix64(ATT + np.uint64(0xA77E3)) * np.uint64(0x9E3779B97F4A7C15)
        ^ np.uint64((seed * 2654435761 + salt) & 0xFFFFFFFFFFFFFFFF)
    )


def _slot_candidates(
    slots: DataFrame,
    n_space: int,
    att_lo: int,
    att_hi: int,
    seed: int,
    bern_p: dict[int, float] | None,
    corrupt_rel: bool,
    with_side: bool = False,
    constraints_bc=None,
) -> DataFrame:
    """One candidate per (slot, attempt) for attempts in [att_lo, att_hi).

    ``slots`` = ``(h, t, r, k)`` — positive × negative-slot index. The
    candidate is a pure counter hash of (h, t, r, k, attempt, seed):
    partition-independent and reproducible across retry rounds.

    ``with_side=True`` (entity mode only) keeps degenerate draws and
    emits the ``corrupt_head`` decision — the observability path for
    the bern head/tail ratio property (exactly one row per slot ×
    attempt, so row counts are SQL-derivable).

    ``constraints_bc``: optional *broadcast* of ``(domains, ranges)``
    maps ``r → sorted unique entity ids`` (``type_constrain.txt``
    semantics): a head corruption draws uniformly from ``domains[r]``
    and a tail corruption from ``ranges[r]`` instead of the full entity
    space; relations absent from a map fall back to uniform — mirroring
    the eval path's candidate semantics (evaluate.link_prediction_ranks).
    The same counter hash indexes the candidate list, so constrained
    draws stay partition-independent.
    """
    n_att = att_hi - att_lo

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            H = np.repeat(pdf["h"].to_numpy(np.uint64), n_att)
            T = np.repeat(pdf["t"].to_numpy(np.uint64), n_att)
            R = np.repeat(pdf["r"].to_numpy(np.uint64), n_att)
            K = np.repeat(pdf["k"].to_numpy(np.uint64), n_att)
            ATT = np.tile(np.arange(att_lo, att_hi, dtype=np.uint64), len(pdf))
            salt = 0xC0FFEE if corrupt_rel else 0x5DEECE66D
            base = _mix_base(H, T, R, K, ATT, seed, salt)
            cand = (splitmix64(base) % np.uint64(n_space)).astype(np.int64)
            if corrupt_rel:
                nh, nt, nr = H.astype(np.int64), T.astype(np.int64), cand
                keep = nr != R.astype(np.int64)
            else:
                if bern_p is None:
                    corrupt_head = (
                        splitmix64(base ^ np.uint64(0xABCDEF)) & np.uint64(1)
                    ).astype(bool)
                else:
                    p = np.array([bern_p.get(int(x), 0.5) for x in R], dtype=np.float64)
                    u = (
                        splitmix64(base ^ np.uint64(0xABCDEF)) >> np.uint64(11)
                    ).astype(np.float64) / float(1 << 53)
                    corrupt_head = u < p
                if constraints_bc is not None:
                    # constrained draw: index the relation's candidate
                    # list with the SAME counter hash (degenerate/known
                    # rejection downstream is unchanged)
                    domains, ranges = constraints_bc.value
                    draw = splitmix64(base)
                    Ri = R.astype(np.int64)
                    for r_val in np.unique(Ri):
                        dom = domains.get(int(r_val))
                        rng = ranges.get(int(r_val))
                        if dom is not None and len(dom):
                            m = (Ri == r_val) & corrupt_head
                            cand[m] = dom[
                                (draw[m] % np.uint64(len(dom))).astype(np.int64)
                            ]
                        if rng is not None and len(rng):
                            m = (Ri == r_val) & ~corrupt_head
                            cand[m] = rng[
                                (draw[m] % np.uint64(len(rng))).astype(np.int64)
                            ]
                nh = np.where(corrupt_head, cand, H.astype(np.int64))
                nt = np.where(corrupt_head, T.astype(np.int64), cand)
                nr = R.astype(np.int64)
                # degenerate = corruption equals the positive
                keep = ~((nh == H.astype(np.int64)) & (nt == T.astype(np.int64)))
            out = pd.DataFrame(
                {
                    "sh": H.astype(np.int64), "st": T.astype(np.int64),
                    "sr": R.astype(np.int64), "k": K.astype(np.int64),
                    "attempt": ATT.astype(np.int64),
                    "h": nh, "t": nt, "r": nr,
                }
            )
            if with_side:
                out["corrupt_head"] = corrupt_head
                yield out
            else:
                yield out[keep]

    if with_side and corrupt_rel:
        raise ValueError("with_side applies to entity corruption only")
    return slots.mapInPandas(gen, _CAND_SIDE_SCHEMA if with_side else _CAND_SCHEMA)


def _exact_negatives(
    triples: DataFrame,
    n_space: int,
    neg_per_pos: int,
    seed: int,
    bern_p: dict[int, float] | None,
    known: DataFrame,
    corrupt_rel: bool,
    max_attempts: int = 16,
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
    constraints_bc = None
    if constraints is not None:
        constraints_bc = pin_broadcast(spark, constraints)
    slots = (
        triples.groupBy("h", "t", "r")
        .agg(F.count("*").alias("_m"))
        .withColumn(
            "k",
            F.explode(F.sequence(F.lit(0), F.col("_m") * neg_per_pos - 1)),
        )
        .select("h", "t", "r", F.col("k").cast("long").alias("k"))
    ).localCheckpoint()
    kn = known.select("h", "t", "r")
    picked = []
    att = 0
    step = 2
    while att < max_attempts:
        cand = _slot_candidates(
            slots, n_space, att, att + step, seed, bern_p, corrupt_rel,
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
        att += step
        if slots.isEmpty():
            break
    else:
        n_left = slots.count()
        if n_left:
            raise ValueError(
                f"{n_left} negative slots unfilled after {max_attempts} attempts "
                "(entity/relation space too saturated)"
            )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out.select("h", "t", "r").withColumn("y", F.lit(-1).cast("int"))


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
    bern_p: dict[int, float] | None = None
    if mode == "bern":
        st = (stats if stats is not None else bern_stats(triples)).toPandas()
        bern_p = {int(row.r): float(row.tph / (row.tph + row.hpt)) for row in st.itertuples()}
    known = known if known is not None else triples
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
    known = known if known is not None else triples
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
    bern_p: dict[int, float] | None = None
    if mode == "bern":
        st = (stats if stats is not None else bern_stats(triples)).toPandas()
        bern_p = {int(row.r): float(row.tph / (row.tph + row.hpt)) for row in st.itertuples()}
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
    pos = triples.select("h", "t", "r").withColumn("y", F.lit(1))
    parts = [pos]
    if neg_ent > 0:
        parts.append(negative_samples(triples, n_ent, neg_ent, mode, seed))
    if neg_rel > 0:
        parts.append(negative_rel_samples(triples, n_rel, neg_rel, seed))
    allrows = parts[0]
    for p in parts[1:]:
        allrows = allrows.unionByName(p)
    return allrows.withColumn(
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
