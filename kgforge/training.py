"""A11/A12/A13/A21 — TransE-family training (margin-ranking SGD) and
incremental batch training.

The reference trains with TensorFlowOnSpark parameter servers
(OpenKEonSpark ``distribute_training.py::main_fun`` + ``Config.py``,
recalled — SURVEY.md §0). That topology is replaced Spark-natively
(SURVEY.md §4): training is NOT on the parity-critical path (scoring/
eval use frozen embeddings), but the engine still ships a trainer so
fixture embeddings can be *produced*, not just synthesized:

* :func:`train` — exact single-process NumPy SGD (margin ranking loss,
  uniform/bern corruption, entity L2-normalization per epoch — the
  upstream OpenKE recipe).
* :func:`train_distributed` — data-parallel epochs: the input is
  collected once and its hash shards broadcast; each round one task per
  shard runs the same NumPy SGD from the broadcast parameters, and the
  driver averages (synchronous parameter averaging — the Spark-native
  stand-in for the reference's async ps updates; deterministic).
* :func:`train_incremental` — A21: numbered snapshot dirs ``0/,1/,...``;
  warm-start from the previous increment's embeddings, Xavier-init rows
  for unseen entities/relations, re-evaluate per increment.

One training core serves every trainer: :func:`_batches` (the negative-
sampling schedule: ``sampling.corruption_draw``, redrawn against the
whole train set's ``sampling.sorted_index`` — the draw and the index the
Spark sampler and the evaluator use), :class:`_OptState` (the sparse
optimizer step),
:func:`_margin_epochs` (the hinge loop TransE, DistMult, ComplEx and
RotatE plug a ``score_grads`` into) and :func:`param_average` (the
round behind :func:`train_distributed` and ``graphembed.train_deepwalk``).
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pandas as pd

from . import kernels
from .sampling import MAX_ATTEMPTS, corruption_draw, index_contains, sorted_index


def _xavier(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    bound = 6.0 / np.sqrt(d)
    return rng.uniform(-bound, bound, size=(n, d)).astype("float64")


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.maximum(n, 1e-12)


def _negatives(h, t, r, n_ent, seed, key, bern_p, known):
    """``sampling.corruption_draw`` at ``key``, redrawn (attempt 1, 2, …)
    wherever ``known`` (tails keyed ``(r << 32) | h``) holds the
    corruption, the positive itself included — as the reference's
    ``base/Corrupt.h`` (recalled — SURVEY.md §0); a false negative pulls
    a true triple apart. A slot still known after ``MAX_ATTEMPTS`` raises."""
    nh, nt = h.copy(), t.copy()
    todo = np.arange(len(h))
    for attempt in range(MAX_ATTEMPTS):
        dh, dt, _, _ = corruption_draw(h[todo], t[todo], r[todo], key, attempt, n_ent, seed, bern_p)
        nh[todo], nt[todo] = dh, dt
        todo = todo[index_contains(known, (r[todo] << 32) | dh, dt)]
        if not len(todo):
            return nh, nt
    raise ValueError(
        f"{len(todo)} negative slots unfilled after {MAX_ATTEMPTS} attempts "
        "(entity space too saturated)"
    )


def _batches(triples, n_ent, seed, epochs, epoch_offset, batch_size, bern_p=None, n_neg=1,
             known=None):
    """Yields one ``batches`` iterator per epoch (also for zero triples);
    ``batches`` yields ``(h, t, r, negs)`` over a seeded permutation, with
    ``n_neg`` :func:`_negatives` ``(nh, nt)`` at keys ``ep * n_neg + k``
    that avoid the triples of ``known`` (default: ``triples``' own)."""
    h_all = triples["h"].to_numpy(np.int64)
    t_all = triples["t"].to_numpy(np.int64)
    r_all = triples["r"].to_numpy(np.int64)
    n = len(h_all)
    if known is None:
        known = sorted_index((r_all << 32) | h_all, t_all)

    def epoch(ep):
        order = np.random.default_rng(seed * 7919 + ep).permutation(n)
        for lo in range(0, n, batch_size):
            idx = order[lo:lo + batch_size]
            h, t, r = h_all[idx], t_all[idx], r_all[idx]
            yield h, t, r, [
                _negatives(h, t, r, n_ent, seed, ep * n_neg + k, bern_p, known)
                for k in range(n_neg)
            ]

    for ep in range(epoch_offset, epoch_offset + epochs):
        yield epoch(ep)


class _OptState:
    """A12 optimizer step, sparse-applied (the reference trains its
    OpenKE models with ``Config.set_opt_method`` choosing among SGD/
    Adagrad/Adadelta/Adam, recalled — SURVEY.md §0). ``sgd`` scatters
    ``lr * grads`` with ``np.subtract.at``, so colliding batch rows sum
    their gradients. Adagrad / Adam / Adadelta pre-sum duplicate row
    gradients, then update only the touched rows and their state (TF's
    sparse apply)."""

    def __init__(self, shape: tuple[int, int], method: str):
        self.method = method
        if method == "adagrad":
            self.G = np.zeros(shape)
        elif method == "adam":
            self.m = np.zeros(shape)
            self.v = np.zeros(shape)
        elif method == "adadelta":
            self.Eg = np.zeros(shape)
            self.Ex = np.zeros(shape)
        elif method != "sgd":
            raise ValueError(f"unknown opt_method {method!r}")

    def apply(self, param: np.ndarray, rows: np.ndarray, grads: np.ndarray,
              lr: float, t_step: int = 1) -> None:
        if self.method == "sgd":
            np.subtract.at(param, rows, lr * grads)
            return
        uniq, inv = np.unique(rows, return_inverse=True)
        g = np.zeros((len(uniq), param.shape[1]))
        np.add.at(g, inv, grads)
        eps = 1e-8
        if self.method == "adagrad":
            self.G[uniq] += g * g
            param[uniq] -= lr * g / (np.sqrt(self.G[uniq]) + eps)
        elif self.method == "adam":
            b1, b2 = 0.9, 0.999
            self.m[uniq] = b1 * self.m[uniq] + (1 - b1) * g
            self.v[uniq] = b2 * self.v[uniq] + (1 - b2) * g * g
            mh = self.m[uniq] / (1 - b1 ** t_step)
            vh = self.v[uniq] / (1 - b2 ** t_step)
            param[uniq] -= lr * mh / (np.sqrt(vh) + eps)
        elif self.method == "adadelta":
            rho, eps_d = 0.95, 1e-6
            self.Eg[uniq] = rho * self.Eg[uniq] + (1 - rho) * g * g
            dx = -np.sqrt(self.Ex[uniq] + eps_d) / np.sqrt(self.Eg[uniq] + eps_d) * g
            self.Ex[uniq] = rho * self.Ex[uniq] + (1 - rho) * dx * dx
            param[uniq] += dx


def _margin_epochs(triples, params, n_ent_params, score_grads, epochs, lr, margin, seed,
                   bern_p=None, batch_size=1024, epoch_offset=0, opt_method="sgd",
                   normalize=False, known=None) -> tuple[np.ndarray, ...]:
    """Hinge ``max(0, margin + s(pos) − s(neg))`` epochs on copies of
    ``params`` (``n_ent_params`` entity matrices, then relation ones).
    ``score_grads(P, h, t, r) -> (s, dh, dt, dr)`` gives the score (lower
    is better) and one partial per entity (``dh``, ``dt``) or relation
    (``dr``) matrix; active rows step ``[h, t, nh, nt]`` along
    ``[dh, dt, −dnh, −dnt]`` and ``r`` along ``dr − dnr``. ``normalize``
    L2-normalizes ``params[0]``'s rows every epoch (OpenKE's TransE);
    ``known`` is :func:`_batches`'."""
    P = [p.copy() for p in params]
    opts = [_OptState(p.shape, opt_method) for p in P]
    t_step = 0
    for batches in _batches(triples, P[0].shape[0], seed, epochs, epoch_offset,
                            batch_size, bern_p, known=known):
        if normalize:
            P[0] = _normalize_rows(P[0])
        for h, t, r, [(nh, nt)] in batches:
            sp, dh, dt, dr = score_grads(P, h, t, r)
            sn, dnh, dnt, dnr = score_grads(P, nh, nt, r)
            a = (margin + sp - sn) > 0
            if not a.any():
                continue
            t_step += 1
            rows = np.concatenate([h[a], t[a], nh[a], nt[a]])
            for i, (gh, gt, gnh, gnt) in enumerate(zip(dh, dt, dnh, dnt)):
                grads = np.concatenate([gh[a], gt[a], -gnh[a], -gnt[a]])
                opts[i].apply(P[i], rows, grads, lr, t_step)
            for i, (gp, gn) in enumerate(zip(dr, dnr), n_ent_params):
                opts[i].apply(P[i], r[a], gp[a] - gn[a], lr, t_step)
    return tuple(P)


def _transe_score_grads(P, h, t, r, norm=1):
    """TransE ``‖h + r − t‖_norm``: ``g = ∂s/∂h = ∂s/∂r = −∂s/∂t``."""
    ent, rel = P
    d = ent[h] + rel[r] - ent[t]
    s = kernels._dist(d.T.copy(), norm)  # component-major, and _dist overwrites it
    g = np.sign(d) if norm == 1 else d / np.maximum(s, 1e-12)[:, None]
    return s, (g,), (-g,), (g,)


def _distmult_score_grads(P, h, t, r):
    """DistMult ``s = −Σ h∘r∘t`` (negated per ``kernels.distmult``)."""
    ent, rel = P
    H, R, T = ent[h], rel[r], ent[t]
    return -(H * R * T).sum(1), (-(R * T),), (-(H * R),), (-(H * T),)


def _complex_score_grads(P, h, t, r):
    """ComplEx ``s = −Re⟨h, r, conj(t)⟩`` (negated per
    ``kernels.complex_score``), partials expanded into real arithmetic."""
    ent_re, ent_im, rel_re, rel_im = P
    hre, him, tre, tim = ent_re[h], ent_im[h], ent_re[t], ent_im[t]
    rre, rim = rel_re[r], rel_im[r]
    s = -((hre * rre - him * rim) * tre + (hre * rim + him * rre) * tim).sum(1)
    return (
        s,
        (-(rre * tre + rim * tim), -(rre * tim - rim * tre)),
        (-(hre * rre - him * rim), -(hre * rim + him * rre)),
        (-(hre * tre + him * tim), -(hre * tim - him * tre)),
    )


def _rotate_residual(hre, him, c, s, tre, tim):
    """RotatE residual ``z = h·e^{iθ} − t`` as ``(re, im)``; ``c, s = cos θ, sin θ``."""
    return hre * c - him * s - tre, hre * s + him * c - tim


def _rotate_score_grads(P, h, t, r):
    """RotatE ``Σ_k |z_k|`` and its complex-modulus chain rule, with a
    ``max(|z|, ε)`` guard at the non-differentiable origin."""
    ent_re, ent_im, theta = P
    C, S = np.cos(theta[r]), np.sin(theta[r])
    hre, him = ent_re[h], ent_im[h]
    z_re, z_im = _rotate_residual(hre, him, C, S, ent_re[t], ent_im[t])
    m = np.maximum(np.sqrt(z_re * z_re + z_im * z_im), 1e-12)
    ur, ui = z_re / m, z_im / m
    g_th = ur * (-hre * S - him * C) + ui * (hre * C - him * S)
    return m.sum(1), (ur * C + ui * S, -ur * S + ui * C), (-ur, -ui), (g_th,)


def sgd_epochs(
    triples: pd.DataFrame,
    ent: np.ndarray,
    rel: np.ndarray,
    epochs: int,
    lr: float,
    margin: float,
    seed: int,
    norm: int = 1,
    bern_p: np.ndarray | None = None,
    batch_size: int = 1024,
    epoch_offset: int = 0,
    opt_method: str = "sgd",
    model: str = "transe",
    known: tuple | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """In-place-free margin-ranking epochs (:func:`_margin_epochs`);
    returns updated (ent, rel).

    ``opt_method``: ``sgd`` (default, the upstream recipe) or
    ``adagrad`` / ``adam`` / ``adadelta`` (A12 — reference
    ``Config.set_opt_method``). Non-SGD state is local to this call
    (resets across early-stop chunks, like restarting the optimizer).

    ``model``: ``transe`` (the reference recipe, L1 or L2 by ``norm``)
    or ``distmult`` — the bilinear-diagonal kernel under the same
    margin loss and negative sampler. The per-epoch entity row
    normalization is kept for both (OpenKE's TransE recipe; for
    DistMult it doubles as the usual norm regularizer).

    ``known``: the index negatives avoid (:func:`_batches`);
    :func:`train_distributed` passes the whole train set's.
    """
    score_grads = (_distmult_score_grads if model == "distmult"
                   else partial(_transe_score_grads, norm=norm))
    return _margin_epochs(
        triples, (ent, rel), 1, score_grads, epochs, lr, margin, seed, bern_p,
        batch_size, epoch_offset, opt_method, normalize=True, known=known,
    )


def valid_mrr(ent: np.ndarray, rel: np.ndarray, valid: pd.DataFrame, norm: int = 1) -> float:
    """Raw tail-MRR on a validation split (vectorized; early-stop metric)."""
    h = ent[valid["h"].to_numpy(np.int64)].T
    r = rel[valid["r"].to_numpy(np.int64)].T
    t_idx = valid["t"].to_numpy(np.int64)
    # component-major [d, B, 1] against [d, 1, |E|] → [B, |E|]
    scores = kernels.transe(h[:, :, None], r[:, :, None], np.ascontiguousarray(ent.T)[:, None], norm)
    true_s = scores[np.arange(len(valid)), t_idx]
    ranks = 1 + (scores < true_s[:, None]).sum(1)
    return float((1.0 / ranks).mean())


def train(
    train_triples: pd.DataFrame,
    n_ent: int,
    n_rel: int,
    dim: int = 16,
    epochs: int = 50,
    lr: float = 0.05,
    margin: float = 1.0,
    norm: int = 1,
    bern: bool = False,
    seed: int = 42,
    valid_triples: pd.DataFrame | None = None,
    eval_every: int = 10,
    patience: int = 3,
    opt_method: str = "sgd",
) -> dict[str, np.ndarray]:
    """A11/A12 (+A14): single-process reference trainer.

    With ``valid_triples``, evaluates valid MRR every ``eval_every``
    epochs and early-stops after ``patience`` non-improving evals,
    returning the best snapshot (the reference's early-stop/best-
    checkpoint behavior, OpenKEonSpark ``distribute_training.py``,
    recalled — SURVEY.md §0). Returns {'ent','rel'}.
    """
    rng = np.random.default_rng(seed)
    ent = _xavier(rng, n_ent, dim)
    rel = _normalize_rows(_xavier(rng, n_rel, dim))
    bern_p = None
    if bern:
        tph, hpt = (train_triples.groupby(["r", a])[b].nunique().groupby("r").mean()
                    for a, b in (("h", "t"), ("t", "h")))
        bern_p = np.full(n_rel, 0.5)
        bern_p[tph.index] = tph / (tph + hpt)
    if valid_triples is None:
        ent, rel = sgd_epochs(
            train_triples, ent, rel, epochs, lr, margin, seed, norm, bern_p,
            opt_method=opt_method,
        )
    else:
        best = (-1.0, ent, rel)
        bad = 0
        done = 0
        while done < epochs and bad < patience:
            step = min(eval_every, epochs - done)
            ent, rel = sgd_epochs(
                train_triples, ent, rel, step, lr, margin, seed, norm, bern_p,
                epoch_offset=done, opt_method=opt_method,
            )
            done += step
            mrr = valid_mrr(ent, rel, valid_triples, norm)
            if mrr > best[0]:
                best = (mrr, ent.copy(), rel.copy())
                bad = 0
            else:
                bad += 1
        _, ent, rel = best
    return {"ent": _normalize_rows(ent).astype("float32"), "rel": rel.astype("float32")}


def param_average(spark, shards: pd.DataFrame, params, rounds: int, local_fit,
                  shared=None) -> tuple[np.ndarray, ...]:
    """A13's synchronous round, ``rounds`` times. ``shards`` is the
    collected input with its ``shard`` id column: it is split by shard
    and broadcast once per call, together with ``shared`` (read-only
    data every shard needs). Each round broadcasts ``params`` and runs
    one ``spark.range(n_shards).mapInPandas`` job whose task ``i`` calls
    ``local_fit(rnd, shard, pdf, params, shared)`` on the ``i``-th shard;
    the driver averages the returned arrays weighted by shard size.
    Returns the averaged tuple."""
    sc = spark.sparkContext
    groups = [(int(k), g) for k, g in shards.groupby("shard")]
    b_data = sc.broadcast((groups, shared))
    params = tuple(params)
    for rnd in range(rounds):
        b = sc.broadcast(params)

        def fit(batches):
            data, common = b_data.value
            for ids in batches:
                for i in ids["id"]:
                    shard, pdf = data[i]
                    out = local_fit(rnd, shard, pdf, b.value, common)
                    flat = [p.ravel().tolist() for p in out]
                    yield pd.DataFrame({"kind": range(len(out)), "flat": flat, "n": len(pdf)})

        res = (
            spark.range(len(groups), numPartitions=max(len(groups), 1))
            .mapInPandas(fit, "kind int, flat array<double>, n long")
            .toPandas()
        )
        tot = res.loc[res["kind"] == 0, "n"].sum()
        acc = [np.zeros_like(p) for p in params]
        for kind, flat, n in res.itertuples(index=False):
            acc[kind] += n / tot * np.asarray(flat, dtype="float64").reshape(acc[kind].shape)
        params = tuple(acc)
    return params


def train_distributed(
    spark,
    train_df,
    n_ent: int,
    n_rel: int,
    dim: int = 16,
    rounds: int = 10,
    epochs_per_round: int = 5,
    lr: float = 0.05,
    margin: float = 1.0,
    norm: int = 1,
    n_shards: int = 4,
    seed: int = 42,
    opt_method: str = "sgd",
    loss: str = "margin",
):
    """A13 replacement: synchronous parameter-averaged data-parallel SGD.

    The input is collected once with its shard id ``pmod(hash(h, t, r),
    n_shards)`` and broadcast with the whole train set's known index.
    Per round (:func:`param_average`, one job): each shard runs
    ``epochs_per_round`` local epochs from the broadcast (ent, rel), its
    negatives avoiding every train triple; the driver averages shard
    results weighted by shard size. Deterministic: shards hash the
    triple, local SGD is counter-seeded per (shard, round). The collect
    keeps this a fixture-scale trainer (not on the parity-critical path).

    ``loss``: ``margin`` (:func:`sgd_epochs`, the TransE recipe) or
    ``softplus`` — the bilinear DistMult recipe
    (:func:`sgd_epochs_softplus`, plain SGD only: any other
    ``opt_method`` raises); parameter averaging is loss-agnostic.
    Under softplus the final entity rows are NOT re-normalized: the
    logistic loss learns score magnitudes, and the L2 weight decay is
    the norm control.
    """
    if loss not in ("margin", "softplus"):
        raise ValueError(loss)
    if loss == "softplus" and opt_method != "sgd":
        raise ValueError(f"loss='softplus' trains with plain SGD, not opt_method={opt_method!r}")
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    ent = _xavier(rng, n_ent, dim)
    rel = _normalize_rows(_xavier(rng, n_rel, dim))
    shards = train_df.withColumn(
        "shard", F.pmod(F.hash("h", "t", "r"), F.lit(n_shards))
    ).toPandas()
    h, t, r = (shards[c].to_numpy(np.int64) for c in ("h", "t", "r"))

    def local_fit(rnd, shard, pdf, params, known):
        kw = {"seed": seed * 31 + shard, "epoch_offset": rnd * epochs_per_round, "known": known}
        if loss == "softplus":
            return sgd_epochs_softplus(pdf, *params, epochs_per_round, lr, **kw)
        return sgd_epochs(
            pdf, *params, epochs_per_round, lr, margin, norm=norm, opt_method=opt_method, **kw
        )

    ent, rel = param_average(
        spark, shards, (ent, rel), rounds, local_fit, sorted_index((r << 32) | h, t)
    )
    if loss == "softplus":
        return {"ent": ent.astype("float32"), "rel": rel.astype("float32")}
    return {"ent": _normalize_rows(ent).astype("float32"), "rel": rel.astype("float32")}


def train_incremental(
    snapshots_dir: str,
    dim: int = 16,
    epochs: int = 30,
    lr: float = 0.05,
    margin: float = 1.0,
    norm: int = 1,
    seed: int = 42,
    eval_fn=None,
) -> dict[str, np.ndarray]:
    """A21: numbered snapshot dirs, warm-start + grow, eval per increment.

    ``snapshots_dir/{0,1,...}/`` each hold OpenKE-format files (the
    reference's incremental dataset layout). New entities/relations get
    Xavier rows; existing rows warm-start.
    """
    from .io_openke import read_split

    batches = sorted(d for d in os.listdir(snapshots_dir) if d.isdigit())
    rng = np.random.default_rng(seed)
    ent = rel = None
    history = []
    for b in batches:
        split = read_split(os.path.join(snapshots_dir, b))
        n_ent = len(split["entity2id"])
        n_rel = len(split["relation2id"])
        if ent is None:
            ent = _xavier(rng, n_ent, dim)
            rel = _normalize_rows(_xavier(rng, n_rel, dim))
        else:
            if n_ent > ent.shape[0]:
                ent = np.vstack([ent, _xavier(rng, n_ent - ent.shape[0], dim)])
            if n_rel > rel.shape[0]:
                rel = np.vstack([rel, _normalize_rows(_xavier(rng, n_rel - rel.shape[0], dim))])
        ent, rel = sgd_epochs(split["train2id"], ent, rel, epochs, lr, margin, seed, norm)
        if eval_fn is not None:
            history.append(eval_fn({"ent": ent.astype("float32"), "rel": rel.astype("float32")}, split))
    out = {"ent": _normalize_rows(ent).astype("float32"), "rel": rel.astype("float32")}
    if eval_fn is not None:
        out["history"] = history  # type: ignore[assignment]
    return out


def sgd_epochs_complex(
    triples: pd.DataFrame,
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    rel_re: np.ndarray,
    rel_im: np.ndarray,
    epochs: int,
    lr: float,
    margin: float,
    seed: int,
    batch_size: int = 1024,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """ComplEx margin-ranking epochs (SGD): the four-matrix state
    (entity/relation real+imaginary parts) trains in the same
    :func:`_margin_epochs` loop as :func:`sgd_epochs`; gradients are
    the expansion of ``∂/∂h Re(<h, r, conj(t)>)`` etc. into real
    arithmetic (score negated per ``kernels.complex_score``, so lower
    is better throughout)."""
    return _margin_epochs(
        triples, (ent_re, ent_im, rel_re, rel_im), 2, _complex_score_grads,
        epochs, lr, margin, seed, batch_size=batch_size,
    )


def sgd_epochs_rotate(
    triples: pd.DataFrame,
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    theta: np.ndarray,
    epochs: int,
    lr: float,
    margin: float,
    seed: int,
    batch_size: int = 1024,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """RotatE margin-ranking epochs (SGD, :func:`_margin_epochs`):
    complex entity embeddings plus per-relation rotation ANGLES
    ``theta`` (the trainable parametrization — ``kernels.rotate``
    consumes the derived ``(cos θ, sin θ)`` pair, which stays
    unit-modulus by construction no matter what SGD does to θ; training
    cos/sin directly would drift off the unit circle). Score =
    Σ_k |h_k·e^{iθ_k} − t_k|; gradients from :func:`_rotate_score_grads`."""
    return _margin_epochs(
        triples, (ent_re, ent_im, theta), 2, _rotate_score_grads,
        epochs, lr, margin, seed, batch_size=batch_size,
    )


def _sigmoid(x: np.ndarray) -> np.ndarray:
    """Numerically stable logistic: never exponentiates a large positive."""
    out = np.empty_like(x, dtype=np.float64)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    ex = np.exp(x[~pos])
    out[~pos] = ex / (1.0 + ex)
    return out


def softplus_loss_distmult(
    ent: np.ndarray,
    rel: np.ndarray,
    h: np.ndarray,
    t: np.ndarray,
    r: np.ndarray,
    nh: np.ndarray,
    nt: np.ndarray,
) -> float:
    """Mean softplus(-y·f) over the (positive, negative) pairs, with
    f = Σ_k h_k r_k t_k the RAW positive-is-high DistMult score (note
    ``kernels.distmult`` returns the NEGATED score so lower-is-better
    matches the distance kernels; the loss works on the raw sign)."""
    f_pos = (ent[h] * rel[r] * ent[t]).sum(1)
    f_neg = (ent[nh] * rel[r] * ent[nt]).sum(1)
    return float((np.logaddexp(0.0, -f_pos) + np.logaddexp(0.0, f_neg)).mean() / 2)


def sgd_epochs_softplus(
    triples: pd.DataFrame,
    ent: np.ndarray,
    rel: np.ndarray,
    epochs: int,
    lr: float,
    seed: int,
    reg: float = 1e-3,
    batch_size: int = 1024,
    epoch_offset: int = 0,
    known: tuple | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """DistMult softplus-loss epochs (the reference family's recipe for
    bilinear scorers — OpenKE ``SoftplusLoss`` + L2 regularization,
    recalled, SURVEY.md §0): margin ranking suits bounded distance
    kernels, but a bilinear score is unbounded both ways, so the
    logistic loss ``softplus(-y·f)`` with per-occurrence L2 weight decay
    is what keeps DistMult/ComplEx from margin-chasing blowup.

    Same :func:`_batches` schedule and in-place-free sparse-SGD step
    (:class:`_OptState`) as :func:`sgd_epochs`; gradients are
    ``-σ(-f_pos)`` / ``σ(f_neg)`` times the bilinear partials
    (:func:`_distmult_score_grads`) plus
    ``2·reg·param`` on every touched row (``known``: :func:`sgd_epochs`).
    Returns updated ``(ent, rel)``.
    """
    P = (ent.copy(), rel.copy())
    sgd = _OptState(ent.shape, "sgd")
    for batches in _batches(triples, ent.shape[0], seed, epochs, epoch_offset, batch_size,
                            known=known):
        for h, t, r, [(nh, nt)] in batches:
            # DistMult partials of s = −f; dL/ds is σ(s) for y=+1, −σ(−s) for y=−1
            sp, dh, dt, dr = _distmult_score_grads(P, h, t, r)
            sn, dnh, dnt, dnr = _distmult_score_grads(P, nh, nt, r)
            cp, cn = _sigmoid(sp)[:, None], -_sigmoid(-sn)[:, None]
            rows = np.concatenate([h, t, nh, nt])
            g_ent = np.concatenate([cp * dh[0], cp * dt[0], cn * dnh[0], cn * dnt[0]])
            g_rel = cp * dr[0] + cn * dnr[0] + 2 * reg * P[1][r]
            sgd.apply(P[0], rows, g_ent + 2 * reg * P[0][rows], lr)
            sgd.apply(P[1], r, g_rel, lr)
    return P


def _selfadv_weights(d_neg: np.ndarray, gamma: float, alpha: float) -> np.ndarray:
    """Self-adversarial weights ``p = softmax_k(α · (γ − d_neg))`` over ``[n, K]``."""
    logits = alpha * (gamma - d_neg)
    logits -= logits.max(axis=1, keepdims=True)
    p = np.exp(logits)
    return p / p.sum(axis=1, keepdims=True)


def selfadv_loss_rotate(
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    theta: np.ndarray,
    h: np.ndarray,
    t: np.ndarray,
    r: np.ndarray,
    nh: np.ndarray,
    nt: np.ndarray,
    gamma: float = 6.0,
    alpha: float = 1.0,
) -> float:
    """RotatE's self-adversarial loss (Sun et al. 2019, eq. 5) on a
    FIXED negative set: ``nh``/``nt`` are ``[n, K]`` corruption arrays.
    ``L = −log σ(γ − d(pos)) − Σ_k p_k · log σ(d(neg_k) − γ)`` with
    ``p = softmax_k(α · (γ − d(neg)))`` — harder (lower-distance)
    negatives carry more weight, which is the entire point: uniform
    corruption mostly draws trivially-false triples whose gradient
    vanishes once training starts."""
    C, S = np.cos(theta[r]), np.sin(theta[r])

    def dist(hh, tt, c, s):
        z_re, z_im = _rotate_residual(ent_re[hh], ent_im[hh], c, s, ent_re[tt], ent_im[tt])
        return np.sqrt(z_re * z_re + z_im * z_im).sum(-1)

    d_pos = dist(h, t, C, S)
    d_neg = dist(nh, nt, C[:, None], S[:, None])  # [n, K]
    p = _selfadv_weights(d_neg, gamma, alpha)
    # -log σ(x) = softplus(-x) = logaddexp(0, -x)
    pos_term = np.logaddexp(0.0, -(gamma - d_pos))
    neg_term = (p * np.logaddexp(0.0, -(d_neg - gamma))).sum(axis=1)
    return float((pos_term + neg_term).mean())


def sgd_epochs_selfadv(
    triples: pd.DataFrame,
    ent_re: np.ndarray,
    ent_im: np.ndarray,
    theta: np.ndarray,
    epochs: int,
    lr: float,
    seed: int,
    gamma: float = 6.0,
    alpha: float = 1.0,
    n_neg: int = 4,
    batch_size: int = 1024,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """RotatE epochs under self-adversarial negative sampling (Sun et
    al. 2019): K corruptions per positive, each weighted by the
    DETACHED softmax of its own plausibility — the negative-sampling
    refinement the margin trainer (:func:`sgd_epochs_rotate`) lacks,
    and the recipe the RotatE paper actually ships.

    Batches and the K corruptions per batch come from :func:`_batches`
    with ``n_neg = K`` (the k-th at counter key ``ep * K + k``); the
    distances and their chain rule from :func:`_rotate_score_grads`;
    updates are one sparse-SGD step (:class:`_OptState`) per matrix.
    Gradient coefficients: ``σ(d_pos − γ)`` on the positive distance,
    ``−p_k · σ(γ − d_neg_k)`` on each negative (p treated as a
    constant, per the paper). The rotation stays parametrized by θ so
    unit modulus holds by construction.
    """
    P = (ent_re.copy(), ent_im.copy(), theta.copy())
    sgd = _OptState(ent_re.shape, "sgd")
    for batches in _batches(triples, ent_re.shape[0], seed, epochs, 0, batch_size, n_neg=n_neg):
        for h, t, r, negs in batches:
            pos = _rotate_score_grads(P, h, t, r)
            neg = [_rotate_score_grads(P, nh, nt, r) for nh, nt in negs]
            d_neg = np.stack([g[0] for g in neg], axis=1)
            gn = _selfadv_weights(d_neg, gamma, alpha) * _sigmoid(gamma - d_neg)
            # dL/dd per term: σ(d_pos − γ) for the positive, −gn[:, k] for negative k
            coefs = [_sigmoid(pos[0] - gamma)[:, None]] + [-gn[:, [k]] for k in range(n_neg)]
            terms = list(zip(coefs, [pos, *neg]))
            rows = np.concatenate([h, t, *(x for pair in negs for x in pair)])
            for i in (0, 1):
                g = [c * d[i] for c, (_, dh, dt, _) in terms for d in (dh, dt)]
                sgd.apply(P[i], rows, np.concatenate(g), lr)
            g_th = coefs[0] * pos[3][0]
            for c, (*_, dth) in terms[1:]:
                g_th += c * dth[0]
            sgd.apply(P[2], r, g_th, lr)
    return P
