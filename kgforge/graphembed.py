"""DeepWalk stage 3 — skip-gram-negative-sampling (SGNS) graph
embeddings trained from the walk-corpus pair counts, completing the
walks → skip-gram pairs → embeddings pipeline (graphstats.random_walks
/ node2vec_walks → graphstats.walk_skipgram_pairs → here). The result
is unsupervised structural entity embeddings over the constructed KG —
the non-triple-supervised counterpart to the A7-A12 kernel family.

Distribution runs through A13's round, ``training.param_average`` (the
one ``training.train_distributed`` uses): the pair table is collected
once and broadcast in hash shards; per round, one Spark job runs each
shard's local NumPy epochs from the broadcast parameters, and the driver
averages shard results weighted by shard size. Pair rows (center,
context, n_pairs) carry their co-occurrence count as a loss weight, so
the aggregated pair table trains identically to streaming the raw corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _sigmoid(x: np.ndarray) -> np.ndarray:
    # clip: a diverging dot product must saturate the gradient, not
    # overflow exp and poison the matrices with inf/nan
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30.0, 30.0)))


def sgns_epochs(
    pairs: pd.DataFrame,
    u_in: np.ndarray,
    v_out: np.ndarray,
    epochs: int,
    lr: float,
    neg: int,
    seed: int,
    batch_size: int = 1024,
) -> tuple[np.ndarray, np.ndarray]:
    """Local SGNS epochs over ``(center, context, n_pairs)`` rows.

    Word2vec's objective with the co-occurrence count as a per-pair
    weight: maximize ``log σ(u_c·v_x)`` for observed pairs and
    ``log σ(−u_c·v_n)`` for ``neg`` uniformly drawn negatives per pair.
    Vectorized per batch (gather → sigmoid → scatter via ``np.*.at``,
    duplicate rows accumulate). Negatives continue the stream of the
    epoch's ``default_rng(seed * 7919 + ep)`` permutation generator, so
    a (shard, round) seed makes every shard's work deterministic; that
    shared stream is why this loop is its own and not
    ``training._batches``, whose corruptions are counter-keyed.
    """
    u_in, v_out = u_in.copy(), v_out.copy()
    c_all = pairs["center"].to_numpy(np.int64)
    x_all = pairs["context"].to_numpy(np.int64)
    # log-dampened count weight (GloVe-style): a raw count multiplies
    # the effective step size and diverges on frequent pairs
    w_all = np.log1p(pairs["n_pairs"].to_numpy(np.float64))
    n_nodes = u_in.shape[0]
    n = len(c_all)
    for ep in range(epochs):
        rng = np.random.default_rng(seed * 7919 + ep)
        order = rng.permutation(n)
        for lo in range(0, n, batch_size):
            idx = order[lo:lo + batch_size]
            c, x, w = c_all[idx], x_all[idx], w_all[idx]
            u, v = u_in[c], v_out[x]
            g = (_sigmoid((u * v).sum(1)) - 1.0) * w * lr
            gu = g[:, None] * v
            np.subtract.at(v_out, x, g[:, None] * u)
            for _ in range(neg):
                xn = rng.integers(0, n_nodes, len(idx))
                vn = v_out[xn]
                gn = _sigmoid((u * vn).sum(1)) * w * lr
                gu += gn[:, None] * vn
                np.subtract.at(v_out, xn, gn[:, None] * u)
            np.subtract.at(u_in, c, gu)
    return u_in, v_out


def train_deepwalk(
    spark,
    pairs_df,
    n_nodes: int,
    dim: int = 16,
    rounds: int = 4,
    epochs_per_round: int = 4,
    lr: float = 0.05,
    neg: int = 3,
    n_shards: int = 4,
    seed: int = 42,
) -> dict[str, np.ndarray]:
    """Parameter-averaged distributed SGNS over a skip-gram pair table
    (``training.param_average``; see module docstring). Returns
    ``{"in": U, "out": V}`` float32 — ``in`` is the embedding consumers
    use. Shard assignment hashes the pair, local work is counter-seeded
    per (shard, round): deterministic for a fixed shard count, and the
    pair table (not the walk corpus) is what the driver collects and
    broadcasts: 1 + ``rounds`` Spark jobs."""
    from pyspark.sql import functions as F

    from .training import _xavier, param_average

    rng = np.random.default_rng(seed)
    u_in = _xavier(rng, n_nodes, dim).astype("float64")
    v_out = _xavier(rng, n_nodes, dim).astype("float64")
    shards = pairs_df.withColumn(
        "shard", F.pmod(F.hash("center", "context"), F.lit(n_shards))
    ).toPandas()

    def local_fit(rnd, shard, pdf, params, _):
        return sgns_epochs(
            pdf, *params, epochs_per_round, lr, neg, seed=seed * 31 + shard + 1_000_003 * rnd
        )

    u_in, v_out = param_average(spark, shards, (u_in, v_out), rounds, local_fit)
    return {"in": u_in.astype("float32"), "out": v_out.astype("float32")}


def embedding_quality(
    emb: np.ndarray, pairs: pd.DataFrame, n_nodes: int, seed: int = 7
) -> tuple[float, float]:
    """(mean cosine over observed pairs, mean cosine over an equally
    sized uniform-random pair sample) — the separation gate a trained
    structural embedding must pass."""
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    e = emb / np.maximum(norms, 1e-12)
    c = pairs["center"].to_numpy(np.int64)
    x = pairs["context"].to_numpy(np.int64)
    pos = float((e[c] * e[x]).sum(1).mean())
    rng = np.random.default_rng(seed)
    ra = rng.integers(0, n_nodes, len(c))
    rb = rng.integers(0, n_nodes, len(c))
    rand = float((e[ra] * e[rb]).sum(1).mean())
    return pos, rand


def frequency_ordering_gate(
    emb: np.ndarray, pairs: pd.DataFrame
) -> tuple[float, float]:
    """(mean cosine of top-quartile-count pairs, mean cosine of
    bottom-quartile-count pairs). SGNS pushes frequently co-walked
    pairs together harder, so a trained embedding must order by
    co-occurrence count — a gate that stays informative on DENSE
    graphs, where :func:`embedding_quality`'s observed-vs-random
    contrast degenerates (observed ≈ all pairs on a near-complete
    graph)."""
    norms = np.linalg.norm(emb, axis=1, keepdims=True)
    e = emb / np.maximum(norms, 1e-12)
    c = pairs["center"].to_numpy(np.int64)
    x = pairs["context"].to_numpy(np.int64)
    w = pairs["n_pairs"].to_numpy(np.float64)
    cos = (e[c] * e[x]).sum(1)
    hi = float(cos[w >= np.quantile(w, 0.75)].mean())
    lo = float(cos[w <= np.quantile(w, 0.25)].mean())
    return hi, lo
