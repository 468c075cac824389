"""A7–A10 — scoring kernels as vectorized NumPy: the four
translational-distance models plus the bilinear family (DistMult,
ComplEx), all under ONE ranking convention (lower = more plausible).

Score = distance: lower is better (a plausible triple has h + r ≈ t).
Semantics follow the reference models (OpenKEonSpark/OpenKE
``TransE.py/TransH.py/TransR.py/TransD.py::_calc``, recalled symbols —
SURVEY.md §0):

* TransE (Bordes 2013): ``f = ‖h + r − t‖_{1|2}``
* TransH (Wang 2014): project onto the relation hyperplane first,
  ``e⊥ = e − (wᵀe)w`` with unit normal ``w``.
* TransR (Lin 2015): map to relation space, ``e_r = M_r e``.
* TransD (Ji 2015): dynamic rank-1 map, ``e⊥ = e + (e_pᵀe) r_p``
  (the ``M = r_p e_pᵀ + I`` trick — never materializes the matrix).

All functions take ``[..., d]`` arrays whose leading dimensions
broadcast against each other and return the broadcast ``[...]`` scores:
flat ``[B, d]`` rows give ``[B]``, and ``[B, 1, d]`` against
``[1, N, d]`` gives a ``[B, N]`` block that is bit-identical to the
flat call on the repeated rows. These run inside Arrow-batched pandas
UDFs with embedding matrices broadcast once per executor — never a
per-row Python loop.
"""

from __future__ import annotations

import numpy as np

NORMS = (1, 2)


def _dist(x: np.ndarray, norm: int) -> np.ndarray:
    if norm == 1:
        return np.abs(x).sum(axis=-1)
    return np.sqrt((x * x).sum(axis=-1))


def transe(h: np.ndarray, r: np.ndarray, t: np.ndarray, norm: int = 1) -> np.ndarray:
    return _dist(h + r - t, norm)


def _hyperplane(e: np.ndarray, w: np.ndarray) -> np.ndarray:
    # e - (w·e) w ; w assumed unit-norm per relation
    return e - (e * w).sum(axis=-1, keepdims=True) * w


def transh(h: np.ndarray, r: np.ndarray, t: np.ndarray, w: np.ndarray, norm: int = 1) -> np.ndarray:
    """``w``: [..., d] per-row relation normal vectors (unit norm)."""
    return _dist(_hyperplane(h, w) + r - _hyperplane(t, w), norm)


def transr(h: np.ndarray, r: np.ndarray, t: np.ndarray, m: np.ndarray, norm: int = 1) -> np.ndarray:
    """``m``: [..., d_r, d_e] per-row transfer matrices."""
    h_r = np.einsum("...ij,...j->...i", m, h)
    t_r = np.einsum("...ij,...j->...i", m, t)
    return _dist(h_r + r - t_r, norm)


def transd(
    h: np.ndarray, r: np.ndarray, t: np.ndarray,
    h_p: np.ndarray, t_p: np.ndarray, r_p: np.ndarray,
    norm: int = 1,
) -> np.ndarray:
    """Rank-1 dynamic projection; ``*_p`` are [..., d] projection vectors."""
    h_proj = h + (h_p * h).sum(axis=-1, keepdims=True) * r_p
    t_proj = t + (t_p * t).sum(axis=-1, keepdims=True) * r_p
    return _dist(h_proj + r - t_proj, norm)


def distmult(h: np.ndarray, r: np.ndarray, t: np.ndarray) -> np.ndarray:
    """DistMult (Yang 2015): bilinear-diagonal similarity
    ``<h, r, t> = Σ_k h_k r_k t_k``. Returned NEGATED so the engine's
    single ranking convention (lower score = more plausible, strict-<
    rank counting, same as the translational distances) applies
    unchanged across kernel families."""
    return -(h * r * t).sum(axis=-1)


def complex_score(
    h_re: np.ndarray, h_im: np.ndarray,
    r_re: np.ndarray, r_im: np.ndarray,
    t_re: np.ndarray, t_im: np.ndarray,
) -> np.ndarray:
    """ComplEx (Trouillon 2016): ``Re(<h, r, conj(t)>)`` over complex
    embeddings — the asymmetric extension of DistMult (it can score
    (h,r,t) != (t,r,h), which a real diagonal bilinear form cannot).
    Expanded to real arithmetic:
    ``Σ_k (h_re r_re − h_im r_im) t_re + (h_re r_im + h_im r_re) t_im``.
    Negated for the shared lower-is-better ranking convention."""
    return -(
        (h_re * r_re - h_im * r_im) * t_re
        + (h_re * r_im + h_im * r_re) * t_im
    ).sum(axis=-1)


def rotate(
    h_re: np.ndarray, h_im: np.ndarray,
    r_re: np.ndarray, r_im: np.ndarray,
    t_re: np.ndarray, t_im: np.ndarray,
) -> np.ndarray:
    """RotatE (Sun 2019): relations are element-wise rotations in the
    complex plane (``r_k = e^{iθ_k}``, unit modulus — here carried as
    the precomputed (cos θ, sin θ) pair so no engine computes trig);
    ``score = Σ_k |h_k r_k − t_k|`` (complex modulus per dimension) —
    already a distance, no negation needed. Models composition
    (r3 = r1∘r2), inversion, and symmetry (θ ∈ {0, π}) — the patterns
    the translational family can't hold simultaneously."""
    d_re = h_re * r_re - h_im * r_im - t_re
    d_im = h_re * r_im + h_im * r_re - t_im
    return np.sqrt(d_re * d_re + d_im * d_im).sum(axis=-1)


def rescal(h: np.ndarray, m: np.ndarray, t: np.ndarray) -> np.ndarray:
    """RESCAL (Nickel 2011): the full bilinear form ``h^T M_r t`` with a
    dense d×d matrix per relation — the most expressive (and most
    parameter-hungry) of the bilinear family; DistMult is its diagonal
    special case. Reuses the per-relation matrix tensor the TransR
    kernel already carries. Negated for the shared lower-is-better
    ranking convention."""
    return -np.einsum("...i,...ij,...j->...", h, m, t)


def simple_score(
    h_head: np.ndarray, h_tail: np.ndarray,
    r: np.ndarray, r_inv: np.ndarray,
    t_head: np.ndarray, t_tail: np.ndarray,
) -> np.ndarray:
    """SimplE (Kazemi & Poole 2018): every entity carries a head-role
    and a tail-role vector, every relation a forward and an inverse
    vector; ``score = ½(⟨he_h, v_r, te_t⟩ + ⟨he_t, v_r', te_h⟩)`` —
    the two halves tie the roles together so the model stays fully
    expressive while each embedding remains interpretable (CP
    decomposition made consistent). Negated for the shared
    lower-is-better ranking convention."""
    return -0.5 * (
        (h_head * r * t_tail).sum(axis=-1)
        + (t_head * r_inv * h_tail).sum(axis=-1)
    )


def analogy(
    h_sc: np.ndarray, r_sc: np.ndarray, t_sc: np.ndarray,
    h_re: np.ndarray, h_im: np.ndarray,
    r_re: np.ndarray, r_im: np.ndarray,
    t_re: np.ndarray, t_im: np.ndarray,
) -> np.ndarray:
    """Analogy (Liu, Wen & Yuille 2017): bilinear form with a
    block-diagonal *normal* relation matrix — equivalently (and as the
    reference family implements it) the SUM of a DistMult score over a
    scalar embedding block and a ComplEx score over a complex block.
    The normality constraint is what lets the model provably recover
    analogical structure (a:b :: c:d); parameter-wise it is exactly
    DistMult ⊕ ComplEx, so both sub-kernels are reused verbatim.
    Negated (by the sub-kernels) for the shared lower-is-better
    ranking convention."""
    return distmult(h_sc, r_sc, t_sc) + complex_score(
        h_re, h_im, r_re, r_im, t_re, t_im
    )


def hole(h: np.ndarray, r: np.ndarray, t: np.ndarray) -> np.ndarray:
    """HolE (Nickel, Rosasco & Poggio 2016): holographic embeddings —
    ``score = r · (h ⋆ t)`` with ``⋆`` the circular correlation
    ``(h ⋆ t)_k = Σ_i h_i · t_{(i+k) mod d}``: a compositional pairwise
    interaction at vector-sized memory (the d²-parameter RESCAL
    interaction compressed to d). Computed as a direct index-gather
    einsum (``Σ_{i,k} r_k h_i t_{(i+k) mod d}``) rather than the FFT
    form — same O(d²) per-row cost class as the TransR/RESCAL matmuls
    the engine already accepts at d=16..200, and the plain sum keeps
    the float accumulation in the same family as the relational oracle
    (the shared round-at-6/9 contract absorbs ordering ulp, as for
    every other kernel). Negated for the shared lower-is-better
    ranking convention. Mathematically HolE is isomorphic to ComplEx
    (Hayashi & Shimbo 2017); it is carried as its own kernel because
    checkpoints and the reference family treat it as one."""
    d = h.shape[-1]
    idx = (np.arange(d)[:, None] + np.arange(d)[None, :]) % d  # idx[i, k]
    tg = t[..., idx]  # [..., d(i), d(k)]
    # order="C": the gather's result is not C-laid-out, and under the
    # default order="K" einsum would then sum a broadcast block in a
    # different order than the flat rows (last-ulp differences)
    return -np.einsum("...i,...ik,...k->...", h, tg, r, order="C")


#: The ``emb`` components :func:`score_batch` reads, per model.
SCORE_COMPONENTS = {
    "transe": ("ent", "rel"),
    "distmult": ("ent", "rel"),
    "hole": ("ent", "rel"),
    "complex": ("ent", "ent_im", "rel", "rel_im"),
    "rescal": ("ent", "rel", "mat"),
    "rotate": ("ent", "ent_im", "rot_re", "rot_im"),
    "analogy": ("ent", "ent_im", "ent_sc", "rel", "rel_im", "rel_sc"),
    "simple": ("ent", "ent_tail", "rel", "rel_inv"),
    "transh": ("ent", "rel", "norm"),
    "transr": ("ent", "rel", "mat"),
    "transd": ("ent", "ent_p", "rel", "rel_p"),
}


def score_batch(
    model: str,
    emb: dict[str, np.ndarray],
    h_ids: np.ndarray,
    r_ids: np.ndarray,
    t_ids: np.ndarray,
    norm: int = 1,
) -> np.ndarray:
    """Gather rows from broadcast embedding tables and score.

    ``emb`` keys: ent, rel (+ norm for TransH, mat for TransR,
    ent_p/rel_p for TransD) — the frozen-parameter layout of
    fixtures.gen_embeddings / the OpenKE checkpoint import.
    """
    # float64 throughout: rank semantics use strict < on scores, and the
    # SQL/NumPy oracles compute in double — upcasting removes f32 near-tie
    # rank flips (outputs follow input dtype otherwise).
    h = emb["ent"][h_ids].astype(np.float64)
    t = emb["ent"][t_ids].astype(np.float64)
    if model == "rotate":
        # rotate's relation state is the (cos θ, sin θ) pair — no "rel"
        # table required (a θ-trained checkpoint carries only those)
        return rotate(
            h, emb["ent_im"][h_ids].astype(np.float64),
            emb["rot_re"][r_ids].astype(np.float64),
            emb["rot_im"][r_ids].astype(np.float64),
            t, emb["ent_im"][t_ids].astype(np.float64),
        )
    r = emb["rel"][r_ids].astype(np.float64)
    if model == "transe":
        return transe(h, r, t, norm)
    if model == "distmult":
        return distmult(h, r, t)
    if model == "complex":
        return complex_score(
            h, emb["ent_im"][h_ids].astype(np.float64),
            r, emb["rel_im"][r_ids].astype(np.float64),
            t, emb["ent_im"][t_ids].astype(np.float64),
        )
    if model == "rescal":
        return rescal(h, emb["mat"][r_ids].astype(np.float64), t)
    if model == "hole":
        # circular correlation over the same real ent/rel tables as
        # DistMult — no extra parameter state
        return hole(h, r, t)
    if model == "analogy":
        # scalar (DistMult) block = ent_sc/rel_sc; complex block reuses
        # the ComplEx tables (ent/rel real parts + ent_im/rel_im)
        return analogy(
            emb["ent_sc"][h_ids].astype(np.float64),
            emb["rel_sc"][r_ids].astype(np.float64),
            emb["ent_sc"][t_ids].astype(np.float64),
            h, emb["ent_im"][h_ids].astype(np.float64),
            r, emb["rel_im"][r_ids].astype(np.float64),
            t, emb["ent_im"][t_ids].astype(np.float64),
        )
    if model == "simple":
        return simple_score(
            h, emb["ent_tail"][h_ids].astype(np.float64),
            r, emb["rel_inv"][r_ids].astype(np.float64),
            t, emb["ent_tail"][t_ids].astype(np.float64),
        )
    if model == "transh":
        return transh(h, r, t, emb["norm"][r_ids].astype(np.float64), norm)
    if model == "transr":
        return transr(h, r, t, emb["mat"][r_ids].astype(np.float64), norm)
    if model == "transd":
        return transd(
            h, r, t,
            emb["ent_p"][h_ids].astype(np.float64),
            emb["ent_p"][t_ids].astype(np.float64),
            emb["rel_p"][r_ids].astype(np.float64),
            norm,
        )
    raise ValueError(f"unknown model {model!r}")

