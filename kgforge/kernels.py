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

All functions take component-major ``[d, ...]`` arrays (the component
axis first; TransR's and RESCAL's matrices are ``[d_r, d_e, ...]``)
whose trailing dimensions broadcast against each other, and return the
broadcast ``[...]`` scores: flat ``[d, B]`` rows give ``[B]``, and
``[d, B, 1]`` against ``[d, 1, N]`` gives a ``[B, N]`` block that is
bit-identical to the flat call on the repeated rows. Component-major
means every elementwise op loops over the long ``[...]`` axis, not over
``d`` components per row, and every reduction over components goes
through :func:`_sum0`, which adds the ``d`` planes in NumPy's pairwise
order: each score equals the row-major reduction over the last axis
bit for bit. Kernels work in place on their own temporaries, never on
an array the caller passed in. These run inside Arrow-batched pandas
UDFs with embedding matrices broadcast once per executor — never a
per-row Python loop.
"""

from __future__ import annotations

import numpy as np

NORMS = (1, 2)


def _pairwise(x: np.ndarray) -> np.ndarray:
    """NumPy's ``pairwise_sum`` over axis 0 of ``x`` (``len(x) >= 8``),
    one plane op at a time: 8 accumulators at stride 8, the tree
    ``((0+1)+(2+3))+((4+5)+(6+7))``, then the remainder in sequence;
    above 128 planes, split at ``n//2 - (n//2) % 8`` and recurse.
    Returns a view into ``x``, which it overwrites."""
    n = len(x)
    if n > 128:
        half = n // 2 - n // 2 % 8
        out = _pairwise(x[:half])
        out += _pairwise(x[half:])
        return out
    acc = x[:8]
    tail = n - n % 8
    for i in range(8, tail, 8):
        acc += x[i:i + 8]
    acc[0::2] += acc[1::2]
    acc[0::4] += acc[2::4]
    out = acc[0]
    out += acc[4]
    for p in x[tail:]:
        out += p
    return out


def _sum0(x: np.ndarray) -> np.ndarray:
    """``x.sum(axis=0)`` as ``d`` plane ops over the long axis,
    bit-identical to NumPy's sum over the last axis of the C-contiguous
    rows, ``np.ascontiguousarray(np.moveaxis(x, 0, -1)).sum(-1)`` — the
    row-major reduction the scores were defined by. ``x`` is a kernel
    temporary: it is overwritten. NumPy's add reduction starts from its
    identity, so the result is ``0 + pairwise_sum`` (below 8 terms the
    pairwise sum is itself sequential from 0); the ``+ 0`` also turns a
    ``-0.0`` sum into ``+0.0`` and makes the result a fresh array rather
    than a view into ``x``."""
    zero = x.dtype.type(0)
    if len(x) < 8:
        out = x[0] + zero
        for p in x[1:]:
            out += p
        return out
    return _pairwise(x) + zero


def _op(ufunc: np.ufunc, a: np.ndarray, b: np.ndarray, *own: np.ndarray) -> np.ndarray:
    """``ufunc(a, b)``, written into the first of ``own`` — the kernel's
    own temporaries among ``a`` and ``b``, never a caller's array — that
    already has the result's shape and dtype; a fresh array otherwise."""
    shape = np.broadcast(a, b).shape
    dtype = np.result_type(a, b)
    for x in own:
        if x.shape == shape and x.dtype == dtype:
            return ufunc(a, b, out=x)
    return ufunc(a, b)


def _rows(x: np.ndarray, k: int = 1) -> np.ndarray:
    """A C-contiguous row-major copy of component-major ``x``: its ``k``
    leading component axes moved last. einsum's summation order follows
    its operands' strides, so the einsum kernels contract row-major
    operands, laid out as the scores were defined by."""
    return np.ascontiguousarray(np.moveaxis(x, tuple(range(k)), tuple(range(-k, 0))))


def _dist(x: np.ndarray, norm: int) -> np.ndarray:
    """L1 or L2 norm over the components of ``x``, a ``[d, ...]`` kernel
    temporary (overwritten)."""
    if norm == 1:
        return _sum0(np.abs(x, out=x))
    s = _sum0(np.multiply(x, x, out=x))
    return np.sqrt(s, out=s)


def transe(h: np.ndarray, r: np.ndarray, t: np.ndarray, norm: int = 1) -> np.ndarray:
    x = h + r
    return _dist(_op(np.subtract, x, t, x), norm)


def _hyperplane(e: np.ndarray, w: np.ndarray) -> np.ndarray:
    # e - (w·e) w ; w assumed unit-norm per relation
    p = _sum0(e * w) * w
    return _op(np.subtract, e, p, p)


def transh(h: np.ndarray, r: np.ndarray, t: np.ndarray, w: np.ndarray, norm: int = 1) -> np.ndarray:
    """``w``: [d, ...] per-row relation normal vectors (unit norm)."""
    x = _hyperplane(h, w)
    x = _op(np.add, x, r, x)
    t_w = _hyperplane(t, w)
    return _dist(_op(np.subtract, x, t_w, x, t_w), norm)


def transr(h: np.ndarray, r: np.ndarray, t: np.ndarray, m: np.ndarray, norm: int = 1) -> np.ndarray:
    """``m``: [d_r, d_e, ...] per-row transfer matrices."""
    m = _rows(m, 2)
    h_r = np.moveaxis(np.einsum("...ij,...j->...i", m, _rows(h)), -1, 0)
    t_r = np.moveaxis(np.einsum("...ij,...j->...i", m, _rows(t)), -1, 0)
    x = _op(np.add, h_r, r, h_r)
    return _dist(_op(np.subtract, x, t_r, x, t_r), norm)


def transd(
    h: np.ndarray, r: np.ndarray, t: np.ndarray,
    h_p: np.ndarray, t_p: np.ndarray, r_p: np.ndarray,
    norm: int = 1,
) -> np.ndarray:
    """Rank-1 dynamic projection; ``*_p`` are [d, ...] projection vectors."""
    h_proj = _sum0(h_p * h) * r_p
    h_proj = _op(np.add, h, h_proj, h_proj)
    t_proj = _sum0(t_p * t) * r_p
    t_proj = _op(np.add, t, t_proj, t_proj)
    x = _op(np.add, h_proj, r, h_proj)
    return _dist(_op(np.subtract, x, t_proj, x, t_proj), norm)


def distmult(h: np.ndarray, r: np.ndarray, t: np.ndarray) -> np.ndarray:
    """DistMult (Yang 2015): bilinear-diagonal similarity
    ``<h, r, t> = Σ_k h_k r_k t_k``. Returned NEGATED so the engine's
    single ranking convention (lower score = more plausible, strict-<
    rank counting, same as the translational distances) applies
    unchanged across kernel families."""
    x = h * r
    s = _sum0(_op(np.multiply, x, t, x))
    return np.negative(s, out=s)


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
    re = h_re * r_re
    re = _op(np.subtract, re, h_im * r_im, re)
    re = _op(np.multiply, re, t_re, re)
    im = h_re * r_im
    im = _op(np.add, im, h_im * r_re, im)
    im = _op(np.multiply, im, t_im, im)
    s = _sum0(_op(np.add, re, im, re, im))
    return np.negative(s, out=s)


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
    d_re = h_re * r_re
    d_re = _op(np.subtract, d_re, h_im * r_im, d_re)
    d_re = _op(np.subtract, d_re, t_re, d_re)
    d_im = h_re * r_im
    d_im = _op(np.add, d_im, h_im * r_re, d_im)
    d_im = _op(np.subtract, d_im, t_im, d_im)
    np.multiply(d_re, d_re, out=d_re)
    np.multiply(d_im, d_im, out=d_im)
    x = _op(np.add, d_re, d_im, d_re, d_im)
    return _sum0(np.sqrt(x, out=x))


def rescal(h: np.ndarray, m: np.ndarray, t: np.ndarray) -> np.ndarray:
    """RESCAL (Nickel 2011): the full bilinear form ``h^T M_r t`` with a
    dense d×d matrix per relation — the most expressive (and most
    parameter-hungry) of the bilinear family; DistMult is its diagonal
    special case. Reuses the per-relation matrix tensor the TransR
    kernel already carries. Negated for the shared lower-is-better
    ranking convention."""
    return -np.einsum("...i,...ij,...j->...", _rows(h), _rows(m, 2), _rows(t))


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
    fwd = h_head * r
    fwd = _sum0(_op(np.multiply, fwd, t_tail, fwd))
    inv = t_head * r_inv
    inv = _sum0(_op(np.multiply, inv, h_tail, inv))
    s = _op(np.add, fwd, inv, fwd, inv)
    s *= -0.5
    return s


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
    dm = distmult(h_sc, r_sc, t_sc)
    cx = complex_score(h_re, h_im, r_re, r_im, t_re, t_im)
    return _op(np.add, dm, cx, dm, cx)


def hole(h: np.ndarray, r: np.ndarray, t: np.ndarray) -> np.ndarray:
    """HolE (Nickel, Rosasco & Poggio 2016): holographic embeddings —
    ``score = r · (h ⋆ t)`` with ``⋆`` the circular correlation
    ``(h ⋆ t)_k = Σ_i h_i · t_{(i+k) mod d}``: a compositional pairwise
    interaction at vector-sized memory (the d²-parameter RESCAL
    interaction compressed to d). Computed as a direct index-gather
    einsum (``Σ_{i,k} r_k h_i t_{(i+k) mod d}``) over row-major operands
    rather than the FFT form — same O(d²) per-row cost class as the
    TransR/RESCAL matmuls the engine already accepts at d=16..200, and
    the plain sum keeps the float accumulation in the same family as
    the relational oracle (the shared round-at-6/9 contract absorbs
    ordering ulp, as for every other kernel). Negated for the shared
    lower-is-better ranking convention. Mathematically HolE is
    isomorphic to ComplEx (Hayashi & Shimbo 2017); it is carried as its
    own kernel because checkpoints and the reference family treat it
    as one."""
    d = h.shape[0]
    idx = (np.arange(d)[:, None] + np.arange(d)[None, :]) % d  # idx[i, k]
    tg = _rows(t)[..., idx]  # [..., d(i), d(k)]
    # order="C": the gather's result is not C-laid-out, and under the
    # default order="K" einsum would then sum a broadcast block in a
    # different order than the flat rows (last-ulp differences)
    return -np.einsum("...i,...ik,...k->...", _rows(h), tg, _rows(r), order="C")


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


#: rows per transposing copy in :func:`_gather`: the gathered block it
#: reads stays cache-resident across the ``d`` component passes
_GATHER_ROWS = 1024


def _gather(tab: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Rows ``ids`` of ``tab`` as a component-major float64 array
    ``[*tab.shape[1:], *ids.shape]``: the rows are gathered, then moved
    and upcast ``_GATHER_ROWS`` at a time. Upcasting the whole table
    first costs more than a block's gather, and moving a large gather in
    one copy reads its rows back from memory once per component."""
    rows = tab[ids.ravel()]
    out = np.empty(tab.shape[1:] + rows.shape[:1])
    for lo in range(0, len(rows), _GATHER_ROWS):
        out[..., lo:lo + _GATHER_ROWS] = np.moveaxis(rows[lo:lo + _GATHER_ROWS], 0, -1)
    return out.reshape(tab.shape[1:] + ids.shape)


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
    fixtures.gen_embeddings / the OpenKE checkpoint import. Each table
    is gathered component-major (:func:`_gather`), so the ids' broadcast
    shape is the shape of the scores.
    """
    # float64 throughout: rank semantics use strict < on scores, and the
    # SQL/NumPy oracles compute in double — upcasting removes f32 near-tie
    # rank flips (outputs follow input dtype otherwise).
    h = _gather(emb["ent"], h_ids)
    t = _gather(emb["ent"], t_ids)
    if model == "rotate":
        # rotate's relation state is the (cos θ, sin θ) pair — no "rel"
        # table required (a θ-trained checkpoint carries only those)
        return rotate(
            h, _gather(emb["ent_im"], h_ids),
            _gather(emb["rot_re"], r_ids), _gather(emb["rot_im"], r_ids),
            t, _gather(emb["ent_im"], t_ids),
        )
    r = _gather(emb["rel"], r_ids)
    if model == "transe":
        return transe(h, r, t, norm)
    if model == "distmult":
        return distmult(h, r, t)
    if model == "complex":
        return complex_score(
            h, _gather(emb["ent_im"], h_ids),
            r, _gather(emb["rel_im"], r_ids),
            t, _gather(emb["ent_im"], t_ids),
        )
    if model == "rescal":
        return rescal(h, _gather(emb["mat"], r_ids), t)
    if model == "hole":
        # circular correlation over the same real ent/rel tables as
        # DistMult — no extra parameter state
        return hole(h, r, t)
    if model == "analogy":
        # scalar (DistMult) block = ent_sc/rel_sc; complex block reuses
        # the ComplEx tables (ent/rel real parts + ent_im/rel_im)
        return analogy(
            _gather(emb["ent_sc"], h_ids), _gather(emb["rel_sc"], r_ids),
            _gather(emb["ent_sc"], t_ids),
            h, _gather(emb["ent_im"], h_ids),
            r, _gather(emb["rel_im"], r_ids),
            t, _gather(emb["ent_im"], t_ids),
        )
    if model == "simple":
        return simple_score(
            h, _gather(emb["ent_tail"], h_ids),
            r, _gather(emb["rel_inv"], r_ids),
            t, _gather(emb["ent_tail"], t_ids),
        )
    if model == "transh":
        return transh(h, r, t, _gather(emb["norm"], r_ids), norm)
    if model == "transr":
        return transr(h, r, t, _gather(emb["mat"], r_ids), norm)
    if model == "transd":
        return transd(
            h, r, t,
            _gather(emb["ent_p"], h_ids),
            _gather(emb["ent_p"], t_ids),
            _gather(emb["rel_p"], r_ids),
            norm,
        )
    raise ValueError(f"unknown model {model!r}")
