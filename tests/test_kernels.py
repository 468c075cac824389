"""A7–A10 kernels vs independent (loop-based) NumPy oracles."""

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from kgforge import kernels
from kgforge.fixtures import gen_embeddings

EMB = gen_embeddings(n_ent=50, n_rel=6, dim=8)
RNG = np.random.default_rng(7)
B = 40
H = RNG.integers(0, 50, B)
T = RNG.integers(0, 50, B)
R = RNG.integers(0, 6, B)


def _oracle_score(model, i, norm):
    """Straight-from-the-paper scalar implementation (loops, no reuse)."""
    h = EMB["ent"][H[i]].astype(np.float64)
    t = EMB["ent"][T[i]].astype(np.float64)
    r = EMB["rel"][R[i]].astype(np.float64)
    if model == "transh":
        w = EMB["norm"][R[i]].astype(np.float64)
        h = h - np.dot(w, h) * w
        t = t - np.dot(w, t) * w
    elif model == "transr":
        m = EMB["mat"][R[i]].astype(np.float64)
        h, t = m @ h, m @ t
    elif model == "transd":
        hp = EMB["ent_p"][H[i]].astype(np.float64)
        tp = EMB["ent_p"][T[i]].astype(np.float64)
        rp = EMB["rel_p"][R[i]].astype(np.float64)
        h = h + np.dot(hp, h) * rp
        t = t + np.dot(tp, t) * rp
    d = h + r - t
    return np.abs(d).sum() if norm == 1 else np.sqrt((d * d).sum())


@pytest.mark.parametrize("model", ["transe", "transh", "transr", "transd"])
@pytest.mark.parametrize("norm", [1, 2])
def test_kernel_matches_oracle(model, norm):
    """TransE is EXACT: the per-row oracle's 1-D sum adds the components
    in the same pairwise order as the kernel's plane sum."""
    got = kernels.score_batch(model, EMB, H, R, T, norm)
    want = np.array([_oracle_score(model, i, norm) for i in range(B)])
    if model == "transe":
        assert np.array_equal(got, want)
    else:
        np.testing.assert_allclose(got, want, rtol=1e-5)


@settings(max_examples=300, deadline=None)
@given(
    d=st.integers(1, 300),
    lead=st.sampled_from([(), (3,), (2, 5)]),
    seed=st.integers(0, 2**32 - 1),
    dtype=st.sampled_from([np.float64, np.float32]),
)
@example(d=7, lead=(3,), seed=0, dtype=np.float64)  # sequential branch
@example(d=128, lead=(3,), seed=1, dtype=np.float64)  # last 8-accumulator size
@example(d=129, lead=(3,), seed=2, dtype=np.float64)  # first split
@example(d=300, lead=(2, 5), seed=3, dtype=np.float32)
def test_sum0_is_bitwise_numpy_row_sum(d, lead, seed, dtype):
    """``_sum0`` over the leading axis is array_equal to NumPy's sum over
    the last axis of the C-contiguous rows (the layout the row-major
    kernels reduced) for every d in 1..300 — all three branches of
    NumPy's pairwise sum — on signed values spread over 60 binades, with
    signed zeros among them."""
    rng = np.random.default_rng(seed)
    rows = rng.uniform(1, 2, (*lead, d)) * 2.0 ** rng.integers(-30, 31, (*lead, d))
    rows *= rng.choice([-1.0, 1.0], rows.shape)
    rows[rng.random(rows.shape) < 0.1] = -0.0
    x = np.moveaxis(rows.astype(dtype), -1, 0)
    want = np.moveaxis(x, 0, -1).sum(-1)
    got = kernels._sum0(np.ascontiguousarray(x))  # a component-major kernel temporary
    assert got.dtype == want.dtype
    assert np.array_equal(got, want)
    assert np.array_equal(np.signbit(got), np.signbit(want))


def test_distmult_matches_paper_loop_and_is_symmetric():
    got = kernels.score_batch("distmult", EMB, H, R, T)
    want = np.array(
        [
            -float(
                np.sum(
                    EMB["ent"][H[i]].astype(np.float64)
                    * EMB["rel"][R[i]].astype(np.float64)
                    * EMB["ent"][T[i]].astype(np.float64)
                )
            )
            for i in range(B)
        ]
    )
    np.testing.assert_allclose(got, want, rtol=1e-6)
    # diagonal bilinear form is symmetric: swapping h and t is a no-op
    np.testing.assert_allclose(got, kernels.score_batch("distmult", EMB, T, R, H), rtol=1e-6)


def test_complex_matches_complex_arithmetic_and_is_asymmetric():
    """Independent oracle in actual complex numbers:
    score = -Re(sum_k h_k r_k conj(t_k))."""
    hc = (EMB["ent"][H] + 1j * EMB["ent_im"][H]).astype(np.complex128)
    rc = (EMB["rel"][R] + 1j * EMB["rel_im"][R]).astype(np.complex128)
    tc = (EMB["ent"][T] + 1j * EMB["ent_im"][T]).astype(np.complex128)
    want = -np.real((hc * rc * np.conj(tc)).sum(axis=-1))
    got = kernels.score_batch("complex", EMB, H, R, T)
    np.testing.assert_allclose(got, want, rtol=1e-6)
    # the point of ComplEx: direction matters (asymmetric relations)
    rev = kernels.score_batch("complex", EMB, T, R, H)
    assert np.abs(got - rev).max() > 1e-3


def test_rotate_matches_complex_arithmetic():
    """Independent oracle in actual complex numbers:
    score = sum_k |h_k * r_k - t_k| with |r_k| = 1."""
    hc = (EMB["ent"][H] + 1j * EMB["ent_im"][H]).astype(np.complex128)
    rc = (EMB["rot_re"][R] + 1j * EMB["rot_im"][R]).astype(np.complex128)
    tc = (EMB["ent"][T] + 1j * EMB["ent_im"][T]).astype(np.complex128)
    # fixture rotations really are unit-modulus
    np.testing.assert_allclose(np.abs(rc), 1.0, rtol=1e-6)
    want = np.abs(hc * rc - tc).sum(axis=-1)
    got = kernels.score_batch("rotate", EMB, H, R, T)
    np.testing.assert_allclose(got, want, rtol=1e-6)


def test_simple_matches_paper_loop_and_inversion_identity():
    """Independent oracle: the two CP halves summed per row; and the
    SimplE inversion identity — score(h, r, t) computed with (r, r_inv)
    equals score(t, r, h) computed with the roles of r and r_inv
    swapped (the inverse relation IS the relation of the reversed
    triple)."""
    got = kernels.score_batch("simple", EMB, H, R, T)
    want = np.array(
        [
            -0.5
            * (
                float(
                    np.sum(
                        EMB["ent"][H[i]].astype(np.float64)
                        * EMB["rel"][R[i]].astype(np.float64)
                        * EMB["ent_tail"][T[i]].astype(np.float64)
                    )
                )
                + float(
                    np.sum(
                        EMB["ent"][T[i]].astype(np.float64)
                        * EMB["rel_inv"][R[i]].astype(np.float64)
                        * EMB["ent_tail"][H[i]].astype(np.float64)
                    )
                )
            )
            for i in range(B)
        ]
    )
    np.testing.assert_allclose(got, want, rtol=1e-6)
    swapped = {**EMB, "rel": EMB["rel_inv"], "rel_inv": EMB["rel"]}
    rev = kernels.score_batch("simple", swapped, T, R, H)
    np.testing.assert_allclose(got, rev, rtol=1e-6)


def test_rescal_matches_paper_loop_and_is_asymmetric():
    """Independent oracle: explicit double loop h^T M_r t per row."""
    got = kernels.score_batch("rescal", EMB, H, R, T)
    want = np.array(
        [
            -float(
                EMB["ent"][H[i]].astype(np.float64)
                @ EMB["mat"][R[i]].astype(np.float64)
                @ EMB["ent"][T[i]].astype(np.float64)
            )
            for i in range(B)
        ]
    )
    np.testing.assert_allclose(got, want, rtol=1e-6)
    # a full (non-symmetric) matrix scores direction: swapping h and t moves it
    rev = kernels.score_batch("rescal", EMB, T, R, H)
    assert np.abs(got - rev).max() > 1e-3


def test_analogy_is_distmult_plus_complex():
    """Analogy = DistMult over the scalar block + ComplEx over the
    complex block (Liu et al. 2017's block-diagonal normal form), and a
    paper-style explicit loop over both blocks."""
    got = kernels.score_batch("analogy", EMB, H, R, T)

    def cm(k, ids):  # component-major [d, B] float64, as the kernels take
        return EMB[k][ids].T.astype(np.float64)

    dm = kernels.distmult(cm("ent_sc", H), cm("rel_sc", R), cm("ent_sc", T))
    cx = kernels.complex_score(
        cm("ent", H), cm("ent_im", H), cm("rel", R), cm("rel_im", R), cm("ent", T), cm("ent_im", T)
    )
    np.testing.assert_allclose(got, dm + cx, rtol=1e-12)
    want = []
    for i in range(B):
        s = float(
            np.sum(
                EMB["ent_sc"][H[i]].astype(np.float64)
                * EMB["rel_sc"][R[i]].astype(np.float64)
                * EMB["ent_sc"][T[i]].astype(np.float64)
            )
        )
        hc = EMB["ent"][H[i]].astype(np.float64) + 1j * EMB["ent_im"][H[i]].astype(np.float64)
        rc = EMB["rel"][R[i]].astype(np.float64) + 1j * EMB["rel_im"][R[i]].astype(np.float64)
        tc = EMB["ent"][T[i]].astype(np.float64) + 1j * EMB["ent_im"][T[i]].astype(np.float64)
        s += float(np.real(np.sum(hc * rc * np.conj(tc))))
        want.append(-s)
    np.testing.assert_allclose(got, np.array(want), rtol=1e-6)


def test_hole_matches_paper_loop_and_fft_form():
    """Independent oracles for the circular correlation: (1) the
    explicit double loop Σ_{i,k} r_k h_i t_{(i+k) mod d} from the paper,
    (2) the FFT identity h ⋆ t = F⁻¹(conj(F(h)) ∘ F(t)) HolE's authors
    compute with — both must agree with the gather-einsum kernel."""
    got = kernels.score_batch("hole", EMB, H, R, T)
    d = EMB["ent"].shape[1]
    want = []
    for b in range(B):
        h = EMB["ent"][H[b]].astype(np.float64)
        t = EMB["ent"][T[b]].astype(np.float64)
        r = EMB["rel"][R[b]].astype(np.float64)
        s = 0.0
        for k in range(d):
            s += r[k] * sum(h[i] * t[(i + k) % d] for i in range(d))
        want.append(-s)
    np.testing.assert_allclose(got, np.array(want), rtol=1e-6)
    h = EMB["ent"][H].astype(np.float64)
    t = EMB["ent"][T].astype(np.float64)
    r = EMB["rel"][R].astype(np.float64)
    corr = np.fft.irfft(np.conj(np.fft.rfft(h, axis=1)) * np.fft.rfft(t, axis=1), d, axis=1)
    np.testing.assert_allclose(got, -(r * corr).sum(axis=1), rtol=1e-9)
    # circular correlation is NOT commutative: swapping h and t moves scores
    rev = kernels.score_batch("hole", EMB, T, R, H)
    assert np.abs(got - rev).max() > 1e-3


@pytest.mark.parametrize(
    "model,norm",
    [(m, n) for m in ("transe", "transh", "transr", "transd") for n in (1, 2)]
    + [(m, 1) for m in ("distmult", "complex", "rotate", "simple", "rescal", "analogy", "hole")],
)
def test_broadcast_block_is_bitwise_flat(model, norm):
    """A ``[B, 1]`` × ``[1, N]`` id block scores EXACTLY (array_equal,
    not allclose) like the flat per-row call on repeated/tiled ids, on
    both the head side and the tail side — the rank kernel scores a
    chunk of test triples as such a block and its ranks must not move."""
    n = EMB["ent"].shape[0]
    ents = np.arange(n)
    h, r, t = H[:7], R[:7], T[:7]
    b = len(h)
    head = kernels.score_batch(model, EMB, ents[None, :], r[:, None], t[:, None], norm)
    head_flat = kernels.score_batch(
        model, EMB, np.tile(ents, b), np.repeat(r, n), np.repeat(t, n), norm
    )
    assert head.shape == (b, n)
    assert np.array_equal(head, head_flat.reshape(b, n))
    tail = kernels.score_batch(model, EMB, h[:, None], r[:, None], ents[None, :], norm)
    tail_flat = kernels.score_batch(
        model, EMB, np.repeat(h, n), np.repeat(r, n), np.tile(ents, b), norm
    )
    assert tail.shape == (b, n)
    assert np.array_equal(tail, tail_flat.reshape(b, n))
