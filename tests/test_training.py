"""A11/A12/A13/A21: training reduces loss / improves eval vs random init."""

import hashlib
import os
from functools import partial

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from kgforge import kernels, training
from kgforge.fixtures import gen_openke_split
from kgforge.io_openke import write_split
from kgforge.sampling import index_contains, sorted_index

N_ENT, N_REL = 40, 4
SPLIT = gen_openke_split(n_ent=N_ENT, n_rel=N_REL, n_train=300, n_valid=30, n_test=30)


def _mean_pos_minus_neg(emb, split="train2id") -> float:
    """Positive triples should score lower (closer) than corrupted ones.

    Asserted on the TRAIN slice (the optimization target): the fixture
    KG is structured-random, so test-set generalization is not a stable
    property to gate on."""
    t = SPLIT[split]
    rng = np.random.default_rng(0)
    pos = kernels.score_batch(
        "transe", emb, t["h"].to_numpy(), t["r"].to_numpy(), t["t"].to_numpy(), 1
    )
    neg_t = rng.integers(0, N_ENT, len(t))
    neg = kernels.score_batch(
        "transe", emb, t["h"].to_numpy(), t["r"].to_numpy(), neg_t, 1
    )
    return float(pos.mean() - neg.mean())


def test_train_separates_pos_from_neg():
    # seeded, deterministic run at a measured operating point
    # (train gap ≈ -0.96)
    emb = training.train(SPLIT["train2id"], N_ENT, N_REL, dim=16, epochs=100, lr=0.1)
    gap = _mean_pos_minus_neg(emb)
    assert gap < -0.3, f"trained pos-neg gap {gap} (want clearly negative)"


def test_train_deterministic():
    a = training.train(SPLIT["train2id"], N_ENT, N_REL, dim=8, epochs=5)
    b = training.train(SPLIT["train2id"], N_ENT, N_REL, dim=8, epochs=5)
    np.testing.assert_array_equal(a["ent"], b["ent"])
    np.testing.assert_array_equal(a["rel"], b["rel"])


def test_negatives_reject_known_triples():
    """_negatives never emits a corruption that forms a known train
    triple (incl. the degenerate copy of the positive) when given the
    shared sorted known index."""
    t = SPLIT["train2id"]
    h, tt, r = (t[c].to_numpy(np.int64) for c in ("h", "t", "r"))
    index = sorted_index((r << 32) | h, tt)
    known = set(map(tuple, t[["h", "t", "r"]].itertuples(index=False)))
    for ep in range(5):
        nh, nt = training._negatives(h, tt, r, N_ENT, 42, ep, None, index)
        assert not any((a, b, c) in known for a, b, c in zip(nh, nt, r))


@settings(max_examples=200, deadline=None)
@example(known=[], probes=[(0, 0, 0)])
@example(known=[(1, 2, 3)] * 3 + [(1, 4, 3)], probes=[(1, 3, 3), (1, 5, 3), (2, 2, 3)])
@given(
    st.lists(st.tuples(*[st.integers(0, 6)] * 3), max_size=40),
    st.lists(st.tuples(*[st.integers(0, 7)] * 3), max_size=40),
)
def test_index_contains_equals_set_membership(known, probes):
    """Membership in the shared index == Python set membership, for
    empty sets, repeated triples and probes in and out of range."""
    h, t, r = (np.array([x[i] for x in known], np.int64) for i in range(3))
    index = sorted_index((r << 32) | h, t)
    ph, pt, pr = (np.array([x[i] for x in probes + known], np.int64) for i in range(3))
    got = index_contains(index, (pr << 32) | ph, pt)
    assert got.tolist() == [x in set(known) for x in probes + known]


def _saturated():
    """Every (h, t) over two entities under one relation: no corruption
    of any triple is unknown."""
    return pd.DataFrame({"h": [0, 0, 1, 1], "t": [0, 1, 0, 1], "r": [0] * 4})


def test_saturated_space_raises(spark):
    """An unfillable slot raises in the trainer and in the Spark sampler."""
    from kgforge.sampling import negative_samples

    with pytest.raises(ValueError, match="unfilled after 16 attempts"):
        training.train(_saturated(), 2, 1, dim=4, epochs=1)
    with pytest.raises(ValueError, match="unfilled after 16 attempts"):
        negative_samples(spark.createDataFrame(_saturated()), 2)


def test_large_seed_trains(spark):
    """The seed term of the draw is folded mod 2^64, so any int seeds
    the trainers (seed · 2654435761 used to overflow a uint64)."""
    df = SPLIT["train2id"]
    a = training.train(df, N_ENT, N_REL, dim=4, epochs=1, seed=2**40)
    b = training.train(df, N_ENT, N_REL, dim=4, epochs=1, seed=2**40)
    np.testing.assert_array_equal(a["ent"], b["ent"])
    emb = training.train_distributed(
        spark, spark.createDataFrame(df), N_ENT, N_REL, dim=4, rounds=1,
        epochs_per_round=1, n_shards=2, seed=2**40,
    )
    assert np.isfinite(emb["ent"]).all()


@pytest.mark.parametrize("opt,lr", [("adagrad", 0.5), ("adam", 0.05), ("adadelta", 1.0)])
def test_optimizers_separate_pos_from_neg(opt, lr):
    """A12: every opt_method the reference exposes trains to a clearly
    negative pos-neg margin gap on the fixture."""
    emb = training.train(
        SPLIT["train2id"], N_ENT, N_REL, dim=16, epochs=60, lr=lr, opt_method=opt
    )
    gap = _mean_pos_minus_neg(emb)
    assert gap < -0.15, f"{opt} pos-neg gap {gap}"


def test_unknown_opt_method_raises():
    with pytest.raises(ValueError):
        training.train(SPLIT["train2id"], N_ENT, N_REL, dim=4, epochs=1, opt_method="rmsprop")


def test_train_distributed_separates(spark):
    df = spark.createDataFrame(SPLIT["train2id"])
    emb = training.train_distributed(
        spark, df, N_ENT, N_REL, dim=16, rounds=4, epochs_per_round=10, lr=0.1, n_shards=3
    )
    gap = _mean_pos_minus_neg(emb)
    assert gap < -0.1, f"distributed pos-neg gap {gap}"


def test_train_distributed_runs_one_job_per_round(spark, jobs_in_group):
    """One job collects the input with its shard ids; each round is one
    ``spark.range(n_shards).mapInPandas`` job — no shuffle."""
    df = spark.createDataFrame(SPLIT["train2id"])
    for rounds in (1, 3):
        def fit(rounds=rounds):
            return training.train_distributed(
                spark, df, N_ENT, N_REL, dim=4, rounds=rounds, epochs_per_round=1, n_shards=3
            )

        jobs, _ = jobs_in_group(f"train_distributed-{rounds}", fit)
        assert jobs == 1 + rounds


def test_distributed_shards_filter_against_whole_train_set(spark):
    """The spark_rounds case's shards (3, 2 rounds x 2 epochs): every
    negative a shard draws through param_average with the whole-train
    index train_distributed broadcasts avoids all 300 train triples.
    With each shard's own index, some negatives are triples of another
    shard; and a train set that saturates only as a whole raises."""
    from pyspark.sql import functions as F

    full = set(map(tuple, _TRAIN[["h", "t", "r"]].itertuples(index=False)))
    shards = spark.createDataFrame(_TRAIN).coalesce(1).select(
        "h", "t", "r", F.pmod(F.hash("h", "t", "r"), F.lit(3)).alias("shard")
    ).toPandas()
    h, t, r = (shards[c].to_numpy(np.int64) for c in ("h", "t", "r"))

    def count_known(rnd, shard, pdf, params, known):
        n = 0
        for batches in training._batches(pdf, N_ENT, 42 * 31 + shard, 2, rnd * 2, 1024,
                                         known=known):
            for _, _, rr, [(nh, nt)] in batches:
                n += sum((a, b, c) in full for a, b, c in zip(nh, nt, rr))
        return (np.array([float(n)]),)

    def known_negatives(index):
        return training.param_average(spark, shards, (np.zeros(1),), 2, count_known, index)[0][0]

    assert known_negatives(sorted_index((r << 32) | h, t)) == 0
    assert known_negatives(None) > 0
    with pytest.raises(Exception, match="unfilled after 16 attempts"):
        training.train_distributed(
            spark, spark.createDataFrame(_saturated()), 2, 1, dim=4, rounds=1, n_shards=3
        )


def test_train_incremental(tmp_path):
    # two increments: second adds entities (grown dictionary)
    s1 = gen_openke_split(n_ent=30, n_rel=4, n_train=200, n_valid=20, n_test=20, seed=1)
    s2 = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=20, n_test=20, seed=2)
    write_split(s1, str(tmp_path / "0"))
    write_split(s2, str(tmp_path / "1"))
    evals = []

    def eval_fn(emb, split):
        evals.append(emb["ent"].shape[0])
        return emb["ent"].shape[0]

    out = training.train_incremental(str(tmp_path), dim=8, epochs=5, eval_fn=eval_fn)
    assert out["ent"].shape == (40, 8)
    assert evals == [30, 40]


def test_early_stop_returns_best_snapshot():
    emb = training.train(
        SPLIT["train2id"], N_ENT, N_REL, dim=8, epochs=60, lr=0.1,
        valid_triples=SPLIT["valid2id"], eval_every=10, patience=2,
    )
    assert emb["ent"].shape == (N_ENT, 8)
    # best snapshot must be at least as good as random init on valid MRR
    rng = np.random.default_rng(42)
    e0 = rng.normal(size=(N_ENT, 8)); e0 /= np.linalg.norm(e0, axis=1, keepdims=True)
    r0 = rng.normal(size=(N_REL, 8)); r0 /= np.linalg.norm(r0, axis=1, keepdims=True)
    m_rand = training.valid_mrr(e0, r0, SPLIT["valid2id"])
    m_best = training.valid_mrr(
        emb["ent"].astype("float64"), emb["rel"].astype("float64"), SPLIT["valid2id"]
    )
    assert m_best >= m_rand


def test_distmult_training_learns_the_split():
    """sgd_epochs(model="distmult"): margin loss falls and filtered
    Hits@10 on the train triples beats the random baseline by a wide
    margin — evaluated with the SAME kernels.score_batch the eval paths
    use. DistMult and TransE share the margin loop (_margin_epochs);
    test_trainers_match_recorded_digests pins both models' values."""
    import numpy as np

    from kgforge import kernels
    from kgforge.fixtures import gen_openke_split
    from kgforge.training import _xavier, sgd_epochs

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    ent0, rel0 = _xavier(rng, 40, 16), _xavier(rng, 4, 16)

    def mean_margin_loss(ent, rel):
        h = train["h"].to_numpy(); t = train["t"].to_numpy(); r = train["r"].to_numpy()
        emb = {"ent": ent, "rel": rel}
        sp = kernels.score_batch("distmult", emb, h, r, t)
        sn = kernels.score_batch("distmult", emb, (h + 1) % 40, r, t)
        return float(np.maximum(0.0, 1.0 + sp - sn).mean())

    ent1, rel1 = sgd_epochs(
        train, ent0, rel0, epochs=40, lr=0.05, margin=1.0, seed=3,
        model="distmult",
    )
    assert mean_margin_loss(ent1, rel1) < mean_margin_loss(ent0, rel0) * 0.7
    # tail Hits@10 on train triples (memorization gate, like A14's)
    emb = {"ent": ent1, "rel": rel1}
    hits = 0
    sample = train.head(50)
    for h, t, r in sample[["h", "t", "r"]].itertuples(index=False):
        s = kernels.score_batch(
            "distmult", emb,
            np.full(40, h), np.full(40, r), np.arange(40),
        )
        hits += int((s < s[t]).sum() < 10)
    assert hits / len(sample) > 0.5  # random baseline would be 10/40 = 0.25
    # adagrad path exercises the optimizer branch too
    ent2, rel2 = sgd_epochs(
        train, ent0, rel0, epochs=10, lr=0.1, margin=1.0, seed=3,
        model="distmult", opt_method="adagrad",
    )
    assert mean_margin_loss(ent2, rel2) < mean_margin_loss(ent0, rel0)


def test_complex_training_learns_the_split():
    """ComplEx four-matrix trainer: margin loss falls hard and filtered
    Hits@10 on the memorization gate clears 3x the random baseline,
    scored through the shared kernels path."""
    import numpy as np

    from kgforge import kernels
    from kgforge.fixtures import gen_openke_split
    from kgforge.training import _xavier, sgd_epochs_complex

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    er, ei = _xavier(rng, 40, 16), _xavier(rng, 40, 16)
    rr, ri = _xavier(rng, 4, 16), _xavier(rng, 4, 16)

    def loss(er_, ei_, rr_, ri_):
        h = train["h"].to_numpy(); t = train["t"].to_numpy(); r = train["r"].to_numpy()
        emb = {"ent": er_, "ent_im": ei_, "rel": rr_, "rel_im": ri_}
        sp = kernels.score_batch("complex", emb, h, r, t)
        sn = kernels.score_batch("complex", emb, (h + 1) % 40, r, t)
        return float(np.maximum(0.0, 1.0 + sp - sn).mean())

    base = loss(er, ei, rr, ri)
    er1, ei1, rr1, ri1 = sgd_epochs_complex(
        train, er, ei, rr, ri, epochs=30, lr=0.02, margin=1.0, seed=3
    )
    assert loss(er1, ei1, rr1, ri1) < base * 0.3
    emb = {"ent": er1, "ent_im": ei1, "rel": rr1, "rel_im": ri1}
    hits = 0
    sample = train.head(50)
    for h, t, r in sample[["h", "t", "r"]].itertuples(index=False):
        s = kernels.score_batch(
            "complex", emb, np.full(40, h), np.full(40, r), np.arange(40)
        )
        hits += int((s < s[t]).sum() < 10)
    assert hits / len(sample) > 0.75  # random baseline = 0.25


def test_rotate_training_learns_the_split():
    """RotatE trainer: theta-parametrized rotations stay unit-modulus by
    construction; margin loss falls and Hits@10 clears 3x random,
    scored through the shared kernels path."""
    import numpy as np

    from kgforge import kernels
    from kgforge.fixtures import gen_openke_split
    from kgforge.training import _xavier, sgd_epochs_rotate

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    er, ei = _xavier(rng, 40, 16), _xavier(rng, 40, 16)
    th = rng.uniform(-np.pi, np.pi, size=(4, 16))

    def loss(er_, ei_, th_):
        h = train["h"].to_numpy(); t = train["t"].to_numpy(); r = train["r"].to_numpy()
        emb = {"ent": er_, "ent_im": ei_, "rot_re": np.cos(th_), "rot_im": np.sin(th_)}
        sp = kernels.score_batch("rotate", emb, h, r, t)
        sn = kernels.score_batch("rotate", emb, (h + 1) % 40, r, t)
        return float(np.maximum(0.0, 2.0 + sp - sn).mean())

    base = loss(er, ei, th)
    er1, ei1, th1 = sgd_epochs_rotate(
        train, er, ei, th, epochs=40, lr=0.05, margin=2.0, seed=3
    )
    assert loss(er1, ei1, th1) < base * 0.3
    # unit modulus holds exactly whatever SGD did to theta
    rot = np.cos(th1) ** 2 + np.sin(th1) ** 2
    np.testing.assert_allclose(rot, 1.0, rtol=1e-12)
    emb = {"ent": er1, "ent_im": ei1, "rot_re": np.cos(th1), "rot_im": np.sin(th1)}
    hits = 0
    sample = train.head(50)
    for h, t, r in sample[["h", "t", "r"]].itertuples(index=False):
        s = kernels.score_batch(
            "rotate", emb, np.full(40, h), np.full(40, r), np.arange(40)
        )
        hits += int((s < s[t]).sum() < 10)
    assert hits / len(sample) > 0.75


def test_softplus_distmult_trainer():
    """Softplus-loss DistMult (the bilinear family's reference recipe):
    the logistic loss falls hard, training is seed-deterministic, and
    the analytic gradient matches central finite differences of
    softplus_loss_distmult on a small batch."""
    from kgforge.training import (
        _sigmoid,
        _xavier,
        sgd_epochs_softplus,
        softplus_loss_distmult,
    )

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    ent0, rel0 = _xavier(rng, 40, 16), _xavier(rng, 4, 16)
    h = train["h"].to_numpy(np.int64)
    t = train["t"].to_numpy(np.int64)
    r = train["r"].to_numpy(np.int64)
    nh, nt = (h + 1) % 40, t  # fixed corruption for the loss metric

    base = softplus_loss_distmult(ent0, rel0, h, t, r, nh, nt)
    ent1, rel1 = sgd_epochs_softplus(train, ent0, rel0, epochs=40, lr=0.05, seed=3)
    trained = softplus_loss_distmult(ent1, rel1, h, t, r, nh, nt)
    assert trained < base * 0.7, (base, trained)
    # inputs untouched (in-place-free contract) and seed-deterministic
    assert softplus_loss_distmult(ent0, rel0, h, t, r, nh, nt) == base
    ent2, rel2 = sgd_epochs_softplus(train, ent0, rel0, epochs=40, lr=0.05, seed=3)
    np.testing.assert_array_equal(ent1, ent2)
    np.testing.assert_array_equal(rel1, rel2)

    # gradient check: analytic dL/dent vs central differences (no reg —
    # the regularizer is a separate, trivially-correct 2λp term)
    hs, ts, rs = h[:3], t[:3], r[:3]
    nhs, nts = nh[:3], nt[:3]

    def loss(e):
        return softplus_loss_distmult(e, rel0, hs, ts, rs, nhs, nts)

    n_pairs = len(hs)
    gpos = -_sigmoid(-(ent0[hs] * rel0[rs] * ent0[ts]).sum(1))[:, None]
    gneg = _sigmoid((ent0[nhs] * rel0[rs] * ent0[nts]).sum(1))[:, None]
    analytic = np.zeros_like(ent0)
    np.add.at(analytic, hs, gpos * rel0[rs] * ent0[ts] / (2 * n_pairs))
    np.add.at(analytic, ts, gpos * ent0[hs] * rel0[rs] / (2 * n_pairs))
    np.add.at(analytic, nhs, gneg * rel0[rs] * ent0[nts] / (2 * n_pairs))
    np.add.at(analytic, nts, gneg * ent0[nhs] * rel0[rs] / (2 * n_pairs))
    eps = 1e-6
    check = [(int(i), int(k)) for i in np.unique(np.r_[hs, ts, nhs, nts]) for k in (0, 7)]
    for i, k in check:
        ep = ent0.copy(); ep[i, k] += eps
        em = ent0.copy(); em[i, k] -= eps
        num = (loss(ep) - loss(em)) / (2 * eps)
        assert abs(num - analytic[i, k]) < 1e-7, (i, k, num, analytic[i, k])


def test_train_distributed_softplus(spark):
    """Param averaging is loss-agnostic: the softplus/DistMult local
    trainer slots into the same shard → average rounds, the trained
    model scores positives below corruptions under the distmult
    kernel, entity rows are NOT re-normalized (magnitudes carry the
    logistic score), and everything stays finite."""
    df = spark.createDataFrame(SPLIT["train2id"])
    emb = training.train_distributed(
        spark, df, N_ENT, N_REL, dim=16, rounds=3, epochs_per_round=8,
        lr=0.05, n_shards=3, loss="softplus",
    )
    t = SPLIT["train2id"]
    rng = np.random.default_rng(0)
    pos = kernels.score_batch(
        "distmult", emb, t["h"].to_numpy(), t["r"].to_numpy(), t["t"].to_numpy()
    )
    neg = kernels.score_batch(
        "distmult", emb, t["h"].to_numpy(), t["r"].to_numpy(),
        rng.integers(0, N_ENT, len(t)),
    )
    assert pos.mean() < neg.mean(), (pos.mean(), neg.mean())
    assert np.isfinite(emb["ent"]).all() and np.isfinite(emb["rel"]).all()
    norms = np.linalg.norm(emb["ent"], axis=1)
    assert norms.std() > 1e-6  # not row-normalized
    with pytest.raises(ValueError):
        training.train_distributed(spark, df, N_ENT, N_REL, loss="hinge2")


def test_selfadv_rotate_trainer():
    """Self-adversarial RotatE (Sun et al. 2019 eq. 5): the adversarial
    loss falls, training is seed-deterministic and in-place-free, and
    the analytic per-distance gradient coefficients match central
    finite differences of the FROZEN-p loss (the paper detaches the
    softmax weights, so the analytic gradient is exact for the loss
    with p held constant)."""
    from kgforge.training import (
        _sigmoid,
        _xavier,
        selfadv_loss_rotate,
        sgd_epochs_selfadv,
    )

    split = gen_openke_split(n_ent=40, n_rel=4, n_train=300, n_valid=30, n_test=30)
    train = split["train2id"]
    rng = np.random.default_rng(5)
    er0, ei0 = _xavier(rng, 40, 16), _xavier(rng, 40, 16)
    th0 = rng.uniform(-np.pi, np.pi, size=(4, 16))
    h = train["h"].to_numpy(np.int64)
    t = train["t"].to_numpy(np.int64)
    r = train["r"].to_numpy(np.int64)
    K = 4
    nh = np.stack([(h + k + 1) % 40 for k in range(K)], axis=1)
    nt = np.repeat(t[:, None], K, axis=1)

    base = selfadv_loss_rotate(er0, ei0, th0, h, t, r, nh, nt)
    er1, ei1, th1 = sgd_epochs_selfadv(
        train, er0, ei0, th0, epochs=30, lr=0.05, seed=3
    )
    trained = selfadv_loss_rotate(er1, ei1, th1, h, t, r, nh, nt)
    assert trained < base * 0.8, (base, trained)
    assert selfadv_loss_rotate(er0, ei0, th0, h, t, r, nh, nt) == base
    er2, ei2, th2 = sgd_epochs_selfadv(
        train, er0, ei0, th0, epochs=30, lr=0.05, seed=3
    )
    np.testing.assert_array_equal(er1, er2)
    np.testing.assert_array_equal(th1, th2)

    # frozen-p gradient check on ent_re for a 3-row batch
    gamma, alpha = 6.0, 1.0
    hs, ts, rs = h[:3], t[:3], r[:3]
    nhs, nts = nh[:3], nt[:3]
    C, S = np.cos(th0[rs]), np.sin(th0[rs])

    def dists(e_re):
        def d(hh, tt, c, s):
            zr = e_re[hh] * c - ei0[hh] * s - e_re[tt]
            zi = e_re[hh] * s + ei0[hh] * c - ei0[tt]
            return np.sqrt(zr * zr + zi * zi).sum(-1)
        return d(hs, ts, C, S), d(nhs, nts, C[:, None], S[:, None])

    dp0, dn0 = dists(er0)
    logits = alpha * (gamma - dn0)
    logits -= logits.max(axis=1, keepdims=True)
    p0 = np.exp(logits); p0 /= p0.sum(axis=1, keepdims=True)

    def frozen_loss(e_re):
        dp, dn = dists(e_re)
        return float(
            (np.logaddexp(0.0, -(gamma - dp))
             + (p0 * np.logaddexp(0.0, -(dn - gamma))).sum(axis=1)).mean()
        )

    # analytic: dL/dd_pos = sigmoid(d_pos - gamma)/n, per-neg
    # dL/dd_neg_k = -p0_k * sigmoid(gamma - d_neg_k)/n; chain through z
    n_rows = len(hs)
    analytic = np.zeros_like(er0)

    def add_chain(hh, tt, c, s, coef):
        zr = er0[hh] * c - ei0[hh] * s - er0[tt]
        zi = er0[hh] * s + ei0[hh] * c - ei0[tt]
        m = np.maximum(np.sqrt(zr * zr + zi * zi), 1e-12)
        ur, ui = zr / m, zi / m
        np.add.at(analytic, hh, coef[..., None] * (ur * c + ui * s))
        np.add.at(analytic, tt, coef[..., None] * (-ur))

    add_chain(hs, ts, C, S, _sigmoid(dp0 - gamma) / n_rows)
    for k in range(K):
        add_chain(
            nhs[:, k], nts[:, k], C, S,
            -(p0[:, k] * _sigmoid(gamma - dn0[:, k])) / n_rows,
        )
    eps = 1e-6
    ids = np.unique(np.r_[hs, ts, nhs.ravel(), nts.ravel()])
    for i in ids[:6]:
        for k in (0, 7):
            ep_ = er0.copy(); ep_[i, k] += eps
            em_ = er0.copy(); em_[i, k] -= eps
            num = (frozen_loss(ep_) - frozen_loss(em_)) / (2 * eps)
            assert abs(num - analytic[i, k]) < 1e-7, (i, k, num, analytic[i, k])


def test_softplus_distributed_rejects_optimizer(spark):
    """sgd_epochs_softplus trains with plain SGD only, so asking
    train_distributed for softplus under another optimizer must fail
    loudly instead of silently dropping opt_method."""
    df = spark.createDataFrame(SPLIT["train2id"])
    with pytest.raises(ValueError, match="opt_method"):
        training.train_distributed(
            spark, df, N_ENT, N_REL, rounds=1, loss="softplus", opt_method="adam"
        )


# --- recorded digests -------------------------------------------------------
# sha256 (first 16 hex) of every trainer's float64 outputs on a fixed
# fixture, recorded before the trainers shared one core (_batches,
# _OptState, _margin_epochs, param_average). Each must stay bitwise
# equal. The one recorded exception is TransE at norm=2 under plain SGD:
# its relation step computes lr·(gp − gn) where it used to compute
# lr·gp − lr·gn (the form every other trainer and TransE's optimizer
# path already used); at norm=1 both forms are exact because gp and gn
# lie in {−1, 0, 1}. Those two cells hold the new values. The digests
# pin the floating-point results of this NumPy build; a NumPy whose
# exp/sin/cos kernels round differently would need them re-recorded.
# The three train_distributed digests were re-recorded when every shard
# began filtering its negatives against the whole train set instead of
# its own shard; with each shard's own index the code reproduces the
# earlier values.

TRAINER_DIGESTS = {
    "sgd_epochs-transe_l1-sgd-unif": "27880fc5b8185a08",
    "sgd_epochs-transe_l1-sgd-bern": "9ff3d9b84ffc0be1",
    "sgd_epochs-transe_l1-adagrad-unif": "cddc614e8d22cf2d",
    "sgd_epochs-transe_l1-adagrad-bern": "a0b7bbbdefd513f6",
    "sgd_epochs-transe_l1-adam-unif": "d267a57c502f8366",
    "sgd_epochs-transe_l1-adam-bern": "b7cd536d44c275aa",
    "sgd_epochs-transe_l1-adadelta-unif": "85b2d718651897b5",
    "sgd_epochs-transe_l1-adadelta-bern": "c9d253b8db385938",
    "sgd_epochs-transe_l2-sgd-unif": "3cf216c307ce8e91",
    "sgd_epochs-transe_l2-sgd-bern": "f58cec55f65264ba",
    "sgd_epochs-transe_l2-adagrad-unif": "9292309f71cc51b1",
    "sgd_epochs-transe_l2-adagrad-bern": "148ffe94b4b4217a",
    "sgd_epochs-transe_l2-adam-unif": "ef5de23ba90ce248",
    "sgd_epochs-transe_l2-adam-bern": "277f115c59fb2fa0",
    "sgd_epochs-transe_l2-adadelta-unif": "3a30d3269a41d2b8",
    "sgd_epochs-transe_l2-adadelta-bern": "565eafc15dd0072c",
    "sgd_epochs-distmult-sgd-unif": "97edf3e91ece2b31",
    "sgd_epochs-distmult-sgd-bern": "e9ec05b37d6857b6",
    "sgd_epochs-distmult-adagrad-unif": "f11413db8e3cd5ab",
    "sgd_epochs-distmult-adagrad-bern": "c382ba359afbd4e1",
    "sgd_epochs-distmult-adam-unif": "c09535f7b2ecd61a",
    "sgd_epochs-distmult-adam-bern": "12e0f5cdb087b12c",
    "sgd_epochs-distmult-adadelta-unif": "45140fd8b1b78c2f",
    "sgd_epochs-distmult-adadelta-bern": "22c8c410f0c7e5f9",
    "complex": "69680edee6cc3512",
    "rotate": "377db57b0fed293f",
    "softplus": "a243dd0f0426d5c9",
    "selfadv": "b2741aa190d3aac9",
    "softplus_loss": "9c1886df12382c4a",
    "selfadv_loss": "ce0c69437f4ce571",
    "train_early_stop": "22c17b015c0e0c5f",
    "train_bern": "f6f20058dea99327",
    "train_distributed-margin": "e7206d35b7de36f2",
    "train_distributed-adagrad": "0d28058a57e513e8",
    "train_distributed-softplus": "a6e82aaf6630cd9b",
    "train_deepwalk": "554cca4b2e02f34f",
}

_TRAIN = SPLIT["train2id"]


def _digest(*arrays) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a, dtype=np.float64).tobytes())
    return h.hexdigest()[:16]


def _init(n_ent_mats, n_rel_mats, dim=8):
    """Xavier entity matrices, then relation matrices, from one seed."""
    rng = np.random.default_rng(5)
    return [training._xavier(rng, n, dim) for n in [N_ENT] * n_ent_mats + [N_REL] * n_rel_mats]


def _rotate_init():
    return *_init(2, 0), np.random.default_rng(6).uniform(-np.pi, np.pi, size=(N_REL, 8))


def _fixed_negatives(k):
    h, t, r = (_TRAIN[c].to_numpy(np.int64) for c in ("h", "t", "r"))
    nh = np.stack([(h + i + 1) % N_ENT for i in range(k)], axis=1)
    return h, t, r, nh, np.repeat(t[:, None], k, axis=1)


def _sgd_epochs_case(model, norm, opt, bern):
    ent, rel = _init(1, 1)
    return training.sgd_epochs(
        _TRAIN, ent, rel, epochs=4, lr=0.05, margin=1.0, seed=3, norm=norm,
        bern_p=np.array([0.2, 0.5, 0.7, 0.9]) if bern else None,
        batch_size=64, epoch_offset=3, opt_method=opt, model=model,
    )


def _softplus_loss_case():
    ent, rel = _init(1, 1)
    h, t, r, nh, nt = _fixed_negatives(1)
    return (training.softplus_loss_distmult(ent, rel, h, t, r, nh[:, 0], nt[:, 0]),)


def _train_case(**kw):
    emb = training.train(_TRAIN, N_ENT, N_REL, dim=8, **kw)
    return emb["ent"], emb["rel"]


TRAINER_CASES = {
    **{
        f"sgd_epochs-{name}-{opt}-{'bern' if bern else 'unif'}": partial(
            _sgd_epochs_case, model, norm, opt, bern
        )
        for name, model, norm in (
            ("transe_l1", "transe", 1), ("transe_l2", "transe", 2), ("distmult", "distmult", 1)
        )
        for opt in ("sgd", "adagrad", "adam", "adadelta")
        for bern in (False, True)
    },
    "complex": lambda: training.sgd_epochs_complex(
        _TRAIN, *_init(2, 2), epochs=4, lr=0.02, margin=1.0, seed=3,
        batch_size=64,
    ),
    "rotate": lambda: training.sgd_epochs_rotate(
        _TRAIN, *_rotate_init(), epochs=4, lr=0.05, margin=2.0, seed=3, batch_size=64
    ),
    "softplus": lambda: training.sgd_epochs_softplus(
        _TRAIN, *_init(1, 1), epochs=4, lr=0.05, seed=3,
        batch_size=64, epoch_offset=3,
    ),
    "selfadv": lambda: training.sgd_epochs_selfadv(
        _TRAIN, *_rotate_init(), epochs=4, lr=0.05, seed=3, n_neg=3, batch_size=64
    ),
    "softplus_loss": _softplus_loss_case,
    "selfadv_loss": lambda: (
        training.selfadv_loss_rotate(*_rotate_init(), *_fixed_negatives(3)),
    ),
    "train_early_stop": partial(
        _train_case, epochs=8, lr=0.1, valid_triples=SPLIT["valid2id"],
        eval_every=2, patience=2,
    ),
    "train_bern": partial(_train_case, epochs=5, bern=True),
}


def _distributed_digests(spark) -> dict[str, str]:
    """train_distributed in its three modes and train_deepwalk, each fed
    from one input partition so shard row order is fixed."""
    from kgforge import graphembed, graphstats

    df = spark.createDataFrame(_TRAIN).coalesce(1)
    out = {}
    for mode, kw in (
        ("margin", {}),
        ("adagrad", {"opt_method": "adagrad", "lr": 0.3}),
        ("softplus", {"loss": "softplus"}),
    ):
        emb = training.train_distributed(
            spark, df, N_ENT, N_REL, dim=8, rounds=2, epochs_per_round=2, n_shards=3, **kw
        )
        out[f"train_distributed-{mode}"] = _digest(emb["ent"], emb["rel"])
    walks = graphstats.random_walks(df, num_walks=2, walk_length=4)
    pairs = graphstats.walk_skipgram_pairs(walks, window=2).coalesce(1)
    emb = graphembed.train_deepwalk(
        spark, pairs, n_nodes=N_ENT, dim=8, rounds=2, epochs_per_round=2, n_shards=3, seed=9
    )
    out["train_deepwalk"] = _digest(emb["in"], emb["out"])
    return out


@pytest.mark.parametrize("case", [*TRAINER_CASES, "spark_rounds"])
def test_trainers_match_recorded_digests(case, request):
    if case == "spark_rounds":
        got = _distributed_digests(request.getfixturevalue("spark"))
        assert got == {k: TRAINER_DIGESTS[k] for k in got}
    else:
        assert _digest(*TRAINER_CASES[case]()) == TRAINER_DIGESTS[case]
