"""A15–A18: eval protocol vs an exact, independent NumPy oracle.

The oracle re-implements the reference's rank semantics (strict <,
filtered excludes known-true candidates except the target itself)
directly with loops — no code shared with kgforge.evaluate.
"""

import re

import numpy as np
import pandas as pd
import pytest

from kgforge import kernels
from kgforge.evaluate import (
    RANK_COLS,
    link_prediction_metrics,
    link_prediction_ranks,
    link_prediction_ranks_multi,
    top_k_completions,
    triple_classification,
)
from kgforge.fixtures import gen_embeddings, gen_openke_split

N_ENT, N_REL = 60, 5
SPLIT = gen_openke_split(n_ent=N_ENT, n_rel=N_REL, n_train=400, n_valid=40, n_test=40)
EMB = gen_embeddings(n_ent=N_ENT, n_rel=N_REL, dim=8)
KNOWN = pd.concat([SPLIT["train2id"], SPLIT["valid2id"], SPLIT["test2id"]])


# type constraints from the train split for relations 0..2 only: 3..4
# stay unconstrained, and some test entities fall outside their lists
DOMAINS = {
    int(r): np.unique(g["h"].to_numpy())
    for r, g in SPLIT["train2id"].groupby("r") if int(r) < 3
}
RANGES = {
    int(r): np.unique(g["t"].to_numpy())
    for r, g in SPLIT["train2id"].groupby("r") if int(r) < 3
}


def _oracle_ranks(test: pd.DataFrame, model="transe", norm=1, constraints=None) -> pd.DataFrame:
    """``constraints``: optional ``(domains, ranges)``, either side None;
    a head (tail) candidate outside the relation's listed domain (range)
    is skipped."""
    known_set = set(map(tuple, KNOWN[["h", "t", "r"]].itertuples(index=False)))
    domains, ranges = constraints or (None, None)

    def allowed(cmap, r, e):
        return cmap is None or r not in cmap or e in set(cmap[r].tolist())

    rows = []
    for h, t, r in test[["h", "t", "r"]].itertuples(index=False):
        def sc(hh, tt):
            return float(
                kernels.score_batch(
                    model, EMB,
                    np.array([hh]), np.array([r]), np.array([tt]), norm,
                )[0]
            )
        true_head = sc(h, t)
        rh_raw = rh_filt = 1
        for e in range(N_ENT):
            if allowed(domains, r, e) and sc(e, t) < true_head:
                rh_raw += 1
                if e == h or (e, t, r) not in known_set:
                    rh_filt += 1
        true_tail = sc(h, t)
        rt_raw = rt_filt = 1
        for e in range(N_ENT):
            if allowed(ranges, r, e) and sc(h, e) < true_tail:
                rt_raw += 1
                if e == t or (h, e, r) not in known_set:
                    rt_filt += 1
        rows.append((h, t, r, rh_raw, rh_filt, rt_raw, rt_filt))
    return pd.DataFrame(
        rows,
        columns=["h", "t", "r", "rank_head_raw", "rank_head_filt", "rank_tail_raw", "rank_tail_filt"],
    )


def _oracle_relation_ranks(test: pd.DataFrame, norm=1) -> pd.DataFrame:
    """Loop oracle for relation prediction: rank true r among all |R|
    relation candidates, strict <, filtered skips known (h, cand, t)
    except the target itself. No code shared with kgforge.evaluate."""
    known_set = set(map(tuple, KNOWN[["h", "t", "r"]].itertuples(index=False)))
    rows = []
    for h, t, r in test[["h", "t", "r"]].itertuples(index=False):
        def sc(rr):
            return float(
                kernels.score_batch(
                    "transe", EMB,
                    np.array([h]), np.array([rr]), np.array([t]), norm,
                )[0]
            )
        true = sc(r)
        raw = filt = 1
        for cand in range(N_REL):
            if sc(cand) < true:
                raw += 1
                if cand == r or (h, t, cand) not in known_set:
                    filt += 1
        rows.append((h, t, r, raw, filt))
    return pd.DataFrame(
        rows, columns=["h", "t", "r", "rank_rel_raw", "rank_rel_filt"]
    )


@pytest.mark.parametrize("norm", [1, 2])
def test_relation_ranks_match_oracle(spark, norm):
    from kgforge.evaluate import relation_prediction_ranks

    test = SPLIT["test2id"]
    want = (
        _oracle_relation_ranks(test, norm=norm)
        .drop_duplicates(["h", "t", "r"])
        .sort_values(["h", "t", "r"])
        .reset_index(drop=True)
    )
    # the known set as pandas and as a DataFrame: same ranks
    for known in (KNOWN, spark.createDataFrame(KNOWN[["h", "t", "r"]])):
        got = (
            relation_prediction_ranks(spark, spark.createDataFrame(test), EMB, known, norm=norm)
            .toPandas()
            .sort_values(["h", "t", "r"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got.astype("int64"), want.astype("int64"), check_like=True
        )


@pytest.mark.parametrize("slot,bad", [("h", -1), ("t", N_ENT), ("r", -1), ("r", N_REL)])
def test_out_of_range_test_id_raises(spark, slot, bad):
    """A test id outside the embedding tables fails loudly, naming the id
    and the table size, on the entity and the relation ranks alike: NumPy
    would read -1 as the last row and fail on |E| with a bare
    IndexError."""
    from kgforge.evaluate import relation_prediction_ranks

    test = SPLIT["test2id"].head(3).copy()
    test.loc[1, slot] = bad
    size = f"|R| = {N_REL}" if slot == "r" else f"|E| = {N_ENT}"
    tdf = spark.createDataFrame(test)
    for rank in (link_prediction_ranks, relation_prediction_ranks):
        with pytest.raises(Exception, match=rf"ValueError: test triple {slot} id {bad} .*{re.escape(size)}"):
            rank(spark, tdf, EMB, KNOWN).collect()


@pytest.mark.parametrize("slot,bad", [("h", -1), ("t", N_ENT), ("r", -1), ("r", N_REL)])
def test_out_of_range_known_id_raises(spark, slot, bad):
    """A known id outside the embedding tables fails on the driver, before
    any job, naming the id and the table size, on the entity and the
    relation ranks alike. The row is a copy of a test triple that entity
    |E|-1 outranks on the head side, so reading ``-1`` as |E|-1 would
    have filtered it and moved the filtered head rank."""
    from kgforge.evaluate import relation_prediction_ranks

    test = SPLIT["test2id"]
    h, t, r = (test[c].to_numpy() for c in ("h", "t", "r"))
    last = kernels.score_batch("transe", EMB, np.full_like(h, N_ENT - 1), r, t)
    row = test[last < kernels.score_batch("transe", EMB, h, r, t)].head(1)
    assert len(row) == 1
    known = pd.concat([KNOWN, row.assign(**{slot: bad})], ignore_index=True)
    size = f"|R| = {N_REL}" if slot == "r" else f"|E| = {N_ENT}"
    tdf = spark.createDataFrame(row)
    # a DataFrame known set is cut to the rows that share a test triple's
    # fixed slots, so the bad row reaches the driver when its bad id sits
    # in the slot the call varies
    kdf = spark.createDataFrame(known)
    for rank, varied in ((link_prediction_ranks, "ht"), (relation_prediction_ranks, "r")):
        for k in (known, kdf) if slot in varied else (known,):
            with pytest.raises(ValueError, match=rf"known triple {slot} id {bad} .*{re.escape(size)}"):
                rank(spark, tdf, EMB, k)


@pytest.mark.parametrize(
    "models,sides",
    [
        *[
            pytest.param((m,), None, id=m)
            for m in [
                "transe", "transh", "transr", "transd", "distmult", "complex",
                "rotate", "simple", "rescal", "analogy", "hole",
            ]
        ],
        pytest.param(("transe",), "both", id="transe-constrained"),
        pytest.param(("transe",), "domain", id="transe-domain-only"),
        pytest.param(("transe", "distmult"), "both", id="multi-constrained"),
    ],
)
def test_ranks_match_oracle(spark, models, sides):
    test = SPLIT["test2id"].head(15)
    tdf = spark.createDataFrame(test)
    constraints = None if sides is None else (DOMAINS, RANGES if sides == "both" else None)
    if len(models) == 1:
        got = {
            models[0]: link_prediction_ranks(
                spark, tdf, EMB, KNOWN, model=models[0], norm=1, constraints=constraints
            ).toPandas()
        }
    else:
        multi = link_prediction_ranks_multi(
            spark, tdf, EMB, KNOWN, [(m, None) for m in models], constraints=constraints
        ).toPandas()
        assert sorted(multi["model"].unique()) == sorted(models)
        got = {m: g.drop(columns="model") for m, g in multi.groupby("model")}
    key = ["h", "t", "r"]
    for m in models:
        want = _oracle_ranks(test, model=m, constraints=constraints)
        pd.testing.assert_frame_equal(
            got[m].sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
            check_dtype=False,
        )


def _numpy_filtered_ranks(ent, rel, test, known_set):
    """Per-triple TransE-L1 raw + filtered ranks in plain NumPy:
    1 + candidates scoring strictly lower, known-true ones skipped for
    the filtered rank."""
    def rank(scores, true_e, is_known):
        better = np.flatnonzero(scores < scores[true_e])
        return 1 + len(better), 1 + sum(1 for e in better if not is_known(int(e)))

    rows = []
    for h, t, r in test[["h", "t", "r"]].itertuples(index=False, name=None):
        head = np.abs(ent + rel[r] - ent[t]).sum(axis=1)
        tail = np.abs(ent[h] + rel[r] - ent).sum(axis=1)
        rows.append((
            h, t, r,
            *rank(head, h, lambda e: (e, t, r) in known_set),
            *rank(tail, t, lambda e: (h, e, r) in known_set),
        ))
    return pd.DataFrame(rows, columns=["h", "t", "r", *RANK_COLS])


@pytest.mark.parametrize("with_known", [True, False], ids=["known", "known-none"])
def test_ranks_across_chunk_boundaries(spark, with_known):
    """|E| = 60k at d = 8 holds the scoring chunk to 4 test triples, so
    the 15 triples of one Arrow batch score as chunks of 4, 4, 4 and 3.
    Ranks must equal a per-triple NumPy recomputation. The known set
    hits the filter for the first 8 triples (each with 40 other known
    heads and tails, about half scoring below the true entity) and
    misses for the rest; ``known=None`` ranks raw-only (filtered ==
    raw)."""
    n_ent, n_rel = 60_000, 5
    emb = gen_embeddings(n_ent=n_ent, n_rel=n_rel, dim=8)
    rng = np.random.default_rng(11)
    test = pd.DataFrame({
        "h": rng.integers(0, n_ent, 15),
        "t": rng.integers(0, n_ent, 15),
        "r": rng.integers(0, n_rel, 15),
    })
    known = None
    if with_known:
        parts = []
        for h, t, r in test.head(8).itertuples(index=False, name=None):
            others = rng.integers(0, n_ent, 40)
            parts += [
                pd.DataFrame({"h": [h], "t": [t], "r": [r]}),
                pd.DataFrame({"h": others, "t": t, "r": r}),
                pd.DataFrame({"h": h, "t": others, "r": r}),
            ]
        known = pd.concat(parts, ignore_index=True)
    known_set = set() if known is None else set(known.itertuples(index=False, name=None))

    got = link_prediction_ranks(spark, spark.createDataFrame(test).coalesce(1), emb, known).toPandas()
    want = _numpy_filtered_ranks(
        emb["ent"].astype(np.float64), emb["rel"].astype(np.float64), test, known_set
    )
    key = ["h", "t", "r"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
    moved = (got["rank_head_filt"] < got["rank_head_raw"]) | (got["rank_tail_filt"] < got["rank_tail_raw"])
    assert moved.any() == with_known


def test_metrics_match_manual(spark):
    test = SPLIT["test2id"].head(20)
    ranks = link_prediction_ranks(spark, spark.createDataFrame(test), EMB, KNOWN)
    m = link_prediction_metrics(ranks).toPandas().iloc[0]
    rp = ranks.toPandas()
    allr = np.concatenate([rp["rank_head_raw"], rp["rank_tail_raw"]]).astype(float)
    allf = np.concatenate([rp["rank_head_filt"], rp["rank_tail_filt"]]).astype(float)
    assert m["mr_raw"] == pytest.approx(allr.mean())
    assert m["mrr_raw"] == pytest.approx((1 / allr).mean())
    assert m["hits10_filt"] == pytest.approx((allf <= 10).mean())
    # filtered ranks never exceed raw ranks
    assert (rp["rank_head_filt"] <= rp["rank_head_raw"]).all()
    assert (rp["rank_tail_filt"] <= rp["rank_tail_raw"]).all()


def test_metrics_independent_of_partitioning(spark):
    """MRR sums reciprocal ranks: summed in double, the result depends on
    the order the partitions' partial sums merge in. The metrics of one
    ranks table must be bit-identical however it is partitioned."""
    rng = np.random.default_rng(3)
    ranks = spark.createDataFrame(
        pd.DataFrame({
            "h": np.arange(40), "t": np.arange(40), "r": np.zeros(40, np.int64),
            **{c: rng.integers(1, 200, 40) for c in RANK_COLS},
        })
    )
    got = [
        link_prediction_metrics(ranks.repartition(n)).collect()[0].asDict()
        for n in (1, 3, 7, 13)
    ]
    assert all(g == got[0] for g in got[1:]), got


def test_topk_matches_bruteforce(spark):
    q = SPLIT["test2id"].head(8)[["h", "r"]]
    got = top_k_completions(spark, spark.createDataFrame(q), EMB, k=5).toPandas()
    for (h, r), grp in got.groupby(["h", "r"]):
        s = kernels.score_batch(
            "transe", EMB,
            np.full(N_ENT, h), np.full(N_ENT, r), np.arange(N_ENT), 1,
        )
        want = np.argsort(s, kind="stable")[:5]
        assert list(grp.sort_values("rk")["candidate"]) == list(want)



@pytest.mark.parametrize("mode", ["tail", "head"])
def test_topk_blocks_equal_flat_per_query_scoring(spark, mode):
    """|E| = 60k at d = 8 holds the scoring block to 4 queries, so the 15
    queries of one Arrow batch score as blocks of 4, 4, 4 and 3. Each
    query's candidates and scores must equal a flat per-query
    ``score_batch`` over its candidate set, bit for bit, with and
    without type constraints; the constrained relations list their
    candidates unsorted, and relations 3..4 stay unconstrained."""
    n_ent, n_rel, k = 60_000, 5, 7
    emb = gen_embeddings(n_ent=n_ent, n_rel=n_rel, dim=8)
    rng = np.random.default_rng(5)
    fix = "h" if mode == "tail" else "t"
    q = pd.DataFrame({fix: rng.permutation(n_ent)[:15], "r": rng.integers(0, n_rel, 15)})
    allowed = {r: rng.permutation(n_ent)[:500] for r in range(3)}
    for constraints in (None, (allowed, allowed)):
        got = top_k_completions(
            spark, spark.createDataFrame(q).coalesce(1), emb, k=k, mode=mode,
            constraints=constraints,
        ).toPandas()
        assert len(got) == 15 * k
        for a, r in q.itertuples(index=False):
            cand = np.arange(n_ent)
            if constraints is not None and r in allowed:
                cand = allowed[r]
            fixed, rel = np.full(len(cand), a), np.full(len(cand), r)
            s = (
                kernels.score_batch("transe", emb, fixed, rel, cand)
                if mode == "tail"
                else kernels.score_batch("transe", emb, cand, rel, fixed)
            )
            order = np.argsort(s, kind="stable")[:k]
            row = got[(got[fix] == a) & (got["r"] == r)].sort_values("rk")
            assert row["candidate"].tolist() == cand[order].tolist()
            assert row["score"].to_numpy().tobytes() == s[order].tobytes()


@pytest.mark.parametrize("slot,bad", [("h", -1), ("t", N_ENT), ("r", -1), ("r", N_REL)])
def test_out_of_range_query_and_scored_ids_raise(spark, slot, bad):
    """Top-k queries and scored triples range-check their ids as the rank
    paths do: NumPy would read -1 as the last entity (relation) and
    score it silently."""
    from kgforge.evaluate import score_triples

    test = SPLIT["test2id"].head(3).copy()
    test.loc[1, slot] = bad
    size = f"|R| = {N_REL}" if slot == "r" else f"|E| = {N_ENT}"
    tdf = spark.createDataFrame(test)
    with pytest.raises(Exception, match=rf"ValueError: scored triple {slot} id {bad} .*{re.escape(size)}"):
        score_triples(spark, tdf, EMB).collect()
    for mode, fix in (("tail", "h"), ("head", "t")):
        if slot in (fix, "r"):
            with pytest.raises(Exception, match=rf"ValueError: query triple {slot} id {bad} .*{re.escape(size)}"):
                top_k_completions(spark, tdf, EMB, k=3, mode=mode).collect()

KERNEL_CASES = [
    ("transe", 1, None),
    ("transe", 2, 6),
    ("transh", 1, 6),
    ("transh", 2, 6),
    ("transd", 1, 6),
    ("transd", 2, 6),
    ("transr", 1, 6),
    ("transr", 2, 6),
    ("distmult", 1, 6),
    ("complex", 1, 6),
    ("rescal", 1, 6),
    ("hole", 1, 6),
    ("rotate", 1, 6),
    ("simple", 1, 6),
    ("analogy", 1, 6),
]


def _sorted(df) -> pd.DataFrame:
    return df.toPandas().sort_values(["h", "t", "r"]).reset_index(drop=True)


@pytest.mark.parametrize("model,norm,dec", KERNEL_CASES)
def test_blocked_ranks_equal_broadcast(spark, model, norm, dec):
    """Every kernel × norm (score_decimals as the contract queries pass
    it) ranks the same with the known set as a Spark DataFrame — the form
    the B12 gate passes, cut to the test triples' fixed slots before it
    is collected — as with the known set as pandas."""
    test = spark.createDataFrame(SPLIT["test2id"].head(12))
    known_df = spark.createDataFrame(KNOWN[["h", "t", "r"]])
    a = _sorted(link_prediction_ranks(spark, test, EMB, KNOWN, model=model, norm=norm, score_decimals=dec))
    b = _sorted(link_prediction_ranks(spark, test, EMB, known_df, model=model, norm=norm, score_decimals=dec))
    pd.testing.assert_frame_equal(a, b)


def test_blocked_category_metrics_equal_broadcast(spark):
    """The 1-1/1-N/N-1/N-N breakdown agrees between the known set as
    pandas and as a DataFrame — the category composition does not care
    where the filter came from."""
    from kgforge.evaluate import link_prediction_metrics_by_category, relation_categories

    test = spark.createDataFrame(SPLIT["test2id"].head(12))
    cats = relation_categories(spark.createDataFrame(SPLIT["train2id"]))
    a, b = (
        link_prediction_metrics_by_category(link_prediction_ranks(spark, test, EMB, known), cats)
        .toPandas().sort_values("category").reset_index(drop=True)
        for known in (KNOWN, spark.createDataFrame(KNOWN[["h", "t", "r"]]))
    )
    pd.testing.assert_frame_equal(a, b)


def test_blocked_ranks_from_parquet_checkpoint(spark, tmp_path):
    """A20 + eval end to end: the embeddings come back from a Parquet
    checkpoint and the known set enters as a Parquet-backed DataFrame;
    the ranks equal those from the in-memory embeddings and the pandas
    known set, for TransE and for TransR (whose checkpoint stores the
    matrices flat and reads them back reshaped)."""
    from kgforge.io_openke import read_embeddings_parquet, write_embeddings_parquet

    d = str(tmp_path / "ckpt")
    write_embeddings_parquet(spark, EMB, d)
    KNOWN[["h", "t", "r"]].to_parquet(str(tmp_path / "known.parquet"))
    known_df = spark.read.parquet(str(tmp_path / "known.parquet"))
    test = spark.createDataFrame(SPLIT["test2id"].head(12))
    back = read_embeddings_parquet(d)
    for model, dec in (("transe", None), ("transr", 6)):
        a = _sorted(link_prediction_ranks(spark, test, EMB, KNOWN, model=model, score_decimals=dec))
        b = _sorted(link_prediction_ranks(spark, test, back, known_df, model=model, score_decimals=dec))
        pd.testing.assert_frame_equal(a, b)


def test_blocked_ranks_partition_independent(spark):
    """The ranks must not depend on how the test triples and the known
    DataFrame are partitioned or cut into Arrow batches: test and known
    at one partition, at seven, and at one partition cut into 4-row
    Arrow batches all equal the pandas-known ranks."""
    test = spark.createDataFrame(SPLIT["test2id"].head(15))
    known_df = spark.createDataFrame(KNOWN[["h", "t", "r"]])

    def ranks(n_parts):
        return _sorted(link_prediction_ranks(
            spark, test.repartition(n_parts), EMB, known_df.repartition(n_parts)
        ))

    one = ranks(1)
    pd.testing.assert_frame_equal(one, ranks(7))
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "4")
    try:
        pd.testing.assert_frame_equal(one, ranks(1))
    finally:
        spark.conf.set(batch_conf, old)
    pd.testing.assert_frame_equal(one, _sorted(link_prediction_ranks(spark, test, EMB, KNOWN)))


def test_score_components_are_what_score_batch_reads():
    """kernels.SCORE_COMPONENTS lists exactly the components score_batch
    reads per model: the listed ones suffice, and each one is needed."""
    ids = np.arange(2)
    for model, keys in kernels.SCORE_COMPONENTS.items():
        kernels.score_batch(model, {k: EMB[k] for k in keys}, ids, ids, ids)
        for k in keys:
            with pytest.raises(KeyError):
                kernels.score_batch(model, {x: EMB[x] for x in keys if x != k}, ids, ids, ids)


def test_blocked_ranks_ship_only_scored_components(spark, tmp_path, monkeypatch):
    """Given a full checkpoint (every model's components), the rank path
    broadcasts only what the models score with: ``ent`` and ``rel`` for
    TransE, plus ``ent_im`` and ``rel_im`` when ComplEx rides the same
    call; the ranks equal those from those components alone."""
    from kgforge import evaluate as ev
    from kgforge.io_openke import read_embeddings_parquet, write_embeddings_parquet

    d = str(tmp_path / "ckpt")
    write_embeddings_parquet(spark, EMB, d)
    full = read_embeddings_parquet(d)
    shipped = []
    pin = ev.pin_broadcast

    def spy(spark_, value):
        if isinstance(value, dict):
            shipped.append(sorted(value))
        return pin(spark_, value)

    monkeypatch.setattr(ev, "pin_broadcast", spy)
    test = spark.createDataFrame(SPLIT["test2id"].head(12))
    known_df = spark.createDataFrame(KNOWN[["h", "t", "r"]])

    def ranks(emb, models):
        return _sorted(ev.link_prediction_ranks_multi(spark, test, emb, known_df, models))

    got = ranks(full, [("transe", None)])
    assert shipped == [["ent", "rel"]]
    pd.testing.assert_frame_equal(got, ranks({k: full[k] for k in ("ent", "rel")}, [("transe", None)]))
    shipped.clear()
    ranks(full, [("transe", None), ("complex", 6)])
    assert shipped == [["ent", "ent_im", "rel", "rel_im"]]


def test_embedding_checkpoint_roundtrip(spark, tmp_path):
    """A20: save → load → bit-identical float32 parameters, all
    components (incl. the reshaped TransR matrices), and identical
    downstream scores."""
    from kgforge.evaluate import score_triples
    from kgforge.io_openke import read_embeddings_parquet, write_embeddings_parquet

    d = str(tmp_path / "ckpt")
    write_embeddings_parquet(spark, EMB, d)
    back = read_embeddings_parquet(d)
    assert set(back) == set(EMB)
    for k in EMB:
        np.testing.assert_array_equal(back[k], EMB[k].astype("float32"))
    test = spark.createDataFrame(SPLIT["test2id"].head(10))
    s0 = score_triples(spark, test, EMB, model="transr").toPandas().sort_values(["h", "t", "r"])
    s1 = score_triples(spark, test, back, model="transr").toPandas().sort_values(["h", "t", "r"])
    np.testing.assert_array_equal(s0["score"].to_numpy(), s1["score"].to_numpy())


def test_triple_classification_reasonable(spark):
    rng = np.random.default_rng(3)

    def scored(df):
        pos = df.copy()
        pos["y"] = 1
        neg = df.copy()
        neg["h"] = rng.integers(0, N_ENT, len(df))
        neg["y"] = -1
        both = pd.concat([pos, neg], ignore_index=True)
        s = kernels.score_batch(
            "transe", EMB,
            both["h"].to_numpy(), both["r"].to_numpy(), both["t"].to_numpy(), 1,
        )
        both["score"] = s.astype(float)
        return both

    sv = spark.createDataFrame(scored(SPLIT["valid2id"]))
    st = spark.createDataFrame(scored(SPLIT["test2id"]))
    thresholds, acc = triple_classification(sv, st)
    assert thresholds.count() <= N_REL
    assert 0.0 <= acc <= 1.0
    # with random embeddings accuracy hovers near chance; just sanity-band it
    assert acc >= 0.3


def test_blocked_constrained_equals_broadcast_constrained(spark):
    """Type-constrained ranks with the known set as a DataFrame equal
    those with the known set as pandas (incl. relations ABSENT from the
    constraint maps staying unconstrained). Lists from the known set
    contain every known candidate; the train-only DOMAINS/RANGES leave
    some known candidates outside, which the filtered rank must not
    subtract."""
    # constraints for relations 0..2 only; 3..4 unconstrained on purpose
    domains = {
        int(r): np.unique(g["h"].to_numpy())
        for r, g in KNOWN.groupby("r") if int(r) < 3
    }
    ranges = {
        int(r): np.unique(g["t"].to_numpy())
        for r, g in KNOWN.groupby("r") if int(r) < 3
    }
    test = spark.createDataFrame(SPLIT["test2id"].head(15))
    known_df = spark.createDataFrame(KNOWN[["h", "t", "r"]])
    for constraints in ((domains, ranges), (DOMAINS, RANGES)):
        a = _sorted(link_prediction_ranks(spark, test, EMB, KNOWN, constraints=constraints))
        b = _sorted(link_prediction_ranks(spark, test, EMB, known_df, constraints=constraints))
        pd.testing.assert_frame_equal(a, b)


def test_kernel_leaderboard_consistent_with_individual_metrics(spark):
    """a17_kernel_leaderboard must agree with the standalone metric
    query kernel-by-kernel: the transe row (unrounded scores, same as
    a17_link_prediction_metrics) is pinned exactly, every oracle-backed
    kernel appears exactly once, and the filtered protocol dominates the
    raw protocol on every row (filtering can only remove competitors
    ranked above the gold candidate)."""
    import __spark_entry__ as em

    qs = em.queries()
    lb = qs["a17_kernel_leaderboard"](spark, "fixtures/sf0.01").toPandas()
    assert list(lb["model"]) == [
        "transe", "transh", "distmult", "complex", "rotate", "analogy", "hole"
    ]
    single = qs["a17_link_prediction_metrics"](spark, "fixtures/sf0.01").toPandas()
    transe_row = (
        lb[lb["model"] == "transe"].drop(columns=["model"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(transe_row, single, check_dtype=False)
    assert (lb["mrr_filt"] >= lb["mrr_raw"] - 1e-12).all()
    assert (lb["mr_filt"] <= lb["mr_raw"] + 1e-12).all()
    for k in (1, 3, 10):
        assert (lb[f"hits{k}_filt"] >= lb[f"hits{k}_raw"] - 1e-12).all()
