"""B7 MinHash-LSH + B8 connected components.

CC oracle: union-find in pure Python (independent implementation).
LSH gate: alias groups from the fixture gazetteer must be recovered
(recall on true alias pairs; precision via the exact-Jaccard verify).
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kgforge.fixtures import gazetteer
from kgforge.sampling import splitmix64
from kgforge.stages.canonicalize import (
    alias_pairs,
    alias_pairs_local,
    band_pairs,
    char_shingles,
    connected_components,
    hash_shingle,
    minhash_from_hashes,
    minhash_lsh_batch,
    minhash_lsh_pairs,
    normalize_names,
    shingle_hashes,
    shingle_sets,
    verify_jaccard,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    edges = [
        ("a", "b"), ("b", "c"), ("d", "e"), ("f", "f2"), ("e", "g"), ("x", "y"),
        ("c", "a"),  # cycle
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = _union_find(edges)
    assert got == want


def test_cc_long_chain_converges(spark):
    # diameter 40 > the default max_iter=25 rounds of plain hash-min; the
    # hook + jump round needs about log n rounds on a chain
    n = 40
    edges = [(i, i + 1) for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
    got = connected_components(df).toPandas()
    assert (got["component"] == 0).all()


def test_cc_matches_union_find_and_scales_deep_graphs(spark):
    """connected_components equals the union-find oracle on a cycle,
    stars, a random graph, a self-loop-only node and two deep paths whose
    node ids are out of order along the path (0-39-38-…-1, where a jump
    without the hook moves label 0 one hop per round, and a randomly
    permuted 199-node chain), each under the default round budget; the
    in-order 199-node chain converges in at most 10 rounds; a budget too
    small must fail LOUDLY, never return wrong labels."""
    perm = [int(v) for v in np.random.default_rng(5).permutation(199)]
    cases = {
        "cycle": [(i, (i + 1) % 50) for i in range(50)],
        "stars": [(0, i) for i in range(1, 20)] + [(100, 100 + i) for i in range(1, 5)],
        "self_loop": [(1, 2), (2, 3), (7, 7)],
        "path_0_39_down": [(0, 39)] + [(i, i - 1) for i in range(39, 1, -1)],
        "permuted_chain": list(zip(perm, perm[1:])),
    }
    rng = np.random.default_rng(3)
    cases["random"] = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, 300, 400), rng.integers(0, 300, 400))
        if a != b
    ]
    for name, edges in cases.items():
        df = spark.createDataFrame(pd.DataFrame(edges, columns=["a", "b"]))
        stats: dict = {}
        got = {r["node"]: r["component"] for r in connected_components(df, stats=stats).collect()}
        assert got == _union_find(edges), name
        assert stats["rounds"] <= 10, (name, stats)

    chain = pd.DataFrame([(i, i + 1) for i in range(199)], columns=["a", "b"])
    df = spark.createDataFrame(chain)
    stats: dict = {}
    got = connected_components(df, stats=stats).toPandas()
    assert len(got) == 200 and (got["component"] == 0).all()
    assert stats["rounds"] <= 10, stats
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=3)


def test_minhash_recovers_alias_groups(spark):
    gaz = gazetteer()
    names = spark.createDataFrame(gaz[["surface"]].rename(columns={"surface": "name"}))
    pairs = alias_pairs(names, threshold=0.5).toPandas()
    got_pairs = set(map(tuple, pairs[["a", "b"]].itertuples(index=False)))

    # golden alias pairs: same canonical entity
    want = set()
    for _, grp in gaz.groupby("canonical"):
        ss = sorted(grp["surface"])
        for i in range(len(ss)):
            for j in range(i + 1, len(ss)):
                want.add((ss[i], ss[j]))
    tp = len(got_pairs & want)
    recall = tp / len(want)
    precision = tp / len(got_pairs) if got_pairs else 0.0
    # alias variants are case/punct tweaks -> near-identical shingle sets
    assert recall >= 0.95, f"recall {recall}"
    assert precision >= 0.90, f"precision {precision} (cross-entity near-dups allowed)"


def test_canonical_groups_merge_aliases(spark):
    gaz = gazetteer()
    names = spark.createDataFrame(gaz[["surface"]].rename(columns={"surface": "name"}))
    # B7 + B8: verified alias pairs → components; singletons keep themselves
    cc = connected_components(alias_pairs(names, threshold=0.5).select("a", "b"))
    groups = (
        names.select("name").distinct()
        .join(cc.withColumnRenamed("node", "name"), "name", "left")
        .withColumn("component", F.coalesce("component", "name"))
        .toPandas()
    )
    by_comp = groups.groupby("component")["name"].apply(set)
    # each fixture alias group should land in one component
    merged = 0
    total = 0
    for canon, grp in gaz.groupby("canonical"):
        total += 1
        comps = {groups.set_index("name").loc[s, "component"] for s in grp["surface"]}
        if len(comps) == 1:
            merged += 1
    assert merged / total >= 0.95, f"only {merged}/{total} alias groups merged"
    assert len(by_comp) > 1


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.text(alphabet="abcAB09_ -.éß中Ж", max_size=12), max_size=25),
    st.sampled_from([3, 5]),
)
# windows past the 262144-window row-chunk cap: the two long strings land
# in separate chunks and must scatter back to their own rows
@example(["abcdefghij" * 14_000, "ab", "qrstuvwxyz" * 15_000, "xyz12", "zé"], 3)
def test_minhash_and_shingle_sets_match_scalar_recipe(strings, k):
    """The NumPy hashing split (ASCII windows, short whole-string
    shingles, non-ASCII scalar fallback) is bit-identical to FNV-1a
    ``hash_shingle`` over each string's shingle set: signatures equal
    ``min(splitmix64(h ^ perm_const)) >> 1``, the verify sets equal
    ``np.unique`` of the hashes, and each band's bucket key equals the
    scalar fold ``h = splitmix64(h ^ v)`` over its signature slice —
    including empty, shorter-than-k and non-ASCII strings."""
    n_perm, n_bands, seed = 16, 4, 42
    rpb = n_perm // n_bands
    pc = splitmix64(np.arange(n_perm, dtype=np.uint64) + np.uint64(seed))
    grouped = shingle_hashes(strings, k, seed)
    sigs = minhash_from_hashes(grouped, len(strings), n_perm, seed)
    sets = shingle_sets(grouped, len(strings))
    keys, batch_sets = minhash_lsh_batch(strings, k, n_perm, n_bands, seed)
    assert sigs.shape == (len(strings), n_perm) and len(sets) == len(strings)
    assert keys.shape == (len(strings), n_bands) and keys.dtype == np.int64
    for s, sig, got, key, got_b in zip(strings, sigs, sets, keys, batch_sets):
        sh = {s[j:j + k] for j in range(max(1, len(s) - k + 1))}
        base = np.array([hash_shingle(x, seed) for x in sh], dtype=np.uint64)
        want = (splitmix64(base[:, None] ^ pc[None, :]).min(axis=0) >> np.uint64(1)).astype(np.int64)
        assert np.array_equal(sig, want), s
        want_set = np.unique(base.astype(np.int64))
        assert got.dtype == np.int64 and np.array_equal(got, want_set), s
        assert np.array_equal(got_b, want_set), s
        for band in range(n_bands):
            h = np.zeros(1, dtype=np.uint64)
            for v in want[band * rpb:(band + 1) * rpb]:
                h = splitmix64(h ^ np.uint64(v))
            assert key[band] == h.view(np.int64)[0], (s, band)


def test_exact_jaccard_filter_equals_string_set_jaccard(spark):
    """The name verify (size prefilter + hashed array_intersect in
    :func:`verify_jaccard`) keeps exactly the gazetteer surface pairs
    whose string-set char-3 Jaccard is >= 0.3, with the same doubles."""
    surf = sorted(set(gazetteer()["surface"]))
    sh = dict(zip(surf, char_shingles(pd.Series(surf), 3)))
    want = {}
    for i, a in enumerate(surf):
        for b in surf[i + 1:]:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if j >= 0.3:
                want[(a, b)] = j
    sets = shingle_sets(shingle_hashes(normalize_names(pd.Series(surf)).tolist(), 3, 42), len(surf))
    names = spark.createDataFrame(
        pd.DataFrame({"n": surf, "s": [x.tolist() for x in sets]}), "n string, s array<long>"
    )
    pairs = (
        names.select(F.col("n").alias("a"), F.col("s").alias("_sa"))
        .crossJoin(names.select(F.col("n").alias("b"), F.col("s").alias("_sb")))
        .where(F.col("a") < F.col("b"))
    )
    got = {(a, b): j for a, b, j in verify_jaccard(pairs, threshold=0.3).collect()}
    assert want and got.keys() == want.keys()
    assert all(abs(got[p] - want[p]) < 1e-12 for p in want)


def test_band_split_must_divide_signature(spark):
    """A signature that the bands do not split evenly is refused on both
    paths instead of silently losing its tail."""
    with pytest.raises(ValueError, match="must divide"):
        minhash_lsh_batch(["acme"], 3, 30, 8, 42)
    with pytest.raises(ValueError, match="must divide"):
        alias_pairs_local(["acme", "acme corp"], n_perm=30, n_bands=8)
    names = spark.createDataFrame([("acme",), ("acme corp",)], "name string")
    with pytest.raises(ValueError, match="must divide"):
        alias_pairs(names, n_perm=30, n_bands=8)


def test_signatures_deterministic_across_partitioning(spark):
    """The chain's candidates do not depend on how the input is split
    into partitions and Arrow batches."""
    names = pd.DataFrame({"name": sorted(set(gazetteer()["surface"]))})

    def cands(df):
        pairs = minhash_lsh_pairs(df, "name", "name", 3, 32, 8, 50, 0.0).toPandas()
        return set(pairs.itertuples(index=False, name=None))

    one = cands(spark.createDataFrame(names).coalesce(1))
    assert one and cands(spark.createDataFrame(names).repartition(9)) == one


def test_asof_join_manual_case(spark):
    """As-of semantics on a hand-checked case: inclusive tie (right row
    at the SAME instant matches), carry-forward across later lefts,
    null before any right row, keys independent."""
    from kgforge.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 305), (1, 12, 300), (2, 20, 150)],
        "user_id long, event_id long, ts long",
    )
    right = spark.createDataFrame(
        [(1, 200, 9.0), (1, 300, 42.0), (2, 400, 7.0)],
        "user_id long, ts long, value double",
    )
    got = (
        asof_join(left, right, "user_id", "ts", ["value"])
        .toPandas().sort_values("event_id").reset_index(drop=True)
    )
    # event 10 @100: no purchase <= 100 -> null
    assert pd.isna(got.loc[0, "value_right"]) and pd.isna(got.loc[0, "ts_right"])
    # event 11 @305: latest right <= 305 is ts=300
    assert got.loc[1, "value_right"] == 42.0 and got.loc[1, "ts_right"] == 300
    # event 12 @300: INCLUSIVE tie matches ts=300
    assert got.loc[2, "value_right"] == 42.0 and got.loc[2, "ts_right"] == 300
    # key 2 independent: event 20 @150: no right <= 150 for user 2 (400 > 150)
    assert pd.isna(got.loc[3, "value_right"])


def test_asof_join_null_in_matched_row(spark):
    """DuckDB ASOF parity: when the MATCHED right row carries a null
    value column, the output keeps that null — it must not mix in the
    value of an older right row (regression for the per-column
    carry-forward bug: struct-packed carry)."""
    from kgforge.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 400)], "user_id long, event_id long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 100, 9.0, "a"), (1, 300, None, "b")],
        "user_id long, ts long, value double, tag string",
    )
    got = asof_join(left, right, "user_id", "ts", ["value", "tag"]).toPandas()
    # matched row is ts=300 whose value is NULL; tag comes from the same row
    assert got.loc[0, "ts_right"] == 300
    assert pd.isna(got.loc[0, "value_right"])
    assert got.loc[0, "tag_right"] == "b"


def test_connected_components_empty_edges(spark):
    """Empty edge set converges immediately to an empty label table
    (the observe-fused convergence sum is NULL over an empty set —
    regression guard for the coalesce)."""
    empty = spark.createDataFrame([], "a string, b string")
    assert connected_components(empty).count() == 0


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized independent oracle: pandas merge_asof(direction=
    'backward') implements the same latest-at-or-before semantics —
    compare on random keyed event sets (unique (key, ts) on the right,
    nulls where no prior right row)."""
    import numpy as np

    from kgforge.joins import asof_join

    rng = np.random.default_rng(11)
    for trial in range(3):
        nl, nr = 120, 60
        left = pd.DataFrame(
            {
                "user_id": rng.integers(0, 8, nl),
                "event_id": np.arange(nl),
                "ts": rng.integers(0, 500, nl),
            }
        )
        right = (
            pd.DataFrame(
                {
                    "user_id": rng.integers(0, 8, nr),
                    "ts": rng.integers(0, 500, nr),
                    "value": rng.normal(size=nr).round(3),
                }
            )
            .drop_duplicates(["user_id", "ts"])
            .reset_index(drop=True)
        )
        got = (
            asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                "user_id", "ts", ["value"],
            )
            .toPandas()
            .sort_values("event_id")
            .reset_index(drop=True)
        )
        want = pd.merge_asof(
            left.sort_values("ts", kind="stable"),
            right.sort_values("ts", kind="stable"),
            on="ts", by="user_id", direction="backward",
        ).sort_values("event_id").reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["value_right"], want["value"], check_names=False
        )


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key with the
    same bucket count join with ZERO Exchange in the physical plan —
    the write-once-shuffle layout for repeatedly-joined fact tables."""
    from kgforge.joins import write_bucketed

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "bkt_a", "k", buckets=4)
    write_bucketed(b, "bkt_b", "k", buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 1000
        # same join WITHOUT bucketing does shuffle — the baseline
        jj = a.join(b, "k")
        plan2 = jj._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_driver_unionfind_equals_distributed_cc(spark):
    """The driver-side union-find must return EXACTLY the distributed
    hash-min labels (component = min member), including on string nodes,
    chains, self-loops and isolated pairs."""
    from kgforge.stages.canonicalize import unionfind_components

    edges = pd.DataFrame(
        {
            "a": ["b", "c", "x", "m", "n", "q"],
            "b": ["a", "b", "y", "n", "o", "q"],
        }
    )
    stats = {}
    dist = {
        (r["node"], r["component"])
        for r in connected_components(spark.createDataFrame(edges), stats=stats).collect()
    }
    fast = unionfind_components(edges)
    assert set(fast.itertuples(index=False, name=None)) == dist
    assert list(fast["node"]) == sorted(fast["node"]) and stats["rounds"] > 0


def test_driver_alias_pairs_equals_distributed(spark):
    """The driver-side B7 chain (alias_pairs_local) produces exactly the
    distributed chain's candidates (``threshold=0``) and verified pairs,
    with the same jaccard doubles — also where the ``max_bucket`` cap
    acts: 51 spellings of one normalized name fill one bucket in every
    band, so neither path pairs them. A None and a repeated name ride
    along."""
    same = [f"Zed{'-' * i}Corp" for i in range(1, 52)]
    surfaces = gazetteer()["surface"].tolist() + same + [None, "Acme Corp", "Acme Corp"]
    names = spark.createDataFrame(pd.DataFrame({"name": surfaces}), "name string")
    key = ["a", "b"]
    for threshold in (0.0, 0.5):
        dist = alias_pairs(names, threshold=threshold).toPandas()
        drv = alias_pairs_local(surfaces, threshold=threshold)
        dist = dist.sort_values(key).reset_index(drop=True)
        drv = drv.sort_values(key).reset_index(drop=True)
        assert len(drv) > 0
        assert not (drv["a"].isin(same) & drv["b"].isin(same)).any()
        pd.testing.assert_frame_equal(dist, drv, check_like=True)


def _banded(spark, buckets):
    """``(id, band, bucket)`` rows: ``buckets`` maps (band, bucket) to
    its ids."""
    rows = [(i, band, bucket) for (band, bucket), ids in buckets.items() for i in ids]
    return spark.createDataFrame(rows, "id long, band int, bucket long")


def _pairs(df):
    """The ``(a, b)`` rows, sorted, duplicates kept."""
    return sorted(map(tuple, df.toPandas()[["a", "b"]].itertuples(index=False)))


def _all_pairs(ids):
    return {(x, y) for x in ids for y in ids if x < y}


def test_band_pairs_max_bucket_cap(spark):
    """A bucket of exactly max_bucket ids yields all C(n, 2) pairs; one
    of max_bucket + 1 ids is dropped before pairing. Without a cap both
    pair, and a pair that shares two buckets comes out once."""
    at_cap, over_cap = [5, 1, 9, 3], [10, 14, 12, 11, 13]
    banded = _banded(spark, {(0, 7): at_cap, (1, 7): over_cap, (2, -4): [5, 1]})
    assert _pairs(band_pairs(banded, "id", max_bucket=4)) == sorted(_all_pairs(at_cap))
    assert _pairs(band_pairs(banded, "id")) == sorted(_all_pairs(at_cap) | _all_pairs(over_cap))


def test_band_pairs_struct_ids_pair_like_plain_ids(spark):
    """struct(id, payload) ids give the plain-id pairs: structs order by
    their first field, so least/greatest and the dedup follow ``id``."""
    buckets = {(0, 1): [4, 2, 8], (1, 1): [8, 3, 2], (1, 2): [6, 7], (2, 5): [1]}
    plain = band_pairs(_banded(spark, buckets), "id")
    # the payload descends as the id ascends, so ordering by it would flip pairs
    structs = _banded(spark, buckets).select(
        F.struct("id", (100 - F.col("id")).alias("p")).alias("id"), "band", "bucket"
    )
    got = band_pairs(structs, "id").select(
        F.col("a.id").alias("a"), F.col("b.id").alias("b"), F.col("a.p").alias("pa")
    )
    want = [(2, 3), (2, 4), (2, 8), (3, 8), (4, 8), (6, 7)]
    assert _pairs(plain) == want
    pdf = got.toPandas()
    assert sorted(map(tuple, pdf[["a", "b"]].itertuples(index=False))) == want
    assert (pdf["pa"] == 100 - pdf["a"]).all()


def test_band_pairs_empty_input(spark):
    empty = _banded(spark, {})
    assert band_pairs(empty, "id").count() == 0
    assert band_pairs(empty, "id", max_bucket=3).count() == 0
