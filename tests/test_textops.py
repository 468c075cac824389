"""Training-data ops: dedup family, lang-id, quality, tokens, simhash."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgforge import textops

DOCS = pd.DataFrame(
    {
        "doc_id": range(10),
        "text": [
            "The cat and the dog played in the garden.",
            "the cat and the dog  played in the garden.",   # near-exact (ws+case)
            "Le chat et le chien dans la maison est une merveille.",
            "Der Hund und die Katze ist mit einem Ball.",
            "El perro es una maravilla con los gatos para todos.",
            "Completely different text about spark pipelines and shuffles.",
            "The cat and the dog played in the yard.",       # near-dup of 0
            "xyzzy",                                          # low quality
            "The quick brown fox jumps over the lazy dog near the river bank.",
            "A b c!!! ??? ;;; ###",                           # punct heavy
        ],
    }
)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS)


def test_exact_dedup(spark, docs):
    got = textops.exact_dedup(docs).toPandas()
    # docs 0 and 1 collapse (normalized), survivor = min doc_id = 0
    grp = got[got["group_size"] == 2]
    assert len(grp) == 1 and grp.iloc[0]["doc_id"] == 0
    assert len(got) == 9


def test_token_counts_match_python(spark, docs):
    got = textops.token_counts(docs).toPandas().set_index("doc_id")
    import re

    for _, row in DOCS.iterrows():
        t = row["text"]
        assert got.loc[row["doc_id"], "n_tokens_ws"] == len(t.strip().split())
        assert got.loc[row["doc_id"], "n_tokens_bpe"] == len(re.findall(r"\w+|[^\w\s]", t))


def test_quality_scores(spark, docs):
    got = textops.quality_scores(docs).toPandas().set_index("doc_id")
    assert not got.loc[7, "quality_ok"]   # too short
    assert not got.loc[9, "quality_ok"]   # punct ratio too high
    assert got.loc[8, "quality_ok"]
    assert got.loc[0, "stopword_ratio"] > 0.2


def test_lang_id(spark, docs):
    got = textops.lang_id(docs).toPandas().set_index("doc_id")
    assert got.loc[0, "lang_pred"] == "en"
    assert got.loc[2, "lang_pred"] == "fr"
    assert got.loc[3, "lang_pred"] == "de"
    assert got.loc[4, "lang_pred"] == "es"
    assert got.loc[7, "lang_pred"] == "und"


def test_ngram_jaccard_pairs(spark, docs):
    got = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    pairs = set(map(tuple, got[["a", "b"]].itertuples(index=False)))
    assert (0, 1) in pairs  # near-exact
    assert (0, 6) in pairs  # one-word swap
    assert (0, 5) not in pairs


def test_ngram_jaccard_df_cap_exact_and_pruning(spark):
    """Stop-shingle corpus: every doc shares the same boilerplate prefix
    (a high-df shingle). The df cap prunes those shingles from pair
    generation — fewer candidates — while true near-dup pairs (which
    share low-df shingles too) survive with EXACT jaccard values."""
    boiler = "terms of service apply to"
    bodies = [
        f"unique{i} content{i} narrative{i} section{i} detail{i}" for i in range(30)
    ]
    texts = [f"{boiler} {b}" for b in bodies]
    texts.append(texts[0] + " extra")           # near-dup of doc 0
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    docs = spark.createDataFrame(pdf)
    uncapped = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.5).toPandas()
    capped = textops.ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=5).toPandas()
    key = ["a", "b"]
    pd.testing.assert_frame_equal(
        uncapped.sort_values(key).reset_index(drop=True),
        capped.sort_values(key).reset_index(drop=True),
    )
    assert (0, 30) in set(map(tuple, capped[key].itertuples(index=False)))
    stats = textops.ngram_df_capped_stats(docs, n=3, df_cap=5)
    assert stats["n_dropped"] > 0                      # the cap actually bit
    assert stats["pairs_capped"] < stats["pairs_uncapped"]


def test_simhash_neardup(spark, docs):
    sim = textops.simhash_docs(docs)
    pairs = textops.simhash_candidate_pairs(sim, max_hamming=10).toPandas()
    got = set(map(tuple, pairs[["a", "b"]].itertuples(index=False)))
    assert (0, 1) in got
    # different docs have large hamming distance
    sp = sim.toPandas().set_index("doc_id")["simhash"]
    ham = bin(int(sp.loc[0]) ^ int(sp.loc[5])).count("1")
    assert ham > 10


def test_simhash_bands_cover_all_63_bits(spark):
    """One flipped bit in each of the first three 16-bit bands leaves
    only the top band (bits 48-62) intact; the pair is at Hamming
    distance 3 < 4 bands, so the pigeonhole makes it a candidate."""
    far = (1 << 0) | (1 << 16) | (1 << 32)
    sim = spark.createDataFrame([(1, 0), (2, far)], "doc_id long, simhash long")
    got = textops.simhash_candidate_pairs(sim, max_hamming=64).toPandas()
    assert list(map(tuple, got[["a", "b", "hamming"]].itertuples(index=False))) == [(1, 2, 3)]
    # a flip in every band leaves none intact: not a candidate
    sim4 = spark.createDataFrame([(1, 0), (2, far | (1 << 48))], "doc_id long, simhash long")
    assert textops.simhash_candidate_pairs(sim4, max_hamming=64).count() == 0


def test_char_shingle_table_matches_string_sets(spark, docs):
    """Hashed shingle arrays must equal the string-set recipe exactly
    (same normalization, same FNV values) — so array_intersect Jaccard
    == set Jaccard."""
    from kgforge.stages.canonicalize import hash_shingle

    got = textops.char_shingle_table(docs, k=5).toPandas().set_index("doc_id")["shingles"]
    norm = DOCS["text"].str.lower().str.replace(r"[^\w]", "", regex=True)
    for doc_id, s in zip(DOCS["doc_id"], norm):
        sh = {s[j:j + 5] for j in range(max(1, len(s) - 4))}
        want = np.unique(
            np.array([hash_shingle(x, 42) for x in sh], dtype=np.uint64).astype(np.int64)
        )
        assert (np.sort(np.asarray(got.loc[doc_id])) == want).all(), doc_id


def test_exact_char_jaccard_pairs(spark, docs):
    """Brute-force exact pairs: near-exact dup (0,1) well above 0.5;
    jaccard values match the Python set computation."""
    from kgforge.stages.canonicalize import char_shingles

    got = textops.exact_char_jaccard_pairs(docs, k=5, threshold=0.3).toPandas()
    pairs = {(a, b): j for a, b, j in got.itertuples(index=False)}
    assert (0, 1) in pairs
    norm = DOCS["text"].str.lower().str.replace(r"\s+", " ", regex=True)
    sh = char_shingles(norm, 5)
    for (a, b), j in pairs.items():
        x, y = sh.iloc[a], sh.iloc[b]
        assert abs(j - len(x & y) / len(x | y)) < 1e-12


def test_minhash_neardup_docs(spark, docs):
    got = textops.minhash_neardup_docs(
        docs, n_perm=64, n_bands=16, threshold=0.6, shingle_k=5
    ).toPandas()
    pairs = set(map(tuple, got[["a", "b"]].itertuples(index=False)))
    assert (0, 1) in pairs
    assert all(j >= 0.6 for j in got["jaccard"])


def test_fingerprint_on_testdata(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fp = textops.fingerprint_docs(docs)
    assert fp.where(F.length("fingerprint") != 32).count() == 0
    assert fp.count() == docs.count()


def test_tfidf_top_terms_semantics(spark):
    """Smoothed idf: a term in every doc scores ln(1)=0+1 -> idf 1.0;
    rarer terms score higher; rank orders by tfidf desc then term."""
    from kgforge.textops import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "apple cherry"),
            (2, "apple durian durian durian"),
        ],
        "doc_id long, text string",
    )
    got = tfidf_top_terms(docs, k=2).toPandas().set_index(["doc_id", "term"])
    # 'apple' is in all 3 docs: idf = ln(4/4)+1 = 1.0
    assert got.loc[(0, "apple"), "idf"] == 1.0
    # 'durian' (1 doc, tf 3) must outrank 'apple' (idf 1, tf 1) in doc 2
    assert got.loc[(2, "durian"), "rk"] == 1
    assert got.loc[(2, "apple"), "rk"] == 2
    import math
    assert abs(got.loc[(2, "durian"), "idf"] - round(math.log(4 / 2) + 1, 6)) < 1e-9
    # per-doc top-k bound respected
    assert got.reset_index().groupby("doc_id").size().max() <= 2


def test_new_ops_partitioning_independent(spark):
    """Repo invariant: no operator's result may depend on partitioning.
    Check the round-3 additions (as-of join, tfidf, corpus filter)
    across different repartition layouts."""
    import numpy as np

    from kgforge.joins import asof_join
    from kgforge.textops import tfidf_top_terms, training_corpus_filter

    rng = np.random.default_rng(5)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(40),
                "text": [
                    " ".join(rng.choice(["the", "acme", "widget", "beta", "et", "la"], 8))
                    for _ in range(40)
                ],
            }
        )
    )
    for fn in (tfidf_top_terms, training_corpus_filter):
        a = fn(docs).toPandas()
        b = fn(docs.repartition(7)).toPandas()
        cols = list(a.columns)
        pd.testing.assert_frame_equal(
            a.sort_values(cols).reset_index(drop=True),
            b.sort_values(cols).reset_index(drop=True),
        )

    left = spark.createDataFrame(
        pd.DataFrame({"user_id": rng.integers(0, 4, 30), "event_id": range(30),
                      "ts": rng.integers(0, 100, 30)})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"user_id": rng.integers(0, 4, 15), "ts": rng.integers(0, 100, 15),
                      "value": rng.normal(size=15).round(3)})
        .drop_duplicates(["user_id", "ts"])
    )
    a = asof_join(left, right, "user_id", "ts", ["value"]).toPandas()
    b = asof_join(left.repartition(5), right.repartition(3), "user_id", "ts", ["value"]).toPandas()
    key = ["event_id"]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True)[sorted(a.columns)],
        b.sort_values(key).reset_index(drop=True)[sorted(b.columns)],
    )


def test_length_quantiles_approx_within_rank_bound(spark):
    """percentile_approx results must be actual column elements whose
    rank error vs the requested quantile is <= n/accuracy (+1 slack)."""
    import numpy as np

    from kgforge.textops import length_quantiles

    rng = np.random.default_rng(17)
    vals = rng.integers(0, 10_000, 5000).tolist()
    df = spark.createDataFrame([(v,) for v in vals], "n_chars long")
    probs = (0.25, 0.5, 0.75, 0.99)
    row = length_quantiles(df, probs=probs, exact=False, accuracy=1000).collect()[0]
    arr = np.sort(np.asarray(vals))
    n = len(arr)
    for p, col in zip(probs, ["q25", "q50", "q75", "q99"]):
        v = row[col]
        assert v in vals, f"{col}={v} not an element"
        n_lt = int((arr < v).sum())
        n_le = int((arr <= v).sum())
        target, tol = p * n, n / 1000 + 1
        assert n_lt <= target + tol and n_le >= target - tol, (col, v)


def test_stratified_sample_deterministic_and_partition_independent(spark):
    from kgforge.textops import _md5_threshold, stratified_sample

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    fr = {"en": 0.25, "de": 1.0}  # zh absent -> default_frac=0 drops it
    a = stratified_sample(df, fr).toPandas()
    b = stratified_sample(df.repartition(13), fr).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])
    by_lang = a.groupby("lang")["doc_id"].count().to_dict()
    assert by_lang.get("de") == 200          # frac 1.0 keeps all
    assert "zh" not in by_lang               # default 0 drops all
    n_en = by_lang.get("en", 0)
    assert 20 <= n_en <= 80, n_en            # ~50 of 200 at frac 0.25
    # threshold formatting: exact halves of the hex space; frac 1.0 is
    # the above-all-hex sentinel so keep-everything truly keeps everything
    assert _md5_threshold(0.5) == "8" + "0" * 31
    assert _md5_threshold(1.0) == "g"


def test_graphstats_match_pandas(spark):
    import numpy as np

    from kgforge.graphstats import degree_histogram, entity_degrees, top_hubs

    rng = np.random.default_rng(23)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 30, 300),
            "t": rng.integers(0, 30, 300),
            "r": rng.integers(0, 4, 300),
        }
    )
    df = spark.createDataFrame(tri)
    deg = entity_degrees(df).toPandas().set_index("e").sort_index()
    out_want = tri.groupby("h").size()
    in_want = tri.groupby("t").size()
    for e in deg.index:
        assert deg.loc[e, "out_degree"] == out_want.get(e, 0)
        assert deg.loc[e, "in_degree"] == in_want.get(e, 0)
        assert deg.loc[e, "degree"] == out_want.get(e, 0) + in_want.get(e, 0)
    hist = degree_histogram(df).toPandas()
    assert hist["n_entities"].sum() == len(deg)
    hubs = top_hubs(df, k=5).toPandas()
    assert list(hubs["degree"]) == sorted(deg["degree"], reverse=True)[:5]


def test_triangle_count_matches_bruteforce(spark):
    import itertools

    import numpy as np

    from kgforge.graphstats import triangle_count

    rng = np.random.default_rng(31)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 25, 250),
            "t": rng.integers(0, 25, 250),
            "r": rng.integers(0, 3, 250),
        }
    )
    got = triangle_count(spark.createDataFrame(tri)).collect()[0]["n_triangles"]
    edges = set()
    for h, t in tri[["h", "t"]].itertuples(index=False):
        if h != t:
            edges.add((min(h, t), max(h, t)))
    nodes = sorted({v for e in edges for v in e})
    want = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in edges and (a, c) in edges and (b, c) in edges
    )
    assert got == want and want > 0


def test_k_hop_neighbors_matches_bfs(spark):
    import numpy as np

    from kgforge.graphstats import k_hop_neighbors

    rng = np.random.default_rng(37)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 40, 120),
            "t": rng.integers(0, 40, 120),
            "r": 0,
        }
    )
    adj: dict[int, set[int]] = {}
    for h, t in tri[["h", "t"]].itertuples(index=False):
        if h != t:
            adj.setdefault(h, set()).add(t)
            adj.setdefault(t, set()).add(h)
    seeds = [0, 1, 2]
    got = (
        k_hop_neighbors(
            spark.createDataFrame(tri),
            spark.createDataFrame([(s,) for s in seeds], "seed long"),
            k=2,
        )
        .toPandas()
        .set_index(["seed", "e"])["min_hops"]
        .to_dict()
    )
    want = {}
    for s in seeds:
        h1 = adj.get(s, set())
        h2 = {v for u in h1 for v in adj.get(u, set())}
        for e in h1:
            if e != s:
                want[(s, e)] = 1
        for e in h2 - h1:
            if e != s:
                want[(s, e)] = 2
    assert got == want


def test_pagerank_matches_numpy_power_iteration(spark):
    """Spark PageRank == dense NumPy power method with the SAME
    per-iteration rounding — exact equality, not allclose: the rounding
    contract is what makes the operator engine- and partitioning-
    independent, so the test pins it."""
    import numpy as np

    from kgforge.graphstats import pagerank

    rng = np.random.default_rng(41)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 30, 150),
            "t": rng.integers(0, 30, 150),
            "r": rng.integers(0, 3, 150),
        }
    )
    n_iter, d = 10, 0.85
    got = (
        pagerank(spark.createDataFrame(tri), n_iter=n_iter, damping=d)
        .toPandas()
        .set_index("e")["rank"]
        .to_dict()
    )
    edges = sorted({(h, t) for h, t in tri[["h", "t"]].itertuples(index=False) if h != t})
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for h, t in edges:
        a[idx[t], idx[h]] = 1.0
    od = a.sum(axis=0)
    r = np.round(np.full(n, 1.0 / n), 9)
    for _ in range(n_iter):
        with np.errstate(divide="ignore", invalid="ignore"):
            contrib = a @ np.where(od > 0, r / np.where(od > 0, od, 1.0), 0.0)
        dang = r[od == 0].sum()
        r = np.round((1 - d) / n + d * (contrib + dang / n), 9)
    want = {v: r[idx[v]] for v in nodes}
    assert set(got) == set(want)
    for v in nodes:
        assert got[v] == want[v], (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6  # probability mass conserved


@pytest.mark.parametrize(
    "op", ["pagerank", "personalized_pagerank", "pagerank_weighted"]
)
def test_pagerank_partitioning_independent(spark, op):
    import numpy as np

    from kgforge import graphstats

    rng = np.random.default_rng(43)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 20, 80),
            "t": rng.integers(0, 20, 80),
            "r": rng.integers(0, 3, 80),  # unequal weights for pagerank_weighted
        }
    )
    df = spark.createDataFrame(tri)
    seeds = spark.createDataFrame([(0,), (1,), (99,)], "seed long")

    def ranks(triples):
        extra = (seeds,) if op == "personalized_pagerank" else ()
        out = getattr(graphstats, op)(triples, *extra, n_iter=6)
        return out.toPandas().set_index("e")["rank"].to_dict()

    assert ranks(df) == ranks(df.repartition(13))


def test_iterative_graph_ops_job_budget(spark):
    """Spark jobs per round of each iterative loop are pinned exactly,
    and the one-off set-up jobs (total minus rounds x per-round) may only
    go down. A refactor that keeps every NumPy oracle green can still add
    a job to every round; this is the test that catches it. CC runs to
    its fixpoint, so its rounds come from ``stats`` on two chains."""
    import numpy as np

    from kgforge.graphstats import (
        hits,
        k_core,
        k_truss,
        label_propagation,
        pagerank,
        pagerank_weighted,
        personalized_pagerank,
    )
    from kgforge.stages.canonicalize import connected_components

    rng = np.random.default_rng(41)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 30, 150),
            "t": rng.integers(0, 30, 150),
            "r": rng.integers(0, 3, 150),
        }
    )
    df = spark.createDataFrame(tri)
    seeds = spark.createDataFrame([(0,), (1,), (99,)], "seed long")
    # the peels run ``max_rounds=n`` on graphs that still have edges after
    # round 3: a 40-node path at k=2 (20 rounds) and a 7-ring cylinder at
    # k=4 (7 rounds, 95 -> 85 -> 65 -> 55 -> ... edges)
    path = spark.createDataFrame(_path_graph(40))
    cylinder = spark.createDataFrame(_cylinder_graph(6, 5))
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    # operator: (run(n_iter or max_rounds), jobs per round, max set-up jobs)
    budget = {
        "pagerank": (lambda n: pagerank(df, n_iter=n), 5, 8),
        "personalized_pagerank": (
            lambda n: personalized_pagerank(df, seeds, n_iter=n), 5, 14
        ),
        "pagerank_weighted": (lambda n: pagerank_weighted(df, n_iter=n), 5, 10),
        "hits": (lambda n: hits(df, n_iter=n), 6, 10),
        "label_propagation": (lambda n: label_propagation(df, n_iter=n), 3, 5),
        "k_core": (lambda n: k_core(path, k=2, max_rounds=n), 4, 4),
        "k_truss": (lambda n: k_truss(cylinder, k=4, max_rounds=n), 9, 11),
    }

    def n_jobs(run, n_iter, group):
        sc.setJobGroup(group, group)
        try:
            run(n_iter).collect()
        finally:
            sc._jsc.clearJobGroup()
        bus.waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for name, (run, per_round, max_setup) in budget.items():
        run(1).collect()  # warm-up: first-use planning and codegen
        j2, j3 = (n_jobs(run, n, f"job_budget_{name}_{n}") for n in (2, 3))
        assert j3 - j2 == per_round, (name, j2, j3)
        assert j2 - 2 * per_round <= max_setup, (name, j2, j3)

    rounds: dict = {}

    def chain_cc(n):
        rounds[n] = {}
        chain = pd.DataFrame({"a": np.arange(n - 1), "b": np.arange(1, n)})
        return connected_components(spark.createDataFrame(chain), stats=rounds[n])

    chain_cc(4).collect()
    j10, j40 = (n_jobs(chain_cc, n, f"job_budget_cc_{n}") for n in (10, 40))
    r10, r40 = rounds[10]["rounds"], rounds[40]["rounds"]
    assert r40 > r10, rounds
    assert j40 - j10 == 6 * (r40 - r10), (j10, j40, rounds)
    # set-up: 2 or 3 jobs, as AQE plans the first round (measured)
    assert j10 - 6 * r10 <= 3, (j10, rounds)


def test_round4_ops_handle_empty_inputs(spark):
    """Empty-input battery: the observe-NULL CC bug class — every new
    operator must return an empty (or identity) result, not loop, raise,
    or emit nulls."""
    from kgforge.graphstats import (
        degree_histogram,
        entity_degrees,
        k_hop_neighbors,
        top_hubs,
        triangle_count,
    )
    from kgforge.joins import asof_join
    from kgforge.textops import length_quantiles, stratified_sample

    empty_tri = spark.createDataFrame([], "h long, t long, r long")
    assert entity_degrees(empty_tri).count() == 0
    assert degree_histogram(empty_tri).count() == 0
    assert top_hubs(empty_tri).count() == 0
    assert triangle_count(empty_tri).collect()[0]["n_triangles"] == 0
    seeds = spark.createDataFrame([(0,)], "seed long")
    assert k_hop_neighbors(empty_tri, seeds, k=2).count() == 0

    empty_docs = spark.createDataFrame([], "doc_id long, lang string, n_chars long")
    assert stratified_sample(empty_docs, {"en": 0.5}).count() == 0
    q = length_quantiles(empty_docs, exact=True).collect()[0]
    assert q["q50"] is None  # SQL percentile of empty = NULL, not error
    qa = length_quantiles(empty_docs, exact=False).collect()[0]
    assert qa["q50"] is None

    left = spark.createDataFrame([(1, 10, 100)], "user_id long, event_id long, ts long")
    empty_right = spark.createDataFrame([], "user_id long, ts long, value double")
    got = asof_join(left, empty_right, "user_id", "ts", ["value"]).toPandas()
    assert len(got) == 1 and pd.isna(got.loc[0, "value_right"])


def test_round5_ops_handle_empty_inputs(spark):
    """Same battery for the round-5 operators and the iterative graph
    loops: no loops, raises, or null rows on empty inputs (an observed
    ``sum`` over no rows is NULL, not 0)."""
    from kgforge.graphstats import (
        hits,
        k_core,
        k_truss,
        label_propagation,
        pagerank,
        shortest_paths,
    )
    from kgforge.incremental import dictionary_link_triples
    from kgforge.textops import stratified_sample

    empty_tri = spark.createDataFrame([], "h long, t long, r long")
    assert pagerank(empty_tri, n_iter=3).count() == 0
    assert hits(empty_tri, n_iter=0).count() == 0
    assert k_core(empty_tri, k=2).count() == 0
    assert k_core(empty_tri, k=2, max_rounds=1).count() == 0
    assert k_truss(empty_tri, k=3).count() == 0
    assert label_propagation(empty_tri, n_iter=2).count() == 0
    no_edges = spark.createDataFrame([], "u long, v long, w long")
    sources = spark.createDataFrame([(7,)], "src long")
    got = shortest_paths(no_edges, sources, n_rounds=2).collect()
    assert [tuple(r) for r in got] == [(7, 7, 0)]
    assert shortest_paths(no_edges, sources.limit(0), n_rounds=2).count() == 0

    empty_ext = spark.createDataFrame([], "subj string, pred string, obj string")
    gaz = spark.createDataFrame([("a", "A")], "surface string, canonical string")
    e2id = spark.createDataFrame([("A", 0)], "name string, id long")
    r2id = spark.createDataFrame([("likes", 0)], "name string, id long")
    assert dictionary_link_triples(empty_ext, gaz, e2id, r2id).count() == 0

    # frac >= 1.0 sentinel keeps every row even on the full hex range
    docs = spark.createDataFrame([(i, "de") for i in range(50)], "doc_id long, lang string")
    assert stratified_sample(docs, {"de": 1.0}).count() == 50

def test_label_propagation_matches_bruteforce(spark):
    """Spark synchronous LPA == a dict-based Python replay: same init
    (label = own id), same simultaneous update (most frequent neighbor
    label, ties to the smallest), same fixed iteration count."""
    from collections import Counter

    import numpy as np

    from kgforge.graphstats import label_propagation

    rng = np.random.default_rng(47)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 30, 120), "t": rng.integers(0, 30, 120), "r": 0}
    )
    adj: dict[int, set[int]] = {}
    for h, t in tri[["h", "t"]].itertuples(index=False):
        if h != t:
            adj.setdefault(int(h), set()).add(int(t))
            adj.setdefault(int(t), set()).add(int(h))
    n_iter = 4
    labels = {v: v for v in adj}
    for _ in range(n_iter):
        labels = {
            v: max(
                Counter(labels[u] for u in adj[v]).items(),
                key=lambda kv: (kv[1], -kv[0]),
            )[0]
            for v in adj
        }
    got = (
        label_propagation(spark.createDataFrame(tri), n_iter=n_iter)
        .toPandas()
        .set_index("e")["label"]
        .to_dict()
    )
    assert got == labels
    # partitioning independence
    got2 = (
        label_propagation(spark.createDataFrame(tri).repartition(13), n_iter=n_iter)
        .toPandas()
        .set_index("e")["label"]
        .to_dict()
    )
    assert got2 == labels


def test_random_walks_replay_exact(spark):
    """Every walk is replayed step-by-step in pure Python with
    hashlib.md5 — the md5-argmin choice rule is the determinism
    contract, so the test pins the exact sequences (not just that steps
    follow edges)."""
    import hashlib

    import numpy as np

    from kgforge.graphstats import random_walks

    rng = np.random.default_rng(53)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 20, 70), "t": rng.integers(0, 20, 70), "r": 0}
    )
    adj: dict[int, set[int]] = {}
    for h, t in tri[["h", "t"]].itertuples(index=False):
        if h != t:
            adj.setdefault(int(h), set()).add(int(t))
            adj.setdefault(int(t), set()).add(int(h))
    num_walks, walk_length = 2, 4

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    want = {}
    for start in adj:
        for walk in range(num_walks):
            cur = start
            want[(start, walk, 0)] = start
            for k in range(1, walk_length + 1):
                cur = min(
                    adj[cur],
                    key=lambda v, c=cur, s=start, w=walk, kk=k: (
                        md5(f"{s}:{w}:{kk}:{c}:{v}"),
                        v,
                    ),
                )
                want[(start, walk, k)] = cur
    df = spark.createDataFrame(tri)
    got = (
        random_walks(df, num_walks=num_walks, walk_length=walk_length)
        .toPandas()
        .set_index(["start", "walk", "step"])["e"]
        .to_dict()
    )
    assert got == want
    got2 = (
        random_walks(df.repartition(11), num_walks=num_walks, walk_length=walk_length)
        .toPandas()
        .set_index(["start", "walk", "step"])["e"]
        .to_dict()
    )
    assert got2 == want


def test_personalized_pagerank_matches_numpy(spark):
    """Spark PPR == dense NumPy power method with the same per-iteration
    rounding: teleport mass uniform over seeds, dangling mass
    redistributed along the teleport vector. Exact equality (the
    rounding contract), plus mass conservation and seed locality."""
    import numpy as np

    from kgforge.graphstats import personalized_pagerank

    rng = np.random.default_rng(59)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 30, 150),
            "t": rng.integers(0, 30, 150),
            "r": rng.integers(0, 3, 150),
        }
    )
    seeds = [0, 1, 99]  # 99 is outside the graph -> ignored
    n_iter, d = 8, 0.85
    got = (
        personalized_pagerank(
            spark.createDataFrame(tri),
            spark.createDataFrame([(s,) for s in seeds], "seed long"),
            n_iter=n_iter,
            damping=d,
        )
        .toPandas()
        .set_index("e")["rank"]
        .to_dict()
    )
    edges = sorted({(h, t) for h, t in tri[["h", "t"]].itertuples(index=False) if h != t})
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for h, t in edges:
        a[idx[t], idx[h]] = 1.0
    od = a.sum(axis=0)
    in_seeds = [s for s in seeds if s in idx]
    b = np.zeros(n)
    for s in in_seeds:
        b[idx[s]] = np.round(1.0 / len(in_seeds), 9)
    r = b.copy()
    for _ in range(n_iter):
        with np.errstate(divide="ignore", invalid="ignore"):
            contrib = a @ np.where(od > 0, r / np.where(od > 0, od, 1.0), 0.0)
        dang = r[od == 0].sum()
        r = np.round((1 - d) * b + d * (contrib + dang * b), 9)
    want = {v: r[idx[v]] for v in nodes}
    assert set(got) == set(want)
    for v in nodes:
        assert got[v] == want[v], (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # seed locality: the seeds themselves outrank the global mean
    mean = sum(got.values()) / len(got)
    for s in in_seeds:
        assert got[s] > mean


def test_round5_graph_ops_handle_empty_inputs(spark):
    from kgforge.graphstats import (
        label_propagation,
        pagerank_weighted,
        personalized_pagerank,
        random_walks,
    )

    empty_tri = spark.createDataFrame([], "h long, t long, r long")
    seeds = spark.createDataFrame([(0,)], "seed long")
    assert label_propagation(empty_tri, n_iter=3).count() == 0
    assert random_walks(empty_tri, num_walks=2, walk_length=3).count() == 0
    assert personalized_pagerank(empty_tri, seeds, n_iter=3).count() == 0
    assert pagerank_weighted(empty_tri, n_iter=3).count() == 0

def test_adamic_adar_matches_bruteforce(spark):
    """Spark Adamic-Adar top-k == exhaustive Python over all
    non-adjacent pairs, same round(…, 6) and (score desc, x, y)
    tie-break."""
    import math

    import numpy as np

    from kgforge.graphstats import adamic_adar_candidates

    rng = np.random.default_rng(61)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 25, 90), "t": rng.integers(0, 25, 90), "r": 0}
    )
    adj: dict[int, set[int]] = {}
    edges = set()
    for h, t in tri[["h", "t"]].itertuples(index=False):
        if h != t:
            adj.setdefault(int(h), set()).add(int(t))
            adj.setdefault(int(t), set()).add(int(h))
            edges.add((min(int(h), int(t)), max(int(h), int(t))))
    scores = {}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) in edges:
                continue
            common = adj[x] & adj[y]
            if common:
                scores[(x, y)] = float(
                    np.round(sum(1.0 / math.log(len(adj[z])) for z in common), 6)
                )
    k = 15
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    got = adamic_adar_candidates(spark.createDataFrame(tri), k=k).collect()
    assert [((r["x"], r["y"]), r["score"]) for r in got] == want


def test_walk_skipgram_pairs_matches_bruteforce(spark):
    """Skip-gram pairs from the walk corpus == Python pair expansion of
    the (already replay-tested) walk sequences."""
    from collections import Counter

    import numpy as np

    from kgforge.graphstats import random_walks, walk_skipgram_pairs

    rng = np.random.default_rng(67)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 15, 50), "t": rng.integers(0, 15, 50), "r": 0}
    )
    df = spark.createDataFrame(tri)
    walks = random_walks(df, num_walks=2, walk_length=4)
    wpd = walks.toPandas()
    window = 2
    want: Counter = Counter()
    for (_, _), g in wpd.groupby(["start", "walk"]):
        seq = g.sort_values("step")["e"].tolist()
        for i, c in enumerate(seq):
            for j, ctx in enumerate(seq):
                if i != j and abs(i - j) <= window:
                    want[(c, ctx)] += 1
    got = (
        walk_skipgram_pairs(walks, window=window)
        .toPandas()
        .set_index(["center", "context"])["n_pairs"]
        .to_dict()
    )
    assert got == dict(want)


def test_round5b_ops_handle_empty_inputs(spark):
    from kgforge.graphstats import adamic_adar_candidates, walk_skipgram_pairs

    empty_tri = spark.createDataFrame([], "h long, t long, r long")
    assert adamic_adar_candidates(empty_tri).count() == 0
    empty_walks = spark.createDataFrame([], "start long, walk long, step long, e long")
    assert walk_skipgram_pairs(empty_walks).count() == 0


def test_hits_matches_numpy_mutual_power_iteration(spark):
    """Spark HITS == dense NumPy mutual power method with the SAME L1
    normalization and per-half-step rounding — exact equality (the
    rounding contract makes the operator engine-independent). At
    ``n_iter=0`` both axes are the uniform ``round(1/N, 9)``."""
    import numpy as np

    from kgforge.graphstats import hits

    rng = np.random.default_rng(71)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 30, 150), "t": rng.integers(0, 30, 150), "r": 0}
    )
    for n_iter in (0, 8):
        got = {
            r["e"]: (r["hub"], r["auth"])
            for r in hits(spark.createDataFrame(tri), n_iter=n_iter).collect()
        }
        assert got == _np_hits(tri, n_iter), n_iter
        assert abs(sum(h for h, _ in got.values()) - 1.0) < 1e-6
        assert abs(sum(x for _, x in got.values()) - 1.0) < 1e-6


def _np_hits(tri, n_iter):
    """Dense NumPy HITS: ``{e: (hub, auth)}``."""
    edges = sorted({(h, t) for h, t in tri[["h", "t"]].itertuples(index=False) if h != t})
    nodes = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))  # a[u, v] = 1 for edge u -> v
    for h, t in edges:
        a[idx[h], idx[t]] = 1.0
    hub = auth = np.round(np.full(n, 1.0 / n), 9)
    for _ in range(n_iter):
        auth = a.T @ hub
        auth = np.round(auth / auth.sum(), 9)
        hub = a @ auth
        hub = np.round(hub / hub.sum(), 9)
    return {v: (hub[idx[v]], auth[idx[v]]) for v in nodes}


def test_hits_partitioning_independent_and_empty(spark):
    import numpy as np

    from kgforge.graphstats import hits

    rng = np.random.default_rng(73)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 20, 80), "t": rng.integers(0, 20, 80), "r": 0}
    )
    df = spark.createDataFrame(tri)
    a = {r["e"]: (r["hub"], r["auth"]) for r in hits(df, n_iter=5).collect()}
    b = {
        r["e"]: (r["hub"], r["auth"])
        for r in hits(df.repartition(13), n_iter=5).collect()
    }
    assert a == b
    empty = spark.createDataFrame([], "h long, t long, r long")
    assert hits(empty, n_iter=3).count() == 0


def test_community_modularity_matches_bruteforce(spark):
    """Spark modularity breakdown == exhaustive Python Newman formula
    over the same undirected graph + a random label assignment; the
    summed Q also equals the textbook scalar."""
    import numpy as np

    from kgforge.graphstats import community_modularity

    rng = np.random.default_rng(79)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 25, 120), "t": rng.integers(0, 25, 120), "r": 0}
    )
    edges = sorted(
        {
            (min(h, t), max(h, t))
            for h, t in tri[["h", "t"]].itertuples(index=False)
            if h != t
        }
    )
    nodes = sorted({v for e in edges for v in e})
    lab = {v: int(rng.integers(0, 4)) for v in nodes}
    m = float(len(edges))
    intra: dict[int, int] = {}
    deg: dict[int, int] = {}
    members: dict[int, set] = {}
    for a, b in edges:
        if lab[a] == lab[b]:
            intra[lab[a]] = intra.get(lab[a], 0) + 1
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    for v in nodes:
        members.setdefault(lab[v], set()).add(v)
    want = {}
    for c, mem in members.items():
        dsum = sum(deg[v] for v in mem)
        ic = intra.get(c, 0)
        want[c] = (
            len(mem),
            ic,
            dsum,
            float(np.round(ic / m - (dsum / (2.0 * m)) ** 2, 9)),
        )
    labels_df = spark.createDataFrame(
        [(int(v), lab[v]) for v in nodes], "e long, label long"
    )
    got = {
        r["label"]: (r["n_nodes"], r["intra_edges"], r["deg_sum"], r["q_contrib"])
        for r in community_modularity(spark.createDataFrame(tri), labels_df).collect()
    }
    assert got == want
    # textbook scalar: Q = sum of contributions, in [-1, 1]
    q = sum(v[3] for v in got.values())
    assert -1.0 <= q <= 1.0


def test_neardup_groups_clusters_transitively(spark):
    """Pair graph A~B, B~C (A!~C) must yield ONE group {A,B,C} with the
    min doc as canonical; untouched docs are singletons."""
    from kgforge.textops import neardup_groups

    docs = spark.createDataFrame(
        [(i,) for i in range(7)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 3, 0.9), (3, 5, 0.8), (2, 6, 0.7)], "a long, b long, jaccard double"
    )
    got = {
        r["doc_id"]: (r["group_id"], r["group_size"], r["is_canonical"])
        for r in neardup_groups(docs, pairs).collect()
    }
    assert got == {
        0: (0, 1, True),
        1: (1, 3, True),
        3: (1, 3, False),
        5: (1, 3, False),
        2: (2, 2, True),
        6: (2, 2, False),
        4: (4, 1, True),
    }
    # exactly one canonical per group; dedup keeps groups-many docs
    canon = [d for d, (_, _, c) in got.items() if c]
    assert sorted(canon) == [0, 1, 2, 4]


def test_relation_properties_and_inverse_relations_bruteforce(spark):
    from kgforge.graphstats import inverse_relations, relation_properties

    rows = [
        # r=0: symmetric pair (1,2)/(2,1), plus (3,4); self-loop (5,5)
        (1, 2, 0), (2, 1, 0), (3, 4, 0), (5, 5, 0),
        # r=1: inverse of r=2 on both edges
        (1, 2, 1), (3, 4, 1),
        (2, 1, 2), (4, 3, 2), (7, 8, 2),
        # duplicate row must dedup
        (1, 2, 0),
    ]
    tri = spark.createDataFrame(rows, "h long, t long, r long")
    props = {r["r"]: r.asDict() for r in relation_properties(tri).collect()}
    # r=0: 4 distinct edges; symmetric: (1,2),(2,1),(5,5) -> 3/4
    assert props[0]["n_triples"] == 4
    assert props[0]["n_heads"] == 4 and props[0]["n_tails"] == 4
    assert props[0]["symmetric_frac"] == 0.75
    assert props[0]["tph"] == 1.0 and props[0]["hpt"] == 1.0
    # r=1: no (t,h) under r=1 itself
    assert props[1]["symmetric_frac"] == 0.0
    inv = {
        (r["r1"], r["r2"]): (r["n_overlap"], r["frac"])
        for r in inverse_relations(tri, min_frac=0.0).collect()
    }
    # both r=1 edges reversed under r=2 (frac 1.0); 2 of 3 r=2 edges
    # reversed under r=1; r=0's symmetric edges reverse under r=0 only
    # (excluded: diagonal), but (2,1,0)&(1,2,1): (1,2) reversed is (2,1)
    # which exists under r=0 too -> (1,2)->(2,1): r1=1 edge (1,2),
    # reverse (2,1) exists under r=0 as well
    assert inv[(1, 2)] == (2, 1.0)
    assert inv[(2, 1)][0] == 2 and abs(inv[(2, 1)][1] - round(2 / 3, 9)) < 1e-12
    # r=1 edge (1,2) reversed (2,1) exists under r=0 -> pair (1,0)
    assert inv[(1, 0)][0] >= 1
    # threshold filter works
    hi = {(r["r1"], r["r2"]) for r in inverse_relations(tri, min_frac=0.9).collect()}
    assert (1, 2) in hi and (2, 1) not in hi


def _replay_node2vec(edges, num_walks, walk_length, p, q):
    """Independent Python replay of the hash-exponential biased walk."""
    import hashlib
    import math

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    rows = []
    for start in sorted(adj):
        for walk in range(num_walks):
            prev, cur = -1, start
            rows.append((start, walk, 0, cur))
            for k in range(1, walk_length + 1):
                best = None
                for cand in sorted(adj[cur]):
                    hx = hashlib.md5(
                        f"{start}:{walk}:{k}:{cur}:{cand}".encode()
                    ).hexdigest()
                    u = (int(hx[:15], 16) + 1.0) / 16**15
                    if cand == prev:
                        wt = 1.0 / p
                    elif prev in adj and cand in adj[prev]:
                        wt = 1.0
                    else:
                        wt = 1.0 / q
                    key = (-math.log(u) / wt, cand)
                    if best is None or key < best:
                        best = key
                prev, cur = cur, best[1]
                rows.append((start, walk, k, cur))
    return set(rows)


def test_node2vec_walks_match_python_replay(spark):
    import numpy as np

    from kgforge.graphstats import node2vec_walks

    rng = np.random.default_rng(83)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 18, 60), "t": rng.integers(0, 18, 60), "r": 0}
    )
    edges = {(min(h, t), max(h, t)) for h, t in tri[["h", "t"]].itertuples(index=False) if h != t}
    got = {
        (r["start"], r["walk"], r["step"], r["e"])
        for r in node2vec_walks(
            spark.createDataFrame(tri), num_walks=2, walk_length=4, p=4.0, q=0.25
        ).collect()
    }
    want = _replay_node2vec(sorted(edges), 2, 4, 4.0, 0.25)
    assert got == want


def test_node2vec_huge_p_never_backtracks_on_cycle(spark):
    from kgforge.graphstats import node2vec_walks

    n = 12  # cycle: every node degree 2, backtracking always avoidable
    tri = pd.DataFrame({"h": range(n), "t": [(i + 1) % n for i in range(n)], "r": 0})
    walks = node2vec_walks(
        spark.createDataFrame(tri), num_walks=2, walk_length=6, p=1e12, q=1.0
    ).toPandas()
    for (_, _), g in walks.groupby(["start", "walk"]):
        seq = g.sort_values("step")["e"].tolist()
        for i in range(2, len(seq)):
            assert seq[i] != seq[i - 2], seq  # immediate return suppressed
    empty = spark.createDataFrame([], "h long, t long, r long")
    assert node2vec_walks(empty).count() == 0


def test_prefix_by_budget_matches_global_cumsum(spark):
    """Two-phase distributed running sum == the single-machine global
    cumsum, for any repartitioning; plan uses range partitioning (no
    single-partition global window)."""
    import numpy as np

    from kgforge.textops import prefix_by_budget

    rng = np.random.default_rng(97)
    pdf = pd.DataFrame(
        {"k": rng.permutation(200), "amt": rng.integers(1, 50, 200)}
    )
    budget = int(pdf.sort_values("k")["amt"].cumsum().iloc[120])
    want = pdf.sort_values("k").assign(cum=lambda d: d["amt"].cumsum())
    want = want[want["cum"] <= budget][["k", "amt", "cum"]]
    for parts in (1, 7, 64):
        df = spark.createDataFrame(pdf).repartition(11)
        got = (
            prefix_by_budget(df, [F.col("k")], "amt", budget, num_ranges=parts)
            .toPandas()
            .sort_values("k")
            .reset_index(drop=True)
        )
        assert list(got["k"]) == list(want["k"])
        assert list(got["cum_amount"]) == list(want["cum"])
    # the cumsum pass is pinned behind a localCheckpoint (it feeds both
    # the totals collect and the returned plan), so the range-partition
    # guard must inspect the PRE-checkpoint plan: the local-window pass
    # itself, built exactly as running_sum builds it
    from pyspark.sql import Window as W

    ranged = (
        spark.createDataFrame(pdf)
        .repartitionByRange(32, F.col("k"))
        .withColumn("_pid", F.spark_partition_id())
    )
    w = (
        W.partitionBy("_pid")
        .orderBy(F.col("k"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    plan = (
        ranged.withColumn("_cum_local", F.sum(F.col("amt").cast("long")).over(w))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    # strict prefix: a budget below the first row selects nothing
    assert prefix_by_budget(spark.createDataFrame(pdf), [F.col("k")], "amt", 0).count() == 0


def test_pagerank_weighted_matches_numpy(spark):
    """Weighted PageRank == dense NumPy power method with
    weight-proportional distribution, exact under the shared rounding
    contract; and it must DIFFER from the unweighted rank when parallel
    predicates exist."""
    import numpy as np

    from kgforge.graphstats import pagerank, pagerank_weighted

    rng = np.random.default_rng(101)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 20, 120),
            "t": rng.integers(0, 20, 120),
            "r": rng.integers(0, 5, 120),
        }
    )
    n_iter, d = 8, 0.85
    got = (
        pagerank_weighted(spark.createDataFrame(tri), n_iter=n_iter, damping=d)
        .toPandas()
        .set_index("e")["rank"]
        .to_dict()
    )
    w = {}
    for h, t, r in tri.itertuples(index=False):
        if h != t:
            w.setdefault((h, t), set()).add(r)
    nodes = sorted({v for e in w for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    a = np.zeros((n, n))
    for (h, t), rs in w.items():
        a[idx[t], idx[h]] = float(len(rs))
    sw = a.sum(axis=0)
    rk = np.round(np.full(n, 1.0 / n), 9)
    for _ in range(n_iter):
        with np.errstate(divide="ignore", invalid="ignore"):
            contrib = a @ np.where(sw > 0, rk / np.where(sw > 0, sw, 1.0), 0.0)
        dang = rk[sw == 0].sum()
        rk = np.round((1 - d) / n + d * (contrib + dang / n), 9)
    want = {v: rk[idx[v]] for v in nodes}
    assert got == want
    unweighted = (
        pagerank(spark.createDataFrame(tri), n_iter=n_iter, damping=d)
        .toPandas()
        .set_index("e")["rank"]
        .to_dict()
    )
    assert got != unweighted  # parallel predicates must matter


def test_repetition_stats_hand_computed(spark):
    """Gopher repetition gates vs hand-computed fractions, including the
    no-line / no-gram degenerate docs (zeros, never NULL)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "a b a b\na b a b\nx y",  # dup lines + heavy bigram repeat
                "one two three",           # all unique
                "   ",                     # whitespace only
                "solo",                    # single word: no bigram
            ],
        }
    )
    got = (
        textops.repetition_stats(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc 1: lines {a b a b: 2, x y: 1} -> 3 lines, dup 1/3,
    # char dup 7/17; 10 words -> 9 bigrams {a b:4, b a:3, b x, x y}
    # -> dup 5/9, top = 4*len("a b")=12 over len(text)=19
    r1 = got.loc[1]
    assert r1["n_lines"] == 3 and r1["n_grams"] == 9
    assert r1["dup_line_frac"] == pytest.approx(1 / 3)
    assert r1["dup_line_char_frac"] == pytest.approx(7 / 17)
    assert r1["dup_gram_frac"] == pytest.approx(5 / 9)
    assert r1["top_gram_char_frac"] == pytest.approx(12 / 19)
    r2 = got.loc[2]
    assert r2["n_lines"] == 1 and r2["n_grams"] == 2
    assert r2["dup_gram_frac"] == 0.0
    # max(cnt*len): "two three" (9 chars) beats "one two" (7)
    assert r2["top_gram_char_frac"] == pytest.approx(len("two three") / len("one two three"))
    for d in (3, 4):
        rd = got.loc[d]
        assert rd["n_grams"] == 0 and rd["dup_gram_frac"] == 0.0
        assert rd["top_gram_char_frac"] == 0.0
    assert got.loc[3, "n_lines"] == 0 and got.loc[4, "n_lines"] == 1
    # trigram variant: doc 2 has exactly one trigram
    tri = (
        textops.repetition_stats(spark.createDataFrame(pdf), n=3)
        .toPandas()
        .set_index("doc_id")
    )
    assert tri.loc[2, "n_grams"] == 1
    assert tri.loc[1, "n_grams"] == 8


def test_benchmark_contamination_hand_computed(spark):
    """Leakage gate vs hand-counted gram overlap: full copy -> 1.0,
    partial overlap counted on distinct trigrams, disjoint -> 0.0."""
    bench = pd.DataFrame({"doc_id": [100], "text": ["the quick brown fox jumps high"]})
    corpus = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps high",        # verbatim copy
                "see the quick brown fox run away now",  # shares 2 of 6 trigrams
                "completely different words here",       # disjoint
            ],
        }
    )
    got = (
        textops.benchmark_contamination(
            spark.createDataFrame(corpus), spark.createDataFrame(bench), n=3
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[1, "contam_frac"] == 1.0 and bool(got.loc[1, "is_contaminated"])
    # doc 2 trigrams: 6 distinct; only "the quick brown", "quick brown fox"
    # appear in the bench doc
    assert got.loc[2, "n_grams"] == 6 and got.loc[2, "n_contaminated"] == 2
    assert not bool(got.loc[2, "is_contaminated"])
    assert got.loc[3, "contam_frac"] == 0.0


def test_local_clustering_matches_bruteforce(spark):
    """Per-node clustering coefficient == NumPy adjacency brute force."""
    from itertools import combinations

    from kgforge.graphstats import local_clustering

    rng = np.random.default_rng(7)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 25, 150),
            "t": rng.integers(0, 25, 150),
            "r": rng.integers(0, 4, 150),
        }
    )
    got = (
        local_clustering(spark.createDataFrame(tri))
        .toPandas()
        .set_index("e")
        .sort_index()
    )
    nbrs = {}
    for h, t in zip(tri["h"], tri["t"]):
        if h != t:
            nbrs.setdefault(h, set()).add(t)
            nbrs.setdefault(t, set()).add(h)
    for v, ns in nbrs.items():
        d = len(ns)
        t_v = sum(1 for a, b in combinations(sorted(ns), 2) if b in nbrs.get(a, ()))
        assert got.loc[v, "degree"] == d
        assert got.loc[v, "n_triangles"] == t_v
        want = 2.0 * t_v / (d * (d - 1.0)) if d >= 2 else 0.0
        assert got.loc[v, "clustering_coeff"] == pytest.approx(want)
    assert set(got.index) == set(nbrs)


def _path_graph(n):
    """Triples of the path 0-1-...-(n-1)."""
    return pd.DataFrame({"h": range(n - 1), "t": range(1, n), "r": 0})


def _cylinder_graph(n_strips, ring):
    """Triples of a triangulated cylinder: ``n_strips + 1`` rings of
    ``ring`` nodes, each strip between two rings cut into triangles by
    one diagonal per square. Inner edges sit in exactly two triangles,
    edges of the two end rings in one, so the 4-truss peel removes one
    layer (a ring, then the strip behind it) from each end per round."""
    def v(r, c):
        return r * ring + c % ring

    rows = []
    for r in range(n_strips + 1):
        for c in range(ring):
            rows.append((v(r, c), v(r, c + 1)))
            if r < n_strips:
                rows += [(v(r, c), v(r + 1, c)), (v(r, c), v(r + 1, c + 1))]
    return pd.DataFrame(
        {"h": [a for a, _ in rows], "t": [b for _, b in rows], "r": 0}
    )


def _band_graph(n, d):
    """Triples of the band graph: ``(i, i + j)`` for 1 <= j <= d."""
    rows = [(i, i + j) for i in range(n) for j in range(1, d + 1) if i + j < n]
    return pd.DataFrame(
        {"h": [a for a, _ in rows], "t": [b for _, b in rows], "r": 0}
    )


def _py_k_core(edges, k, max_rounds=None):
    """Reference peel on a python edge set: each round drops every vertex
    below ``k`` at once; after the fixpoint (or ``max_rounds`` rounds),
    the vertices of degree >= ``k`` with their degree."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    rounds = 0
    while rounds != max_rounds:
        low = [v for v, ns in nbrs.items() if len(ns) < k]
        if not low:
            break
        for v in low:
            for u in nbrs.pop(v):
                nbrs[u].discard(v)
        rounds += 1
    return {v: len(ns) for v, ns in nbrs.items() if len(ns) >= k}


def test_k_core_matches_python_peel(spark):
    from kgforge.graphstats import k_core

    rng = np.random.default_rng(11)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 40, 160),
            "t": rng.integers(0, 40, 160),
            "r": 0,
        }
    )
    edges = {(min(h, t), max(h, t)) for h, t in zip(tri["h"], tri["t"]) if h != t}
    for k in (2, 3, 4):
        got = dict(
            k_core(spark.createDataFrame(tri), k=k)
            .toPandas()[["e", "degree"]]
            .itertuples(index=False)
        )
        assert got == _py_k_core(edges, k), f"k={k}"


def test_k_core_deep_cascade_chain(spark):
    """A path graph is the adversarial cascade: 2-core must peel it
    ENTIRELY, one endpoint pair per round — exercises the iterative
    fixpoint loop well past one round."""
    from kgforge.graphstats import k_core

    n = 12
    path = _path_graph(n)
    assert k_core(spark.createDataFrame(path), k=2).count() == 0
    # add one chord closing a 4-cycle at the far end: that cycle alone
    # survives as the 2-core
    cyc = pd.concat(
        [path, pd.DataFrame({"h": [n - 4], "t": [n - 1], "r": [0]})]
    )
    got = k_core(spark.createDataFrame(cyc), k=2).toPandas()
    assert sorted(got["e"]) == [n - 4, n - 3, n - 2, n - 1]
    assert (got["degree"] == 2).all()


def test_link_prediction_scores_match_bruteforce(spark):
    """One-pass wedge metrics == python set arithmetic per pair."""
    import math

    from kgforge.graphstats import link_prediction_scores

    rng = np.random.default_rng(23)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 18, 70),
            "t": rng.integers(0, 18, 70),
            "r": 0,
        }
    )
    got = link_prediction_scores(spark.createDataFrame(tri), k=1000).toPandas()
    nbrs = {}
    edges = set()
    for h, t in zip(tri["h"], tri["t"]):
        if h != t:
            a, b = min(h, t), max(h, t)
            edges.add((a, b))
            nbrs.setdefault(h, set()).add(t)
            nbrs.setdefault(t, set()).add(h)
    want = {}
    nodes = sorted(nbrs)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) in edges:
                continue
            common = nbrs[x] & nbrs[y]
            if not common:
                continue
            want[(x, y)] = (
                len(common),
                len(common) / len(nbrs[x] | nbrs[y]),
                round(sum(1.0 / math.log(len(nbrs[z])) for z in common), 6),
                round(sum(1.0 / len(nbrs[z]) for z in common), 6),
                len(nbrs[x]) * len(nbrs[y]),
            )
    assert len(got) == len(want)
    for row in got.itertuples(index=False):
        cn, jac, aa, ra, pa = want[(row.x, row.y)]
        assert row.n_common == cn and row.pref_attach == pa
        assert row.jaccard == pytest.approx(jac)
        assert row.adamic_adar == pytest.approx(aa, abs=1e-6)
        assert row.resource_alloc == pytest.approx(ra, abs=1e-6)


def test_pii_scrub_counts_and_redaction(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "mail a.user+tag@sub.example.com or b@x.io today",
                "host 10.0.255.7 and 192.168.1.1, ssn 123-45-6789",
                "call 555-867-5309 or 555.123.4567; nothing else",
                "no pii here at all",
            ],
        }
    )
    got = (
        textops.pii_scrub(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(got.loc[0, ["n_email", "n_ipv4", "n_ssn", "n_phone"]]) == [2, 0, 0, 0]
    assert got.loc[0, "redacted"] == "mail <EMAIL> or <EMAIL> today"
    assert list(got.loc[1, ["n_email", "n_ipv4", "n_ssn", "n_phone"]]) == [0, 2, 1, 0]
    assert got.loc[1, "redacted"] == "host <IP> and <IP>, ssn <SSN>"
    assert list(got.loc[2, ["n_email", "n_ipv4", "n_ssn", "n_phone"]]) == [0, 0, 0, 2]
    assert got.loc[2, "redacted"] == "call <PHONE> or <PHONE>; nothing else"
    assert got.loc[3, "n_pii"] == 0 and got.loc[3, "redacted"] == "no pii here at all"
    assert (got["n_pii"] == got[["n_email", "n_ipv4", "n_ssn", "n_phone"]].sum(axis=1)).all()


def test_strip_boilerplate(spark):
    foot = "All rights reserved."
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                f"alpha one\nbeta two\n{foot}",
                f"gamma three\n{foot}\ndelta four",
                f"  {foot}  \nepsilon five",
                foot,  # all-boilerplate doc
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    bp = textops.boilerplate_lines(docs, min_docs=3).toPandas()
    assert list(bp["line"]) == [foot] and list(bp["n_docs"]) == [4]
    got = (
        textops.strip_boilerplate(docs, min_docs=3)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[0, "clean_text"] == "alpha one\nbeta two"
    assert got.loc[1, "clean_text"] == "gamma three\ndelta four"  # order kept
    assert got.loc[2, "clean_text"] == "epsilon five"  # trimmed match
    assert got.loc[3, "clean_text"] == "" and got.loc[3, "n_removed"] == 1
    assert list(got["n_lines"]) == [3, 3, 2, 1]
    assert list(got["n_removed"]) == [1, 1, 1, 1]
    # below threshold nothing is boilerplate
    none = textops.strip_boilerplate(docs, min_docs=5).toPandas()
    assert (none["n_removed"] == 0).all()


def test_pack_sequences_matches_python_replay(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "a b c",            # 3 tokens
                "d e f g h i j",    # 7 -> straddles
                "   ",              # empty after trim -> excluded
                "k",                # 1
                "l m n o p q r s t u v w",  # 12 -> spans 2+ seqs
            ],
        }
    )
    seq_len = 5
    got = (
        textops.pack_sequences(spark.createDataFrame(pdf), seq_len, num_ranges=3)
        .toPandas()
        .sort_values(["seq_id", "doc_id"])
        .reset_index(drop=True)
    )
    # python replay: concat tokens in doc_id order, cut every seq_len
    lens = {0: 3, 1: 7, 3: 1, 4: 12}
    off, want = 0, []
    for d in sorted(lens):
        n = lens[d]
        for s in range(off // seq_len, (off + n - 1) // seq_len + 1):
            lo, hi = max(s * seq_len, off), min((s + 1) * seq_len, off + n)
            want.append((s, d, lo - off, hi - off, hi - lo))
        off += n
    assert [tuple(r) for r in got.itertuples(index=False)] == want
    # every token of every doc is assigned exactly once
    per_doc = got.groupby("doc_id")["n_tok_in_seq"].sum().to_dict()
    assert per_doc == lens
    # every sequence except the last is exactly full
    per_seq = got.groupby("seq_id")["n_tok_in_seq"].sum()
    assert (per_seq.iloc[:-1] == seq_len).all()
    assert per_seq.sum() == sum(lens.values())
    # partitioning-independent: different range count, same manifest
    got2 = (
        textops.pack_sequences(
            spark.createDataFrame(pdf).repartition(7), seq_len, num_ranges=11
        )
        .toPandas()
        .sort_values(["seq_id", "doc_id"])
        .reset_index(drop=True)
    )
    assert got.equals(got2)


def test_shortest_paths_matches_python_bellman_ford(spark):
    from kgforge import graphstats

    # weighted digraph where the cheapest route is NOT the fewest hops:
    # 0->3 direct costs 10, 0->1->2->3 costs 3
    edges = [
        (0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1),
        (3, 4, 2), (1, 4, 9), (4, 5, 1), (5, 0, 1),
    ]
    e = spark.createDataFrame(edges, "u long, v long, w long")
    src = spark.createDataFrame([(0,), (3,)], "src long")
    n_rounds = 4
    got = {
        (r["src"], r["v"]): r["dist"]
        for r in graphstats.shortest_paths(e, src, n_rounds=n_rounds).collect()
    }

    def bf(s):
        d = {s: 0}
        for _ in range(n_rounds):
            nd = dict(d)
            for u, v, w in edges:
                if u in d and d[u] + w < nd.get(v, 1 << 60):
                    nd[v] = d[u] + w
            d = nd
        return d

    want = {(s, v): c for s in (0, 3) for v, c in bf(s).items()}
    assert got == want
    assert got[(0, 3)] == 3  # multi-hop beats the direct edge
    assert got[(3, 0)] == 4  # 3->4->5->0


def test_build_vocab_and_oov(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the cat the dog THE bird",
                "a cat a dog a fish",
                "zebra quokka",
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    vocab = textops.build_vocab(docs, size=4).toPandas()
    # counts: the=3, a=3, cat=2, dog=2, then singles
    assert list(vocab["token"]) == ["a", "the", "cat", "dog"]
    assert list(vocab["n_occurrences"]) == [3, 3, 2, 2]
    assert list(vocab["token_id"]) == [0, 1, 2, 3]
    got = (
        textops.oov_stats(docs, spark.createDataFrame(vocab))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[0, "n_tokens"] == 6 and got.loc[0, "n_oov"] == 1  # bird
    assert got.loc[1, "n_oov"] == 1  # fish
    assert got.loc[2, "n_oov"] == 2 and got.loc[2, "oov_frac"] == 1.0


def test_pii_scrub_plan_has_no_exchange(spark):
    """PII scrub is a pure narrow map: zero Exchanges in the physical
    plan (the 100 TB argument is 'scan-bound', so pin it)."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["a b"]})
    )
    plan = (
        textops.pii_scrub(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_late_round5_ops_handle_empty_inputs(spark):
    """Empty-input battery for the late round-5 operators: no raises,
    no null rows, sensible zero-row (or zero-count) outputs."""
    from kgforge.graphstats import shortest_paths
    from kgforge.joins import interval_join
    from kgforge.quality import table_diff
    from kgforge.sampling import assign_splits, weighted_sample
    from kgforge.similarity import dequantized_vectors, quantize_embeddings

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert textops.pii_scrub(empty_docs).count() == 0
    assert textops.strip_boilerplate(empty_docs, min_docs=2).count() == 0
    assert textops.pack_sequences(empty_docs, 16).count() == 0
    assert textops.build_vocab(empty_docs, 10).count() == 0
    vocab = spark.createDataFrame([], "token_id long, token string, n_occurrences long")
    assert textops.oov_stats(empty_docs, vocab).count() == 0

    kv = spark.createDataFrame([], "k long, w double")
    assert weighted_sample(kv, "k", "w", k=5).count() == 0
    assert assign_splits(kv, "k", {"a": 0.5, "b": 0.5}).count() == 0

    some = spark.createDataFrame([(1, "x")], "k long, a string")
    none = spark.createDataFrame([], "k long, a string")
    d = {r["k"]: r["status"] for r in table_diff(some, none, ["k"]).collect()}
    assert d == {1: "removed"}
    d2 = {r["k"]: r["status"] for r in table_diff(none, some, ["k"]).collect()}
    assert d2 == {1: "added"}

    e_edges = spark.createDataFrame([], "u long, v long, w long")
    src = spark.createDataFrame([(0,)], "src long")
    got = shortest_paths(e_edges, src, n_rounds=2).collect()
    assert [(r["src"], r["v"], r["dist"]) for r in got] == [(0, 0, 0)]

    pts = spark.createDataFrame([], "pid long, pos long")
    ivs = spark.createDataFrame([(0, 5, 5)], "iid long, start long, end long")
    assert interval_join(pts, ivs).count() == 0  # empty pts AND empty interval

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert quantize_embeddings(emb).count() == 0
    assert dequantized_vectors(emb).count() == 0


def test_degree_assortativity_matches_numpy(spark):
    """Exact-sufficient-stat assortativity == numpy.corrcoef over the
    endpoint-degree pairs of the same edge list."""
    import numpy as np

    from kgforge.graphstats import degree_assortativity

    rng = np.random.default_rng(83)
    h = rng.integers(0, 20, 70)
    t = rng.integers(0, 20, 70)
    tri = spark.createDataFrame(
        pd.DataFrame({"h": h, "t": t, "r": 0}), "h long, t long, r long"
    )
    row = degree_assortativity(tri).collect()[0]
    deg = {}
    for x in list(h) + list(t):
        deg[x] = deg.get(x, 0) + 1
    xs = np.array([deg[x] for x in h], dtype=float)
    ys = np.array([deg[x] for x in t], dtype=float)
    want = float(np.corrcoef(xs, ys)[0, 1])
    assert row["n_edges"] == 70
    assert abs(row["assortativity"] - want) < 1e-9


def test_reciprocity_counts(spark):
    from kgforge.graphstats import reciprocity

    tri = spark.createDataFrame(
        [
            (1, 2, 0),  # reciprocal with (2,1)
            (2, 1, 0),
            (2, 1, 1),  # relation multiplicity must not double-count
            (1, 3, 0),  # one-way
            (4, 4, 0),  # self-loop dropped
        ],
        "h long, t long, r long",
    )
    row = reciprocity(tri).collect()[0]
    assert (row["n_edges"], row["n_reciprocal"]) == (3, 2)
    assert abs(row["reciprocity"] - 2 / 3) < 1e-12

    empty = spark.createDataFrame([], "h long, t long, r long")
    erow = reciprocity(empty).collect()[0]
    assert (erow["n_edges"], erow["n_reciprocal"]) == (0, 0)
    assert erow["reciprocity"] is None

    easy = degree_assortativity_empty_guard(spark)
    assert easy is None


def degree_assortativity_empty_guard(spark):
    from kgforge.graphstats import degree_assortativity

    empty = spark.createDataFrame([], "h long, t long, r long")
    row = degree_assortativity(empty).collect()[0]
    assert row["n_edges"] == 0
    assert row["assortativity"] is None
    return None


def test_bpe_pair_counts_matches_manual(spark):
    from kgforge.textops import bpe_pair_counts

    docs = spark.createDataFrame(
        [
            (1, "the cat sat the cat"),
            (2, "  THE cat  "),       # trim + lower + multi-space
            (3, "one"),               # single token -> no pairs
            (4, ""),                  # empty -> no pairs
        ],
        "doc_id long, text string",
    )
    got = {(r["t1"], r["t2"]): r["n_pairs"] for r in bpe_pair_counts(docs, k=10).collect()}
    assert got == {
        ("the", "cat"): 3,
        ("cat", "sat"): 1,
        ("sat", "the"): 1,
    }


def test_bpe_pair_counts_single_count_shuffle(spark):
    from kgforge.textops import bpe_pair_counts

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = bpe_pair_counts(docs)._jdf.queryExecution().executedPlan().toString()
    # narrow pair generation: the ONLY hash Exchange is the pair count
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_survivorship_pick_keeps_longest(spark):
    from kgforge.textops import survivorship_pick

    docs = spark.createDataFrame(
        [(1, 10), (2, 40), (3, 40), (7, 5)],
        "doc_id long, n_chars long",
    )
    groups = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)],
        "doc_id long, group_id long",
    )
    got = {
        r["group_id"]: (r["kept_doc_id"], r["kept_n_chars"], r["n_docs"])
        for r in survivorship_pick(docs, groups).collect()
    }
    # group 1: docs 2 and 3 tie at 40 chars -> smallest doc_id wins
    assert got == {1: (2, 40, 3), 7: (7, 5, 1)}

    empty_docs = spark.createDataFrame([], "doc_id long, n_chars long")
    empty_groups = spark.createDataFrame([], "doc_id long, group_id long")
    assert survivorship_pick(empty_docs, empty_groups).count() == 0


def test_phrase_search_counts_overlaps_and_repeats(spark):
    from kgforge.textops import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the cat mat"),
            (2, "cat the cat"),
            (3, "a a a"),           # overlapping occurrences of "a a"
            (4, "no match here"),
            (5, "THE  cat"),        # case + multi-space
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_search(docs, "the cat").collect()}
    assert got == {1: 2, 2: 1, 5: 1}

    rep = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_search(docs, "a a").collect()}
    assert rep == {3: 2}

    tri = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_search(docs, "on the cat").collect()}
    assert tri == {1: 1}

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert phrase_search(empty, "the cat").count() == 0


def test_value_anomalies_matches_numpy(spark):
    import numpy as np

    from kgforge.quality import value_anomalies

    rng = np.random.default_rng(11)
    vals = np.round(rng.exponential(50.0, 400), 2)
    grp = ["a" if i % 2 == 0 else "b" for i in range(400)]
    df = spark.createDataFrame(
        pd.DataFrame({"event_type": grp, "value": vals}),
        "event_type string, value double",
    )
    got = {r["group_key"]: r for r in value_anomalies(df, z=3.0).collect()}
    for g in ("a", "b"):
        v = vals[[i for i in range(400) if grp[i] == g]]
        mean, std = float(v.mean()), float(v.std())
        want = int((np.abs(v - mean) > 3.0 * std).sum())
        assert got[g]["n_events"] == 200
        assert abs(got[g]["mean_value"] - mean) < 1e-9
        assert abs(got[g]["std_value"] - std) < 1e-9
        assert got[g]["n_anomalies"] == want

    empty = spark.createDataFrame([], "event_type string, value double")
    assert value_anomalies(empty).count() == 0


def test_incremental_exact_dedup_semantics(spark):
    from kgforge.textops import incremental_exact_dedup

    existing = spark.createDataFrame(
        [(1, "hello world"), (2, "unique old")],
        "doc_id long, text string",
    )
    new_b = spark.createDataFrame(
        [
            (10, "Hello   WORLD"),   # normalizes to an existing doc -> dropped
            (11, "brand new"),
            (12, "brand  NEW"),      # batch-internal dup of 11 -> survivor 11
            (13, "another one"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"] for r in incremental_exact_dedup(new_b, existing).collect()}
    assert got == {11, 13}

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert incremental_exact_dedup(empty, existing).count() == 0
    # empty existing corpus -> plain batch dedup
    assert {
        r["doc_id"] for r in incremental_exact_dedup(new_b, empty).collect()
    } == {10, 11, 13}


def test_mine_composition_rules_bruteforce(spark):
    """Rule support/confidence == exhaustive Python over a toy KG."""
    from itertools import product

    from kgforge.graphstats import mine_composition_rules

    tri = [
        (0, 1, 0), (1, 2, 1), (0, 2, 2),      # 0-(r0)->1-(r1)->2 and r2 closes
        (3, 4, 0), (4, 5, 1), (3, 5, 2),
        (6, 7, 0), (7, 8, 1),                  # body only, no closing r2
        (0, 1, 2),                             # extra head noise
    ]
    df = spark.createDataFrame(tri, "h long, t long, r long")
    got = {
        (r["r1"], r["r2"], r["r3"]): (r["body_size"], r["support"],
                                       r["confidence"])
        for r in mine_composition_rules(df, min_support=1).collect()
    }
    edges = set(tri)
    body = {}
    for (h1, t1, r1), (h2, t2, r2) in product(edges, edges):
        if t1 == h2:
            body.setdefault((r1, r2), set()).add((h1, t2))
    want = {}
    for (r1, r2), pairs in body.items():
        for r3 in {r for (_, _, r) in edges}:
            sup = sum(1 for (x, y) in pairs if (x, y, r3) in edges)
            if sup >= 1:
                want[(r1, r2, r3)] = (len(pairs), sup, sup / len(pairs))
    assert got == want


def test_chunk_documents_windows(spark):
    from kgforge.textops import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text), (2, "one two"), (3, "   ")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_text"])
           for r in out}
    # doc 1: 10 tokens, stride 3, starts 0,3,6 (9 would add nothing new
    # beyond overlap... start <= n-overlap-1=8 -> 0,3,6)
    assert got == {
        (1, 0): (4, "w0 w1 w2 w3"),
        (1, 1): (4, "w3 w4 w5 w6"),
        (1, 2): (4, "w6 w7 w8 w9"),
        (2, 0): (2, "one two"),
    }

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_collocations_match_python_replay(spark):
    """PMI collocations vs an independent pure-Python count: bigram
    counts, unigram counts, and ln-ratio PMI must agree exactly (the
    Spark side rounds to 6; the replay rounds the same way)."""
    import math
    from collections import Counter

    from kgforge.textops import collocations

    texts = [
        (1, "new york city is in new york state"),
        (2, "the new york times covers new york"),
        (3, "times square is in new york city"),
        (4, ""),
        (5, "   "),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    pair_c, uni_c, n_pairs, n_tok = Counter(), Counter(), 0, 0
    for _, txt in texts:
        toks = [w for w in txt.lower().strip().split() if w]
        uni_c.update(toks)
        n_tok += len(toks)
        for a, b in zip(toks, toks[1:]):
            pair_c[(a, b)] += 1
            n_pairs += 1
    want = {
        (a, b): (
            c,
            round(
                math.log(
                    (float(c) * n_tok * n_tok)
                    / (float(uni_c[a]) * uni_c[b] * n_pairs)
                ),
                6,
            ),
        )
        for (a, b), c in pair_c.items()
        if c >= 2
    }

    got = {
        (r.w1, r.w2): (r.n_pair, r.pmi)
        for r in collocations(docs, min_count=2).collect()
    }
    assert got == want
    assert ("new", "york") in got and got[("new", "york")][0] == 5


def test_unigram_logprob_matches_python_replay(spark):
    """avg_nll vs a pure-Python corpus-MLE replay; rare tokens must
    score strictly higher than common-token documents."""
    import math
    from collections import Counter

    from kgforge.textops import unigram_logprob

    texts = [
        (1, "the the the the"),
        (2, "the quick brown fox"),
        (3, "zyzzyva qat"),
        (4, "the fox"),
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])

    uni = Counter()
    per_doc = {}
    for did, txt in texts:
        toks = [w for w in txt.lower().strip().split() if w]
        uni.update(toks)
        per_doc[did] = toks
    n = sum(uni.values())
    want = {
        did: (
            len(toks),
            round(sum(-math.log(uni[w] / n) for w in toks) / len(toks), 6),
        )
        for did, toks in per_doc.items()
    }

    got = {
        r.doc_id: (r.n_tokens, r.avg_nll)
        for r in unigram_logprob(docs).collect()
    }
    assert set(got) == set(want)
    for did in want:
        assert got[did][0] == want[did][0]
        assert abs(got[did][1] - want[did][1]) < 1e-9, did
    # ordering property: all-rare doc > mixed doc > all-common doc
    assert got[3][1] > got[2][1] > got[1][1]


def test_mix_rebalance_caps_strata_and_is_deterministic(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = textops.mix_rebalance(docs, target_per_key=100)
    by_lang = {r["lang"]: r["n"] for r in
               out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    src = {r["lang"]: r["n"] for r in
           docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    for lang, n_src in src.items():
        if n_src <= 100:  # rare strata pass through whole
            assert by_lang[lang] == n_src, lang
        else:  # over-represented strata land near the target
            assert 60 <= by_lang[lang] <= 140, (lang, by_lang[lang])
    # deterministic and partitioning-independent: same rows either way
    a = {r["doc_id"] for r in out.select("doc_id").collect()}
    b = {r["doc_id"] for r in
         textops.mix_rebalance(docs.repartition(13), target_per_key=100)
         .select("doc_id").collect()}
    assert a == b


def _py_k_truss(edges, k, max_rounds=None):
    """Reference peel in pure python sets: each round drops every edge
    in fewer than ``k - 2`` triangles at once; after the fixpoint (or
    ``max_rounds`` rounds), the surviving edges with their support."""
    e = set(edges)
    rounds = 0
    while True:
        adj = {}
        for a, b in e:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {(a, b): len(adj[a] & adj[b]) for a, b in e}
        kept = {ed for ed in e if sup[ed] >= k - 2}
        if kept == e or rounds == max_rounds:
            return sup
        e = kept
        rounds += 1


def test_k_truss_matches_python_peel(spark):
    from kgforge.graphstats import k_truss

    rng = np.random.default_rng(13)
    tri = pd.DataFrame(
        {
            "h": rng.integers(0, 30, 180),
            "t": rng.integers(0, 30, 180),
            "r": 0,
        }
    )
    edges = {(min(h, t), max(h, t)) for h, t in zip(tri["h"], tri["t"]) if h != t}
    for k in (3, 4, 5):
        got = {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(spark.createDataFrame(tri), k=k).collect()
        }
        assert got == _py_k_truss(edges, k), f"k={k}"


def test_k_truss_cascade_on_triangle_strip(spark):
    """Two graphs the truss peel must cascade through to the fixpoint.

    The n=10 strip of triangles sharing edges (0-1-2, 1-2-3, 2-3-4, ...)
    is the d=2 band graph: its 3-truss is the whole strip, and its
    4-truss peels in 2 rounds (17 -> 7 -> 0 edges): round 1 drops every
    edge in one triangle, which leaves the inner path edges without a
    triangle. The d=4 band graph on 30 nodes peels its 6-truss in 3
    rounds (110 -> 78 -> 23 -> 0 edges)."""
    from kgforge.graphstats import k_truss

    def run(tri, k, max_rounds=None):
        df = spark.createDataFrame(tri)
        return {
            (r["a"], r["b"]): r["support"]
            for r in k_truss(df, k=k, max_rounds=max_rounds).collect()
        }

    strip = _band_graph(10, 2)
    edges = set(zip(strip["h"], strip["t"]))
    assert len(_py_k_truss(edges, 4, max_rounds=1)) == 7
    assert _py_k_truss(edges, 4) == {}  # the reference agrees it all peels
    assert run(strip, 4) == {}
    assert len(run(strip, 3)) == len(edges)  # every edge in >= 1 triangle

    band = _band_graph(30, 4)
    edges = set(zip(band["h"], band["t"]))
    assert len(_py_k_truss(edges, 6, max_rounds=2)) == 23
    assert _py_k_truss(edges, 6) == {}
    assert run(band, 6, max_rounds=2) == _py_k_truss(edges, 6, max_rounds=2)
    assert run(band, 6) == {}


def test_peels_truncate_at_max_rounds(spark):
    """``max_rounds=r`` is exactly r peel rounds — the contract the
    ``kg_k_core`` oracle replays — and a cap below 1 raises (k_truss
    used to peel one round at ``max_rounds=0``, k_core none)."""
    from kgforge.graphstats import k_core, k_truss

    rng = np.random.default_rng(17)
    tri = pd.DataFrame(
        {"h": rng.integers(0, 30, 140), "t": rng.integers(0, 30, 140), "r": 0}
    )
    cases = [
        (tri, 3),
        (_path_graph(12), 2),
        (_band_graph(20, 3), 4),
    ]
    for g, k in cases:
        df = spark.createDataFrame(g)
        edges = {(min(h, t), max(h, t)) for h, t in zip(g["h"], g["t"]) if h != t}
        for r in (1, 2):
            got = dict(
                k_core(df, k=k, max_rounds=r)
                .toPandas()[["e", "degree"]]
                .itertuples(index=False)
            )
            assert got == _py_k_core(edges, k, max_rounds=r), (k, r)
            got = {
                (x["a"], x["b"]): x["support"]
                for x in k_truss(df, k=k + 1, max_rounds=r).collect()
            }
            assert got == _py_k_truss(edges, k + 1, max_rounds=r), (k, r)
    df = spark.createDataFrame(_path_graph(5))
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_rounds"):
            k_core(df, k=2, max_rounds=bad)
        with pytest.raises(ValueError, match="max_rounds"):
            k_truss(df, k=3, max_rounds=bad)


def test_duplicate_spans_exact_union(spark):
    """Hand-computed case: one shared 8-gram between two docs, a
    too-short doc, and an identical pair whose two overlapping shared
    grams must union to the full 9 tokens (no double counting)."""
    from kgforge.textops import duplicate_spans

    rows = [
        ("d1", "a b c d e f g h i j"),
        ("d2", "x x a b c d e f g h z"),
        ("d3", "p q"),
        ("d4", "m1 m2 m3 m4 m5 m6 m7 m8 m9"),
        ("d5", "m1 m2 m3 m4 m5 m6 m7 m8 m9"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in duplicate_spans(docs, n=8).collect()
    }
    assert got["d1"] == {
        "doc_id": "d1", "n_tokens": 10, "n_dup_grams": 1,
        "dup_tokens": 8, "dup_token_frac": 0.8,
    }
    assert got["d2"]["n_dup_grams"] == 1 and got["d2"]["dup_tokens"] == 8
    assert got["d2"]["dup_token_frac"] == 8 / 11
    assert got["d3"] == {
        "doc_id": "d3", "n_tokens": 2, "n_dup_grams": 0,
        "dup_tokens": 0, "dup_token_frac": 0.0,
    }
    for d in ("d4", "d5"):
        assert got[d]["n_dup_grams"] == 2       # grams at pos 0 and 1
        assert got[d]["dup_tokens"] == 9        # overlapping spans union
        assert got[d]["dup_token_frac"] == 1.0
