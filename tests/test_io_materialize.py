"""io_openke codec round-trip (A1/A2/A20), dense IDs (B9), salted write +
lineage (B10), manifest resume (B11)."""

import os
import tempfile

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kgforge.fixtures import gen_openke_split
from kgforge.io_openke import (
    EMB_COMPONENTS,
    read_dict_txt,
    read_embeddings_parquet,
    read_split,
    read_triples_spark,
    read_triples_txt,
    write_dict_txt,
    write_embeddings_parquet,
    write_split,
    write_triples_txt,
)
from kgforge.manifest import Manifest, fingerprint_paths
from kgforge.stages.materialize import dense_ids, salted_partitions, salted_write, to_id_triples


def test_openke_roundtrip(tmp_path):
    split = gen_openke_split(n_ent=50, n_rel=4, n_train=200, n_valid=20, n_test=20)
    d = str(tmp_path / "openke")
    write_split(split, d)
    back = read_split(d)
    for k in split:
        pd.testing.assert_frame_equal(split[k], back[k])
    # text layout: count header, h t r order
    lines = open(os.path.join(d, "train2id.txt")).read().splitlines()
    assert lines[0] == "200"
    h, t, r = map(int, lines[1].split(" "))
    assert (h, t, r) == tuple(split["train2id"].iloc[0][["h", "t", "r"]])


#: a name the dictionary format can hold: UTF-8 text (no lone surrogate),
#: no tab, no line break
_NAME = st.text(st.characters(codec="utf-8", exclude_characters="\t\n\r"))
_INT64 = st.integers(-(2**63), 2**63 - 1)


@settings(max_examples=200, deadline=None)
@given(
    names=st.lists(_NAME, max_size=20),
    triples=st.lists(st.tuples(_INT64, _INT64, _INT64), max_size=20),
)
def test_openke_txt_roundtrip_property(names, triples):
    """Any text names and any int64 ``(h, t, r)`` rows read back exactly."""
    ents = pd.DataFrame({"name": pd.Series(names, dtype=object), "id": np.arange(len(names))})
    tri = pd.DataFrame(triples, columns=["h", "t", "r"], dtype="int64")
    with tempfile.TemporaryDirectory() as d:
        write_dict_txt(ents, os.path.join(d, "entity2id.txt"))
        write_triples_txt(tri, os.path.join(d, "train2id.txt"))
        pd.testing.assert_frame_equal(read_dict_txt(os.path.join(d, "entity2id.txt")), ents)
        pd.testing.assert_frame_equal(read_triples_txt(os.path.join(d, "train2id.txt")), tri)


@settings(max_examples=100, deadline=None)
@given(head=_NAME, sep=st.sampled_from("\t\n\r"), tail=_NAME)
def test_openke_dict_name_with_tab_or_line_break_raises(head, sep, tail):
    names = pd.DataFrame({"name": ["ok", head + sep + tail], "id": [0, 1]})
    with tempfile.TemporaryDirectory() as d:
        with pytest.raises(ValueError, match="tab or line break"):
            write_dict_txt(names, os.path.join(d, "e.txt"))
        assert not os.path.exists(os.path.join(d, "e.txt"))


@settings(max_examples=100, deadline=None)
@given(head=_NAME, bad=st.characters(categories=["Cs"]), tail=_NAME)
def test_openke_dict_name_not_utf8_raises(head, bad, tail):
    """A name with a lone surrogate, which no UTF-8 file can hold, raises
    ``ValueError`` and leaves no partial dictionary file behind."""
    names = pd.DataFrame({"name": ["ok", head + bad + tail], "id": [0, 1]})
    with tempfile.TemporaryDirectory() as d:
        with pytest.raises(ValueError, match="UTF-8 cannot encode"):
            write_dict_txt(names, os.path.join(d, "e.txt"))
        assert not os.path.exists(os.path.join(d, "e.txt"))


def test_openke_count_header_mismatch_raises(tmp_path):
    """The count header is checked with ``ValueError``, which ``-O`` keeps."""
    d, t = tmp_path / "e.txt", tmp_path / "t.txt"
    d.write_text("3\na\t0\nb\t1\n", encoding="utf-8")
    t.write_text("1\n0 1 2\n3 4 5\n", encoding="utf-8")
    with pytest.raises(ValueError, match="count header 3 != rows 2"):
        read_dict_txt(str(d))
    with pytest.raises(ValueError, match="count header 1 != rows 2"):
        read_triples_txt(str(t))


def test_spark_triple_reader(spark, tmp_path):
    split = gen_openke_split(n_ent=50, n_rel=4, n_train=200, n_valid=20, n_test=20)
    d = str(tmp_path / "openke")
    write_split(split, d)
    got = (
        read_triples_spark(spark, os.path.join(d, "train2id.txt"))
        .toPandas().sort_values(["h", "t", "r"]).reset_index(drop=True)
    )
    want = split["train2id"].sort_values(["h", "t", "r"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_spark_triple_writer_matches_driver_writer(spark, tmp_path):
    """write_triples_txt_spark: same bytes as the driver-side writer on
    sorted input (count header + 'h t r' rows, global (h,t,r) order),
    without any data-sized driver materialization."""
    split = gen_openke_split(n_ent=50, n_rel=4, n_train=500, n_valid=20, n_test=20)
    tri = split["train2id"].sort_values(["h", "t", "r"]).reset_index(drop=True)
    from kgforge.io_openke import write_triples_txt, write_triples_txt_spark

    p_driver = str(tmp_path / "driver.txt")
    p_spark = str(tmp_path / "spark.txt")
    write_triples_txt(tri, p_driver)
    n = write_triples_txt_spark(
        spark.createDataFrame(split["train2id"]).repartition(7), p_spark, n_partitions=5
    )
    assert n == len(tri)
    assert open(p_spark).read() == open(p_driver).read()


def test_dense_ids_deterministic_and_dense(spark):
    """Ids are the dense rank by name, whatever the duplicates and the
    input partitioning: a tiny frame, and 500 names twice over 11
    input partitions."""
    names = [f"n{i:04d}" for i in range(500)]
    cases = [
        (spark.createDataFrame(pd.DataFrame({"name": ["b", "a", "c", "a", "b"]})), ["a", "b", "c"]),
        (spark.createDataFrame(pd.DataFrame({"name": names[::-1] * 2})).repartition(11), names),
    ]
    for df, want in cases:
        got = dense_ids(df).toPandas().sort_values("id").reset_index(drop=True)
        assert list(got["name"]) == want
        assert list(got["id"]) == list(range(len(want)))


def test_to_id_triples_and_salted_write(spark, tmp_path):
    canon = spark.createDataFrame(
        pd.DataFrame(
            {
                "subj_canon": ["A", "A", "B"],
                "pred": ["p", "p", "q"],
                "obj_canon": ["B", "B", "C"],
            }
        )
    )
    e2id = dense_ids(canon.selectExpr("subj_canon as name").union(canon.selectExpr("obj_canon as name")))
    r2id = dense_ids(canon.selectExpr("pred as name"))
    triples = to_id_triples(canon, e2id, r2id)
    got = triples.toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
    # A=0 B=1 C=2 ; p=0 q=1 ; dedup (A,p,B)
    assert got.values.tolist() == [[0, 0, 1], [1, 1, 2]]

    out = str(tmp_path / "triples")
    lineage = salted_write(triples, out, n_partitions=4, salt_cols=("s",))
    assert lineage["row_count"] == 2
    assert sum(lineage["partitions"].values()) == 2  # per-partition rows
    back = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["s", "p", "o"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(back[["s", "p", "o"]], got)
    # the manifest's per-partition lineage agrees with the part= dirs
    assert lineage["partitions"] == back.groupby("part").size().to_dict()
    assert lineage["max_partition_rows"] == max(lineage["partitions"].values())


#: (s, p, o, part) of the 12 distinct rows below at n_partitions=4, as
#: salted_write laid them out when it was two shuffles (a dropDuplicates
#: before it, then its repartition on part)
_SALTED_LAYOUT = [
    (1, 6, 3, 3), (2, 7, 1, 2), (3, 8, 4, 0), (4, 9, 2, 1), (5, 10, 0, 1), (6, 11, 3, 1),
    (7, 0, 0, 1), (7, 1, 3, 2), (7, 2, 1, 3), (7, 3, 4, 2), (7, 4, 2, 1), (7, 5, 0, 0),
]


def test_salted_write_dedups_in_one_shuffle(spark, tmp_path):
    """Duplicates split across input partitions are stored once, each row in
    the part= directory it always had, one file per directory — and the
    plan shuffles once: the hash partitioning on ``part`` clusters the
    dropDuplicates too."""
    rows = pd.DataFrame([r[:3] for r in _SALTED_LAYOUT], columns=["s", "p", "o"])
    copies = [spark.createDataFrame(rows.sample(frac=1.0, random_state=i)) for i in range(3)]
    df = copies[0].union(copies[1]).union(copies[2])  # each copy in its own partitions
    assert df.rdd.getNumPartitions() >= 3
    plan = salted_partitions(df, 4, ("s",))._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan

    out = str(tmp_path / "triples")
    lineage = salted_write(df, out, n_partitions=4, salt_cols=("s",))
    assert lineage["row_count"] == len(_SALTED_LAYOUT)
    back = spark.read.parquet(out).toPandas()
    assert sorted(map(tuple, back[["s", "p", "o", "part"]].values.tolist())) == _SALTED_LAYOUT
    for d in os.listdir(out):
        if d.startswith("part="):
            files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
            assert len(files) == 1, d


def test_salted_write_deterministic_layout(spark, tmp_path):
    """Two runs over differently-partitioned input produce the identical
    partition assignment (content-hash salt, not rand) AND the salt still
    spreads a hot key across partitions."""
    pdf = pd.DataFrame(
        {"s": [7] * 64 + list(range(100, 120)), "p": range(84), "o": range(84)}
    )
    df1 = spark.createDataFrame(pdf).repartition(3)
    df2 = spark.createDataFrame(pdf.sample(frac=1.0, random_state=1)).repartition(9)
    out1, out2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    lin1 = salted_write(df1, out1, n_partitions=8, salt_cols=("s",))
    lin2 = salted_write(df2, out2, n_partitions=8, salt_cols=("s",))
    assert lin1["partitions"] == lin2["partitions"]
    a = spark.read.parquet(out1).toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
    b = spark.read.parquet(out2).toPandas().sort_values(["s", "p", "o"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[["s", "p", "o", "part"]], b[["s", "p", "o", "part"]])
    # the hot key s=7 (64 rows) lands on >1 partition
    hot_parts = a.loc[a["s"] == 7, "part"].nunique()
    assert hot_parts > 1


def test_manifest_resume(tmp_path):
    m = Manifest(str(tmp_path))
    fp = fingerprint_paths(str(tmp_path))
    out = fingerprint_paths(str(tmp_path / "out"))
    assert not m.is_done("extract", fp, out)
    m.commit("extract", fp, out, row_count=10, wall_ms=5.0)
    assert m.is_done("extract", fp, out)
    # changed input -> invalid
    assert not m.is_done("extract", fp + "x", out)
    # changed output -> invalid
    assert not m.is_done("extract", fp, out + "x")
    m.invalidate("extract")
    assert not m.is_done("extract", fp, out)


def test_type_constraint_roundtrip(tmp_path):
    from kgforge.io_openke import read_type_constraint, write_type_constraint

    domains = {0: [1, 2, 3], 2: [5]}
    ranges = {0: [7, 8], 2: [9, 10, 11]}
    p = str(tmp_path / "type_constrain.txt")
    write_type_constraint(domains, ranges, p)
    d2, r2 = read_type_constraint(p)
    assert d2 == domains and r2 == ranges


def test_constrained_ranks_tighter_than_raw(spark):
    """Type constraints shrink the candidate pool -> ranks never worsen."""
    import numpy as np
    import pandas as pd

    from kgforge.evaluate import link_prediction_ranks
    from kgforge.fixtures import gen_embeddings, gen_openke_split

    S = gen_openke_split(n_ent=50, n_rel=4, n_train=300, n_valid=30, n_test=30)
    emb = gen_embeddings(n_ent=50, n_rel=4, dim=8)
    known = pd.concat([S["train2id"], S["valid2id"], S["test2id"]])
    domains = {int(r): np.unique(g["h"].to_numpy()) for r, g in known.groupby("r")}
    ranges = {int(r): np.unique(g["t"].to_numpy()) for r, g in known.groupby("r")}
    free = link_prediction_ranks(spark, spark.createDataFrame(S["test2id"]), emb, known).toPandas()
    con = link_prediction_ranks(
        spark, spark.createDataFrame(S["test2id"]), emb, known,
        constraints=(domains, ranges),
    ).toPandas()
    key = ["h", "t", "r"]
    f = free.sort_values(key).reset_index(drop=True)
    c = con.sort_values(key).reset_index(drop=True)
    for col in ["rank_head_raw", "rank_head_filt", "rank_tail_raw", "rank_tail_filt"]:
        assert (c[col] <= f[col]).all()
    assert (c["rank_head_raw"] < f["rank_head_raw"]).any()  # constraints bite


#: float32 bit patterns the checkpoint must keep: ±0.0, ±inf, a quiet, a
#: negative and a signalling NaN with payloads, the smallest and largest
#: subnormals of both signs
_SPECIAL_F32_BITS = [
    0x00000000, 0x80000000, 0x7F800000, 0xFF800000, 0x7FC00000, 0xFFC00123,
    0x7F800001, 0x00000001, 0x807FFFFF, 0x007FFFFF, 0x80000001,
]


@st.composite
def _checkpoints(draw):
    """A dict of float32 components of random shapes (TransR's ``mat`` 3-D),
    drawn as bit patterns so every float32 value can occur."""
    import hypothesis.extra.numpy as hnp

    keys = draw(st.lists(st.sampled_from(EMB_COMPONENTS), min_size=1, max_size=4, unique=True))
    bits = st.integers(0, 2**32 - 1) | st.sampled_from(_SPECIAL_F32_BITS)
    emb = {}
    for key in keys:
        dim = st.integers(1, 4)
        shape = draw(st.tuples(st.integers(1, 6), dim, *([dim] if key == "mat" else [])))
        emb[key] = draw(hnp.arrays(np.uint32, shape, elements=bits)).view(np.float32)
    return emb


@settings(max_examples=60, deadline=None)
@given(emb=_checkpoints())
def test_embedding_checkpoint_roundtrip_is_bitwise(emb):
    """The A20 checkpoint reads back every component bit for bit, shape
    included — ±0.0, ±inf, NaN payloads and subnormals — and a rewrite
    names its data files afresh, so the fingerprint resume compares moves
    even when the contents are equal."""
    with tempfile.TemporaryDirectory() as d:
        write_embeddings_parquet(emb, d)
        listing = fingerprint_paths(os.path.join(d, "components"))
        back = read_embeddings_parquet(d)
        assert set(back) == set(emb)
        for key, mat in emb.items():
            assert back[key].dtype == np.float32 and back[key].shape == mat.shape, key
            np.testing.assert_array_equal(back[key].view(np.uint32), mat.view(np.uint32))
        write_embeddings_parquet(emb, d)
        assert fingerprint_paths(os.path.join(d, "components")) != listing
