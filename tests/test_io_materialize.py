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
    read_dict_txt,
    read_split,
    read_triples_spark,
    read_triples_txt,
    write_dict_txt,
    write_split,
    write_triples_txt,
)
from kgforge.manifest import Manifest, fingerprint_paths
from kgforge.stages.materialize import dense_ids, salted_write, to_id_triples


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


#: a name the dictionary format can hold: no tab, no line break
_NAME = st.text(st.characters(exclude_characters="\t\n\r"))
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
        .select("s", "p", "o")
        .toPandas()
        .sort_values(["s", "p", "o"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(back, got)
    # lineage side table exists and agrees
    lin = spark.read.parquet(out + "_lineage").toPandas()
    assert lin["rows"].sum() == 2


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
    assert not m.is_done("extract", fp)
    m.commit("extract", fp, row_count=10, wall_ms=5.0)
    assert m.is_done("extract", fp)
    # changed input -> invalid
    assert not m.is_done("extract", fp + "x")
    m.invalidate("extract")
    assert not m.is_done("extract", fp)


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
