"""Arrow-OFF regression tests (round-3 driver incident).

The repo's own session always enables Arrow (kgforge/session.py), but the
driver's harness runs Spark defaults — Arrow conversion OFF — where
``createDataFrame`` uses the strict non-Arrow type verifier that rejects
numpy scalars (``np.float32``/``np.float64``) inside list cells and cannot
infer ``array<double>`` from object columns. Round 3 shipped exactly that
bug in evaluate's NumPy → ``(id, vec)`` helper (now ``evaluate._vecs_df``) and
``io_openke.write_embeddings_parquet``
and 8 driver queries errored while all builder-side checks stayed green.

These tests flip the Arrow conf off on the shared session (it is a runtime
SQL conf) and round-trip every driver-visible ``createDataFrame`` path that
carries float vectors, so the builder harness can never again diverge
silently from the driver's session config.
"""

import numpy as np
import pytest

ARROW_CONFS = (
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.pythonUDF.arrow.enabled",
)


@pytest.fixture()
def arrow_off(spark):
    old = {k: spark.conf.get(k, None) for k in ARROW_CONFS}
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    yield spark
    for k, v in old.items():
        if v is not None:
            spark.conf.set(k, v)


def test_mat_to_vec_df_arrow_off(arrow_off):
    from kgforge import evaluate as ev

    mat = np.arange(12, dtype="float32").reshape(4, 3) / 7.0
    df = ev._vecs_df(arrow_off, {"vec": mat})
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "array<double>",
    ]
    rows = {r["id"]: r["vec"] for r in df.collect()}
    assert rows[2] == pytest.approx(mat[2].astype("float64").tolist())


def test_embedding_checkpoint_roundtrip_arrow_off(arrow_off, tmp_path):
    from kgforge import io_openke as io

    rng = np.random.default_rng(5)
    emb = {
        "ent": rng.standard_normal((6, 4)).astype("float32"),
        "rel": rng.standard_normal((2, 4)).astype("float32"),
        "mat": rng.standard_normal((2, 4, 4)).astype("float32"),
    }
    out = str(tmp_path / "ckpt")
    io.write_embeddings_parquet(arrow_off, emb, out)
    back = io.read_embeddings_parquet(arrow_off, out)
    for k, v in emb.items():
        np.testing.assert_array_equal(back[k], v)  # f32 round-trip is exact
    ent_df = io.read_embedding_df(arrow_off, out, "ent")
    assert ent_df.count() == 6


def test_blocked_ranks_arrow_off(arrow_off):
    """One blocked-rank call end-to-end with Arrow off — the exact driver
    shape that errored in round 3 (numpy emb dict → _emb_sides →
    createDataFrame)."""
    from kgforge import evaluate as ev

    rng = np.random.default_rng(7)
    emb = {
        "ent": rng.standard_normal((5, 4)).astype("float32"),
        "rel": rng.standard_normal((2, 4)).astype("float32"),
    }
    test = arrow_off.createDataFrame([(0, 1, 0), (2, 3, 1)], "h long, t long, r long")
    known = arrow_off.createDataFrame(
        [(0, 1, 0), (2, 3, 1), (4, 1, 0)], "h long, t long, r long"
    )
    got = ev.link_prediction_ranks_blocked(
        arrow_off, test, emb, known, model="transe", norm=1
    )
    assert got.count() == 2


def test_ivf_index_write_arrow_off(arrow_off, tmp_path):
    from kgforge import similarity as sim

    rng = np.random.default_rng(3)
    pdf_rows = [(i, rng.standard_normal(4).tolist()) for i in range(20)]
    embeddings = arrow_off.createDataFrame(pdf_rows, "vec_id long, embedding array<double>")
    out = str(tmp_path / "ivf")
    sim.ivf_index_write(arrow_off, embeddings, out, n_clusters=2, dim=4, seed=1)
    C, assign = sim.ivf_index_read(arrow_off, out)
    assert C.shape == (2, 4)
    assert assign.count() == 20
