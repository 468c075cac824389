"""Arrow-OFF regression tests (round-3 driver incident).

The repo's own session always enables Arrow (kgforge/session.py), but the
driver's harness runs Spark defaults — Arrow conversion OFF — where
``createDataFrame`` uses the strict non-Arrow type verifier that rejects
numpy scalars (``np.float32``/``np.float64``) inside list cells and cannot
infer ``array<double>`` from object columns. Round 3 shipped exactly that
bug in evaluate's NumPy → ``(id, vec)`` helper (since removed) and
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


def test_embedding_checkpoint_roundtrip_arrow_off(arrow_off, tmp_path):
    """The checkpoint that broke with Arrow off is now written with pyarrow
    and read with pandas on the driver, no ``createDataFrame`` at all: in
    a session with Arrow off it still round-trips exactly."""
    from kgforge import io_openke as io

    rng = np.random.default_rng(5)
    emb = {
        "ent": rng.standard_normal((6, 4)).astype("float32"),
        "rel": rng.standard_normal((2, 4)).astype("float32"),
        "mat": rng.standard_normal((2, 4, 4)).astype("float32"),
    }
    out = str(tmp_path / "ckpt")
    io.write_embeddings_parquet(emb, out)
    back = io.read_embeddings_parquet(out)
    for k, v in emb.items():
        np.testing.assert_array_equal(back[k], v)  # f32 round-trip is exact


def test_blocked_ranks_arrow_off(arrow_off):
    """One rank call end-to-end with Arrow off, with the known set as a
    DataFrame (semi-joined against the test keys and collected without
    Arrow) and with it as pandas: the same ranks."""
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
    got, want = (
        sorted(map(tuple, ev.link_prediction_ranks(arrow_off, test, emb, k).collect()))
        for k in (known, known.toPandas())
    )
    assert got == want and len(got) == 2


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
