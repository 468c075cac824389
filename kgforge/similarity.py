"""Similarity search over an embedding column (``array<float>``).

* ``cosine_topk`` — brute-force exact top-k, pure built-in functions
  (``zip_with`` dot product + window top-k). The correctness baseline;
  oracle-checkable in DuckDB via ``list_cosine_similarity``.
* ``cosine_neardup_pairs`` — all pairs above a cosine threshold
  (embedding near-dup dedup); its LSH path pairs banded hyperplane
  signatures with the shared ``canonicalize.band_pairs`` step.
* ``lsh_topk`` — random-hyperplane LSH-bucketed approximate top-k: the
  scale path. One-band ``lsh_band_signatures`` (all ``n_planes`` sign
  bits in one bucket key), query-bucket join, exact re-rank within
  buckets. At 100 TB the bucket join replaces the O(N·Q) cross product
  with O(candidates).

Scores are computed as IEEE doubles; outputs carry ``(query, neighbor,
rk)`` ordering rather than raw floats where hash-exact oracle parity is
required (float accumulation order differs across engines).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_expr(a, b):
    """Cosine similarity of two array<float> columns, JVM-side."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact brute-force top-k: broadcast the (small) query set against
    the embedding table; rank per query with a deterministic id
    tie-break. Output: ``query_id, neighbor_id, rk, cos``.
    """
    # norms are per-ROW quantities: computing them before the cross join
    # evaluates |Q| + |E| interpreted aggregate() expressions instead of
    # 3·|Q|·|E| (the higher-order _dot is interpreted, not codegen).
    # cos = dot(q,e) / (sqrt(dot(q,q)) * sqrt(dot(e,e))) is the SAME
    # operation tree as cosine_expr, so scores are bit-identical.
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_qn"),
    )
    joined = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_evec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_en"),
    ).crossJoin(F.broadcast(q))
    scored = joined.select(
        query_id_col,
        "neighbor_id",
        (_dot(F.col("_qvec"), F.col("_evec")) / (F.col("_qn") * F.col("_en"))).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "rk", "cos")
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    n_bands: int = 32,
    band_planes: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """All (a < b) pairs with cosine >= threshold — embedding near-dup.

    ``method``:

    * ``"lsh"`` — the scale path: banded random-hyperplane signatures
      (``n_bands`` bands of ``band_planes`` sign bits), same-(band,
      bucket) candidate pairs (``band_pairs``), exact cosine re-verify.
      Every *reported* pair is exact; recall is 1 − (1 − p^r)^b with
      p = 1 − θ/π — at the defaults and cos ≥ 0.93 that is > 0.9999,
      and the pair step builds ~b·N²/2^r pairs instead of N²/2 (×800
      fewer at the defaults). tests assert LSH == exact output on the
      planted near-dup fixture.
    * ``"exact"`` — the O(N²) self-join. Deliberately kept: for LOW
      thresholds (τ ≲ 0.7) hyperplane collision probabilities are so
      flat that LSH generates *more* candidate pairs than the cross
      product (e.g. τ = 0.4 needs p^r ≈ 0.16 per band × 40 bands ≈
      2.5·N² candidates) — near-random data has no sub-quadratic exact
      answer, so the baseline is the honest plan there.
    * ``"auto"`` — ``"lsh"`` when threshold >= 0.7 else ``"exact"``.
    """
    if method == "auto":
        method = "lsh" if threshold >= 0.7 else "exact"
    # per-side norms hoisted out of the pair expression everywhere below:
    # N + N interpreted aggregates instead of 3·|pairs| (bit-identical —
    # same operation tree as cosine_expr; see cosine_topk)
    # one normalized table, renamed per side: the two sides' plans (and
    # their broadcasts in the LSH verify) are then equal, so AQE runs
    # one vector broadcast and reuses it for the other side. The null
    # filter is explicit because the optimizer infers it for one join
    # side only, which would make the plans differ.
    w = embeddings.select(
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_na"),
    ).where(F.col("a").isNotNull())
    va, vb = w, w.toDF("b", "vb", "_nb")
    if method == "exact":
        return (
            va.crossJoin(vb)
            .where(F.col("a") < F.col("b"))
            .select(
                "a", "b",
                (_dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))).alias("cos"),
            )
            .where(F.col("cos") >= threshold)
            .select("a", "b")
        )
    from .stages.canonicalize import band_pairs

    sig = lsh_band_signatures(
        embeddings, n_bands=n_bands, band_planes=band_planes, dim=dim, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    cands = band_pairs(sig, id_col)
    return (
        cands.join(F.broadcast(va), "a")
        .join(F.broadcast(vb), "b")
        .select(
            "a", "b",
            (_dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
        .select("a", "b")
    )


def lsh_band_signatures(
    embeddings: DataFrame,
    n_bands: int = 32,
    band_planes: int = 16,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded random-hyperplane signatures: ``(id, band, bucket)`` rows.

    One vectorized matmul per Arrow batch produces all
    ``n_bands * band_planes`` sign bits; each band's bits pack into one
    int64 bucket key. Same-band-same-bucket rows are near-dup candidates
    (AND within a band, OR across bands — the standard LSH recall
    amplification)."""
    from .session import ensure_min_partitions

    embeddings = ensure_min_partitions(embeddings)
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_bands * band_planes, dim)).astype("float64")
    schema = f"{id_col} long, band int, bucket long"
    weights = 1 << np.arange(band_planes, dtype=np.uint64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")  # [B, dim]
            signs = (mat @ planes.T) > 0  # [B, n_bands*band_planes]
            bits = signs.reshape(len(pdf), n_bands, band_planes).astype(np.uint64)
            buckets = (bits * weights[None, None, :]).sum(axis=2).astype("int64")
            ids = np.repeat(pdf[id_col].to_numpy(), n_bands)
            bands = np.tile(np.arange(n_bands, dtype="int32"), len(pdf))
            yield pd.DataFrame(
                {id_col: ids, "band": bands, "bucket": buckets.ravel()}
            )

    return embeddings.select(id_col, vec_col).mapInPandas(fn, schema)


def ivf_centroids(
    embeddings: DataFrame,
    n_clusters: int = 16,
    dim: int = 64,
    seed: int = 42,
    sample_size: int = 4096,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """IVF coarse quantizer: k-means (fixed-iteration Lloyd, cosine via
    normalized dot) on a BOUNDED deterministic sample.

    The sample is the first ``sample_size`` rows by id — a driver
    materialization bounded by ``sample_size``, never by corpus size
    (training a coarse quantizer on a sample is the standard IVF
    construction). Fixed iteration count + seeded init keep the
    centroids reproducible for the contract.
    """
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .toPandas()
    )
    X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_clusters, len(X)), replace=False)].copy()
    for _ in range(n_iter):
        assign = (X @ C.T).argmax(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_assignments(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, cluster)`` — nearest-centroid assignment, one matmul per
    Arrow batch (the inverted-file lists)."""
    from .session import ensure_min_partitions

    embeddings = ensure_min_partitions(embeddings)
    schema = f"{id_col} long, cluster int"
    C = centroids

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            cl = (mat @ C.T).argmax(axis=1).astype("int32")
            yield pd.DataFrame({id_col: pdf[id_col], "cluster": cl})

    return embeddings.select(id_col, vec_col).mapInPandas(fn, schema)


def ivf_index_write(
    spark,
    embeddings: DataFrame,
    out_dir: str,
    n_clusters: int = 16,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: centroids (tiny parquet) + the ``(id,
    cluster)`` assignment table, written distributed.

    Assignment is the expensive corpus-sized pass; persisting it means
    query batches arriving later (the steady-state serving shape) reuse
    the index instead of re-scanning the corpus — rebuild only when the
    corpus changes.
    """
    import os

    C = ivf_centroids(embeddings, n_clusters, dim, seed, id_col=id_col, vec_col=vec_col)
    # .tolist() → native floats: non-Arrow createDataFrame rejects
    # np.float64 array elements (driver sessions run with Arrow off).
    cpdf = pd.DataFrame(
        {"cluster": np.arange(len(C), dtype="int32"), "vec": C.astype("float64").tolist()}
    )
    spark.createDataFrame(cpdf, "cluster int, vec array<double>").repartition(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "centroids"))
    ivf_assignments(embeddings, C, id_col, vec_col).write.mode("overwrite").parquet(
        os.path.join(out_dir, "assignments")
    )


def ivf_index_read(spark, in_dir: str) -> tuple[np.ndarray, DataFrame]:
    """Load a persisted IVF index: (centroid matrix, assignments DF).
    Centroids are n_clusters × dim (driver-tiny); assignments stay a
    DataFrame — corpus-sized, never collected."""
    import os

    cpdf = spark.read.parquet(os.path.join(in_dir, "centroids")).orderBy("cluster").toPandas()
    C = np.stack(cpdf["vec"].to_numpy()).astype("float64")
    return C, spark.read.parquet(os.path.join(in_dir, "assignments"))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    index: tuple[np.ndarray, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the query's ``nprobe`` nearest
    inverted lists, exact re-rank within them.

    The cluster join replaces the O(N·Q) cross product with
    O(N·nprobe/n_clusters·Q) candidates — the standard IVF recall/compute
    dial (raise nprobe toward n_clusters → exact). Deterministic:
    centroids come from :func:`ivf_centroids` (seeded, fixed-iteration).

    ``index``: a persisted ``(centroids, assignments)`` pair from
    :func:`ivf_index_read` — skips quantizer training AND the
    corpus-sized assignment pass (``n_clusters/dim/seed`` are then
    ignored; they are baked into the index).
    """
    if index is not None:
        C, e_assign = index
    else:
        C = ivf_centroids(
            embeddings, n_clusters, dim, seed, id_col=id_col, vec_col=vec_col
        )
        e_assign = ivf_assignments(embeddings, C, id_col, vec_col)
    schema = f"{query_id_col} long, cluster int"

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            order = np.argsort(-(mat @ C.T), axis=1)[:, :nprobe].astype("int32")
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(pdf[query_id_col].to_numpy(), nprobe),
                    "cluster": order.ravel(),
                }
            )

    q_probe = queries.select(F.col(query_id_col), F.col(vec_col)).mapInPandas(probe, schema)
    e = embeddings.join(e_assign, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_evec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_en"),
        "cluster",
    )
    q = queries.join(q_probe, query_id_col).select(
        query_id_col,
        F.col(vec_col).alias("_qvec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_qn"),
        "cluster",
    )
    scored = (
        e.join(F.broadcast(q), "cluster")
        .select(
            query_id_col,
            "neighbor_id",
            # norms hoisted per side — bit-identical to cosine_expr
            (_dot(F.col("_qvec"), F.col("_evec")) / (F.col("_qn") * F.col("_en"))).alias("cos"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "rk", "cos")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: exact re-rank within the query's LSH bucket(s).

    ``multiprobe=1`` probes the query bucket plus every bucket at
    Hamming distance 1 (flip one plane's sign) — the standard recall
    lever: candidates scanned ≈ (n_planes+1)/2^n_planes of the corpus.
    Recall < 1 by construction; raise multiprobe / lower n_planes to
    trade compute for recall.
    """
    one_band = dict(n_bands=1, band_planes=n_planes, dim=dim, id_col=id_col, vec_col=vec_col)
    e_sig = lsh_band_signatures(embeddings, **one_band).drop("band")
    q_sig = lsh_band_signatures(
        queries.select(F.col(query_id_col).alias(id_col), vec_col), **one_band
    ).select(F.col(id_col).alias(query_id_col), "bucket")
    if multiprobe >= 1:
        # expand each query signature to its Hamming-1 neighborhood
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)],
        )
        q_sig = q_sig.select(query_id_col, F.explode(probes).alias("bucket"))

    e = embeddings.join(e_sig, id_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_evec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_en"),
        "bucket",
    )
    q = queries.join(q_sig, query_id_col).select(
        query_id_col,
        F.col(vec_col).alias("_qvec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_qn"),
        "bucket",
    )
    scored = (
        e.join(F.broadcast(q), "bucket")
        .select(
            query_id_col,
            "neighbor_id",
            # norms hoisted per side — bit-identical to cosine_expr
            (_dot(F.col("_qvec"), F.col("_evec")) / (F.col("_qn") * F.col("_en"))).alias("cos"),
        )
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "rk", "cos")
    )


def quantize_embeddings(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector scalar quantization (the int8 compression step ANN
    systems run before indexing 100 TB of embeddings): each vector is
    encoded as 8-bit codes against its own [min, max] range —
    ``code_i = round((x_i - min) / scale)``, ``scale = (max-min)/255``
    — a 4x size cut with bounded reconstruction error (<= scale/2
    per dimension).

    Output: ``vec_id, n_dims, qmin, qmax, codes`` (comma-joined —
    kept string-typed so any engine can hash-compare it) and
    ``max_abs_err``, the worst-dimension reconstruction error
    (max is order-independent, so it is engine-exact where a
    sum-of-squares MSE would depend on float accumulation order).
    Constant vectors (max == min) encode as all-zero codes with zero
    error.

    Scale shape: a narrow per-row map — two array traversals, no
    shuffle, no Python; float->double casts are exact, so the DuckDB
    oracle replays the identical arithmetic (both engines round
    half-away-from-zero for the non-negative code values).
    """
    qmin = F.array_min(F.col(vec_col)).cast("double")
    qmax = F.array_max(F.col(vec_col)).cast("double")
    scale = (qmax - qmin) / F.lit(255.0)

    def code(x):
        return F.when(scale == 0, F.lit(0.0)).otherwise(
            F.round((x.cast("double") - qmin) / scale, 0)
        )

    codes = F.transform(
        F.col(vec_col), lambda x: code(x).cast("int").cast("string")
    )
    err = F.transform(
        F.col(vec_col),
        lambda x: F.abs(x.cast("double") - (qmin + code(x) * scale)),
    )
    return embeddings.select(
        id_col,
        F.size(vec_col).cast("long").alias("n_dims"),
        qmin.alias("qmin"),
        qmax.alias("qmax"),
        F.array_join(codes, ",").alias("codes"),
        F.array_max(err).alias("max_abs_err"),
    )


def dequantized_vectors(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Reconstruct each vector from its own int8 scalar-quantization
    codes (see :func:`quantize_embeddings`): ``x̂_i = qmin +
    round((x_i - qmin)/scale) * scale`` — the decoded representation a
    quantized ANN index actually serves from. Searching against this
    table (queries kept full-precision) is asymmetric-distance ANN:
    ~4x less index storage for a small, bounded ranking error.

    Same narrow zero-shuffle map as quantization; every step is exact
    double arithmetic both engines replay identically.
    """
    qmin = F.array_min(F.col(vec_col)).cast("double")
    scale = (F.array_max(F.col(vec_col)).cast("double") - qmin) / F.lit(255.0)
    recon = F.transform(
        F.col(vec_col),
        lambda x: F.when(scale == 0, qmin).otherwise(
            qmin + F.round((x.cast("double") - qmin) / scale, 0) * scale
        ),
    )
    return embeddings.select(id_col, recon.alias(vec_col))


def pq_fit(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    sample_size: int = 4096,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    (L2-normalized) vector into ``m`` subvectors and k-means each
    subspace independently — ``m × log2(ksub)`` bits per vector instead
    of ``32 × dim``, the compression that makes billion-vector ANN fit
    in RAM. Normalizing first makes subspace L2 distance sum to the
    full ``2 - 2·cos``, so PQ ranking is monotone with the cosine
    ranking the rest of this module uses.

    Same construction contract as :func:`ivf_centroids`: a BOUNDED
    deterministic sample (first ``sample_size`` ids), seeded init,
    fixed Lloyd iterations — reproducible codebooks, shape
    ``(m, ksub, dim/m)``.
    """
    pdf = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample_size)
        .toPandas()
    )
    X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[rng.choice(len(S), size=min(ksub, len(S)), replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j, : len(C)] = C
    return books


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(id, codes array<int>)`` — each (normalized) vector's nearest
    sub-centroid per subspace; one vectorized distance matmul per
    subspace per Arrow batch, narrow (no shuffle). Ties in subspace
    distance resolve to the lowest code (argmin), so codes are
    partitioning-independent."""
    from .session import ensure_min_partitions

    embeddings = ensure_min_partitions(embeddings)
    B = codebooks
    m, _, dsub = B.shape

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = np.zeros((len(X), m), dtype="int32")
            for j in range(m):
                S = X[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - B[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    return embeddings.select(id_col, vec_col).mapInPandas(
        fn, f"{id_col} long, codes array<int>"
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): queries stay full-precision;
    each encoded corpus vector scores as the sum of m table lookups
    (``lut[q, j, codes[j]]`` = squared distance from the query's j-th
    subvector to that sub-centroid).

    Scale shape: the query batch is broadcast-sized (house ANN
    contract); per Arrow batch the scorer does m fancy-indexing adds
    and keeps only its LOCAL top-k per query, so the final exact
    window ranks ``partitions × k`` candidates per query — the corpus
    is never globally sorted and the full |corpus| × |queries| score
    table never materializes. Ranking ties break on neighbor id.
    """
    from pyspark.sql import Window

    B = pq_fit(
        embeddings, m=m, ksub=ksub, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    codes = pq_encode(embeddings, B, id_col=id_col, vec_col=vec_col)
    qpdf = queries.select(query_id_col, vec_col).orderBy(query_id_col).toPandas()
    Q = np.stack(qpdf[vec_col].to_numpy()).astype("float64")
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = qpdf[query_id_col].to_numpy()
    dsub = B.shape[2]
    # luts[q, j, c] = ||Q[q, j-th sub] - B[j, c]||^2
    luts = np.stack(
        [
            ((Q[:, j * dsub:(j + 1) * dsub][:, None, :] - B[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(B.shape[0])
        ],
        axis=1,
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.stack(pdf["codes"].to_numpy())
            ids = pdf[id_col].to_numpy()
            d = np.zeros((len(C), len(Q)))
            for j in range(B.shape[0]):
                d += luts[:, j, C[:, j]].T
            kk = min(k, len(C))
            out = []
            for qi in range(len(Q)):
                # local prune must use the SAME (distance, id) order as
                # the global window, or a tie at the cut would make the
                # result depend on partitioning
                idx = np.lexsort((ids, np.round(d[:, qi], 9)))[:kk]
                out.append(
                    pd.DataFrame(
                        {
                            query_id_col: qids[qi],
                            "neighbor_id": ids[idx],
                            "approx_d2": np.round(d[idx, qi], 9),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partial = codes.mapInPandas(
        score, f"{query_id_col} long, neighbor_id long, approx_d2 double"
    )
    w = Window.partitionBy(query_id_col).orderBy("approx_d2", "neighbor_id")
    return (
        partial.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select(query_id_col, "neighbor_id", "rk")
    )


def knn_label_accuracy(
    embeddings: DataFrame,
    k: int = 10,
    n_queries: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out k-NN classification accuracy over a labeled
    embedding table — the standard "are these embeddings any good"
    probe: each query vector is classified by the majority label of its
    k nearest neighbors (itself excluded; ties broken toward the
    smaller label, ranks toward the smaller id), then accuracy is
    reported per true label. Output: ``(label, n_queries, n_correct,
    accuracy)``.

    Plan shape: the query sample is broadcast against the embedding
    table (one scan, no shuffle of the big side), ranks are one
    query-keyed window, votes and accuracy are two tiny aggregations.
    Exact brute-force scoring is the contract here (it doubles as the
    SQL-oracle companion); at |E| beyond the scan budget, swap the
    scored candidate table for ``ivf_topk``/``lsh_topk`` output and
    keep the identical vote: the downstream majority/accuracy logic is
    agnostic to how neighbors were found.
    """
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).cast("long").alias("nlabel"),
        F.col(vec_col).alias("_evec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_en"),
    )
    q = embeddings.where(F.col(id_col) < int(n_queries)).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).cast("long").alias("true_label"),
        F.col(vec_col).alias("_qvec"),
        F.sqrt(_dot(F.col(vec_col), F.col(vec_col))).alias("_qn"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "neighbor_id",
            "nlabel",
            # norms hoisted per side — bit-identical to cosine_expr
            (_dot(F.col("_qvec"), F.col("_evec")) / (F.col("_qn") * F.col("_en"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    top = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= int(k)
    )
    votes = top.groupBy("query_id", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("c")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("c"), "nlabel")
    pred = votes.withColumn("pr", F.row_number().over(wv)).where(F.col("pr") == 1)
    return (
        pred.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum((F.col("nlabel") == F.col("true_label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
        .withColumn(
            "accuracy", F.col("n_correct").cast("double") / F.col("n_queries")
        )
    )
