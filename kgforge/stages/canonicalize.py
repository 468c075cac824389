"""Stages B7/B8 — alias canonicalization: MinHash-LSH blocking +
iterative-join connected components.

B7 (MinHash-LSH): char-shingle each name once, minhash with ``n_perm``
universal-hash permutations (counter-based splitmix64 — deterministic,
partition-independent) and fold each band's signature slice into one
int64 bucket key (:func:`minhash_lsh_batch`, vectorized NumPy inside one
``mapInPandas``), pair within ``(band, bucket)`` groups
(:func:`band_pairs`, the pair step the SimHash and hyperplane-LSH paths
share), then verify with exact Jaccard (:func:`verify_jaccard`). The
cluster chain is :func:`minhash_lsh_pairs`; the driver runs the same
keys and cap in :func:`alias_pairs_local`.

Skew control: buckets are capped (``max_bucket``) — a degenerate bucket
(e.g. every name sharing a stop-shingle band) would otherwise explode
quadratically at the pair step. The drops are silent: nothing counts or
returns them until the shared cost probe (ROADMAP direction 1) can carry
a drop counter.

B8 (connected components): hash-min label propagation with a hook and a
pointer-jumping shortcut, in DataFrame joins (GraphFrames is not in the
sandbox); ``localCheckpoint()`` every round truncates the lineage (plan
blowup is the classic failure here). See ``connected_components``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..sampling import splitmix64


def normalize_names(s: pd.Series) -> pd.Series:
    """Shingling normalization: lowercase, then strip ``[^\\w]``; nulls
    become ``""``."""
    return s.astype("string").fillna("").str.lower().str.replace(r"[^\w]", "", regex=True)


def char_shingles(s: pd.Series, k: int = 3) -> pd.Series:
    """Set of k-char shingles per normalized string (the string-set
    recipe the hashed paths below are equal to)."""
    return normalize_names(s).map(lambda x: {x[i:i + k] for i in range(max(1, len(x) - k + 1))})


def shingle_hashes(
    strings: list[str], k: int, seed: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """FNV-1a hashes of every string's char k-shingles, grouped by string.

    Returns ``(rows, base, counts)``: group ``j`` holds the ``counts[j]``
    uint64 hashes ``base[sum(counts[:j]):][:counts[j]]`` of string
    ``rows[j]``; every string gets exactly one non-empty group. The
    values equal :func:`hash_shingle` over the string's shingle set but
    are computed in NumPy passes: ASCII strings of length >= k go through
    :func:`kgforge.hashing.fnv1a_windows` (byte windows == char windows
    for ASCII, duplicates kept); shorter ASCII strings hash as one
    whole-string shingle via ``fnv1a_tokens``; non-ASCII strings fall
    back to the scalar loop over the shingle set.
    """
    from ..hashing import fnv1a_tokens, fnv1a_windows, flat_windows, pack_strings, pad_tokens

    long_i, short_i, fb_i = [], [], []
    for i, s in enumerate(strings):
        if not s.isascii():
            fb_i.append(i)
        elif len(s) >= k:
            long_i.append(i)
        else:
            short_i.append(i)
    buf, offsets, lens = pack_strings([strings[i].encode() for i in long_i])
    starts, long_counts = flat_windows(lens, offsets, k)
    padded, short_lens = pad_tokens([strings[i].encode() for i in short_i])
    fb_hashes, fb_counts = [], []
    for i in fb_i:
        x = strings[i]
        sh = {x[j:j + k] for j in range(max(1, len(x) - k + 1))}
        fb_hashes.extend(hash_shingle(y, seed) for y in sh)
        fb_counts.append(len(sh))
    base = np.concatenate((
        fnv1a_windows(buf, starts, k, seed),
        fnv1a_tokens(padded, short_lens, seed),
        np.array(fb_hashes, dtype=np.uint64),
    ))
    counts = np.concatenate((
        long_counts, np.ones(len(short_i), dtype=np.int64), np.array(fb_counts, dtype=np.int64)
    ))
    return np.array(long_i + short_i + fb_i, dtype=np.int64), base, counts


def row_chunks(bounds: np.ndarray, cap: int) -> Iterator[tuple[int, int]]:
    """``(lo, hi)`` row ranges over grouped items (row ``r`` owns items
    ``bounds[r]:bounds[r + 1]``) that each span at most ``cap`` items; a
    row larger than ``cap`` is a chunk of its own.

    Callers size ``cap`` so every per-chunk temporary stays <= ~16 MB:
    glibc hands buffers above its mmap threshold (<= 32 MB cap) straight
    back to the OS, so big temporaries page-fault on every reuse —
    measured 12 s vs 0.3 s for the identical arithmetic.
    """
    n_rows = len(bounds) - 1
    lo = 0
    while lo < n_rows:
        hi = lo + 1
        while hi < n_rows and bounds[hi + 1] - bounds[lo] <= cap:
            hi += 1
        yield lo, hi
        lo = hi


def minhash_from_hashes(
    grouped: tuple[np.ndarray, np.ndarray, np.ndarray], n: int, n_perm: int, seed: int
) -> np.ndarray:
    """MinHash signatures ``[n, n_perm]`` int64 from :func:`shingle_hashes`
    output: per group ``min(splitmix64(base ^ perm_const)) >> 1``, written
    to its string's row. The min over the shingle *multiset* equals the
    min over the set, so no per-window dedup is needed. Chunked on both
    axes (:func:`row_chunks`, 8 permutations at a time).
    """
    rows, base, counts = grouped
    pc = splitmix64(np.arange(n_perm, dtype=np.uint64) + np.uint64(seed))
    bounds = np.concatenate(([0], np.cumsum(counts)))
    sig = np.empty((n, n_perm), dtype=np.uint64)
    for lo, hi in row_chunks(bounds, 262144):
        b = base[bounds[lo]:bounds[hi]]
        idx = (bounds[lo:hi] - bounds[lo]).astype(np.int64)
        for p in range(0, n_perm, 8):
            m = splitmix64(b[:, None] ^ pc[None, p:p + 8])
            sig[rows[lo:hi], p:p + 8] = np.minimum.reduceat(m, idx, axis=0)
    return (sig >> np.uint64(1)).astype(np.int64)


def shingle_sets(grouped: tuple[np.ndarray, np.ndarray, np.ndarray], n: int) -> list:
    """Sorted distinct int64 shingle hashes per string (``n`` rows) from
    :func:`shingle_hashes` output — the arrays the Jaccard verify
    intersects."""
    rows, base, counts = grouped
    b64 = base.view(np.int64)
    bounds = np.concatenate(([0], np.cumsum(counts)))
    out: list = [None] * n
    for j, i in enumerate(rows):
        out[i] = np.unique(b64[bounds[j]:bounds[j + 1]])
    return out


def minhash_lsh_batch(
    strings: list[str], k: int, n_perm: int, n_bands: int, seed: int
) -> tuple[np.ndarray, list]:
    """The per-row half of the MinHash-LSH chain over a batch of
    normalized strings: ``(keys, sets)`` from one :func:`shingle_hashes`
    result per chunk.

    ``keys`` is ``[n, n_bands]`` int64: the key of string ``i`` in band
    ``b`` folds that band's ``n_perm // n_bands`` signature values
    (:func:`minhash_from_hashes`) as ``h = splitmix64(h ^ v)`` from
    ``h = 0``. ``sets[i]`` is the sorted shingle set (:func:`shingle_sets`).
    The batch is walked in :func:`row_chunks` of <= 262144 chars, so no
    temporary outgrows ~16 MB whatever the batch size.

    Raises ``ValueError`` unless ``n_bands`` divides ``n_perm``: a
    remainder would silently drop the signature's tail.
    """
    if n_bands < 1 or n_perm % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide n_perm={n_perm}")
    rows_per_band = n_perm // n_bands
    bounds = np.concatenate(([0], np.cumsum([len(s) for s in strings], dtype=np.int64)))
    keys = np.empty((len(strings), n_bands), dtype=np.uint64)
    sets: list = []
    for lo, hi in row_chunks(bounds, 262144):
        grouped = shingle_hashes(strings[lo:hi], k, seed)
        sig = minhash_from_hashes(grouped, hi - lo, n_perm, seed).view(np.uint64)
        sig = sig.reshape(hi - lo, n_bands, rows_per_band)
        h = np.zeros((hi - lo, n_bands), dtype=np.uint64)
        for j in range(rows_per_band):
            h = splitmix64(h ^ sig[:, :, j])
        keys[lo:hi] = h
        sets += shingle_sets(grouped, hi - lo)
    return keys.view(np.int64), sets


def hash_shingle(s: str, seed: int) -> int:
    """FNV-1a 64-bit (Python ints, masked — intentional wraparound)."""
    h = 1469598103934665603 ^ seed
    for ch in s.encode():
        h = ((h ^ ch) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h


def band_pairs(banded: DataFrame, id_col: str, max_bucket: int | None = None) -> DataFrame:
    """The one LSH pair step: ``(id, band, bucket)`` rows → distinct
    ``(a, b)`` pairs with ``a < b`` that share a bucket in some band.

    A bucket of more than ``max_bucket`` ids is dropped before any pair
    is built (skew cap; see module docstring); ``None`` keeps every
    bucket. ``id_col`` may be any orderable type, a struct included
    (structs compare field by field, first field first).

    Shape: the cap's ``count`` window, the ``collect_list`` and the pair
    expansion all ride one ``(band, bucket)`` exchange, and the pair
    dedup is the second and last. The expansion is two-level —
    ``posexplode(ids)``, then ``explode`` of the ids after each one — so
    no row ever holds more than one bucket's ids: pairs stream out,
    the quadratic set of a hot bucket is never one array.
    """
    if max_bucket is not None:
        n = F.count("*").over(Window.partitionBy("band", "bucket"))
        banded = banded.withColumn("_n", n).where(F.col("_n") <= max_bucket)
    ids = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("_ids"))
        .select("_ids", F.posexplode("_ids").alias("_pos", "_x"))
    )
    xy = ids.select(
        "_x", F.explode(F.expr("slice(_ids, _pos + 2, size(_ids) - _pos - 1)")).alias("_y")
    )
    return (
        xy.select(F.least("_x", "_y").alias("a"), F.greatest("_x", "_y").alias("b"))
        .where(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def verify_jaccard(joined: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify of candidate rows ``(a, b, _sa, _sb)`` whose
    ``_sa``/``_sb`` are sorted distinct hashed shingle arrays
    (:func:`shingle_sets`) → ``(a, b, jaccard)`` with jaccard >= threshold.

    The exact size prefilter ``min >= t*max`` (jaccard <= min/max) is
    O(1) per row and gates the per-pair JVM ``array_intersect``. Jaccard
    over the hashed arrays equals Jaccard over the string sets, FNV
    collisions aside (none observed; values are 64-bit).
    """
    na, nb = F.size("_sa"), F.size("_sb")
    inter = F.size(F.array_intersect("_sa", "_sb")).cast("double")
    return (
        joined.where((na >= threshold * nb) & (nb >= threshold * na))
        .withColumn("jaccard", inter / (na + nb - inter))
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    n_perm: int,
    n_bands: int,
    max_bucket: int,
    threshold: float,
    seed: int = 42,
) -> DataFrame:
    """The one MinHash-LSH chain: ``docs`` → verified near-duplicate
    ``(a, b, jaccard)`` pairs of ``id_col`` values, over the char
    k-shingles of ``text_col``.

    One fused ``mapInPandas`` runs :func:`minhash_lsh_batch` per Arrow
    batch and is checkpointed once as ``(id, keys, shingles)``; the
    ``posexplode`` of its keys feeds :func:`band_pairs` (cap
    ``max_bucket``), and :func:`verify_jaccard` reads both pair ends'
    shingles from the same table. Every text is shingled exactly once.
    Both verify joins read one unrenamed ``(id, shingles)`` projection,
    so its exchange is built once and reused (``ReusedExchange``).
    ``threshold=0`` keeps every candidate (shingle sets are never empty).
    """
    minhash_lsh_batch([], k, n_perm, n_bands, seed)  # a bad band split raises before any job
    id_type = dict(docs.dtypes)[id_col]

    def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            norm = normalize_names(pdf["_text"]).tolist()
            keys, sets = minhash_lsh_batch(norm, k, n_perm, n_bands, seed)
            yield pd.DataFrame({"id": pdf["id"], "keys": list(keys), "shingles": sets})

    table = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
        .mapInPandas(fused, f"id {id_type}, keys array<long>, shingles array<long>")
        .localCheckpoint(eager=False)
    )
    banded = table.select("id", F.posexplode("keys").alias("band", "bucket"))
    sh = table.select("id", "shingles")
    x, y = sh.alias("x"), sh.alias("y")
    joined = (
        band_pairs(banded, "id", max_bucket)
        .join(x, F.col("a") == F.col("x.id"))
        .join(y, F.col("b") == F.col("y.id"))
        .select("a", "b", F.col("x.shingles").alias("_sa"), F.col("y.shingles").alias("_sb"))
    )
    return verify_jaccard(joined, threshold)


def alias_pairs(
    names: DataFrame,
    name_col: str = "name",
    n_perm: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 50,
) -> DataFrame:
    """Full B7: distinct non-null names → verified near-duplicate alias
    pairs ``(a, b, jaccard)``, by :func:`minhash_lsh_pairs` over char
    3-shingles keyed by the name itself. :func:`alias_pairs_local` is
    the same chain on the driver, for a name list the driver already
    holds."""
    distinct = names.select(name_col).where(F.col(name_col).isNotNull()).distinct()
    return minhash_lsh_pairs(
        distinct, name_col, name_col, 3, n_perm, n_bands, max_bucket, threshold
    )


def alias_pairs_local(
    name_list: list,
    n_perm: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 50,
    k: int = 3,
    seed: int = 42,
) -> pd.DataFrame:
    """:func:`alias_pairs` on the driver, as a pandas ``(a, b, jaccard)``
    frame, without the Spark jobs of the distributed chain. The distinct
    non-null names go through the same :func:`minhash_lsh_batch`; names
    sharing an int64 bucket key in some band pair up unless the
    ``(band, key)`` bucket holds more than ``max_bucket`` names, and the
    verify intersects the same sorted shingle sets with
    ``np.intersect1d``. Candidates and verified pairs equal
    :func:`alias_pairs`' exactly."""
    from collections import defaultdict
    from itertools import combinations

    names = sorted({s for s in name_list if s is not None})
    norm = normalize_names(pd.Series(names, dtype="string")).tolist()
    keys, sets = minhash_lsh_batch(norm, k, n_perm, n_bands, seed)
    buckets: dict = defaultdict(list)
    for i, row in enumerate(keys.tolist()):
        for band_key in enumerate(row):
            buckets[band_key].append(i)
    cand: set = set()
    for grp in buckets.values():
        if len(grp) <= max_bucket:
            cand.update(combinations(grp, 2))  # i < j, so names[i] < names[j]
    rows = []
    for i, j in sorted(cand):
        inter = len(np.intersect1d(sets[i], sets[j], assume_unique=True))
        jac = inter / (len(sets[i]) + len(sets[j]) - inter)
        if jac >= threshold:
            rows.append((names[i], names[j], jac))
    return pd.DataFrame(rows, columns=["a", "b", "jaccard"])


def drop_cross_anchor(pairs: pd.DataFrame, canon_of: dict) -> pd.DataFrame:
    """Supervised anchoring: drop the alias pairs ``(a, b)`` whose two
    ends are known surfaces (``canon_of``: surface → canonical) of two
    DIFFERENT canonicals, so no component merges two known entities."""
    ca, cb = pairs["a"].map(canon_of), pairs["b"].map(canon_of)
    return pairs[ca.isna() | cb.isna() | (ca == cb)]


def unionfind_components(edges: pd.DataFrame) -> pd.DataFrame:
    """B8 on the driver for a dictionary-sized ``(a, b)`` edge list:
    union-find with path compression, returning the ``(node, component =
    min member)`` rows :func:`connected_components` returns, sorted by
    node."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges[["a", "b"]].itertuples(index=False):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    rows = [(node, comp_min[find(node)]) for node in sorted(parent)]
    return pd.DataFrame(rows, columns=["node", "component"])


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """B8: CC over ``(a, b)`` string/long edges by hash-min with a hook
    and pointer jumping. Returns ``(node, component)``, component = min
    node of the component (total order of the node type).
    ``localCheckpoint`` per round; with ``L`` the previous labels:

    1. hash-min: ``m(x) = min(L(y) : y ∈ {x} ∪ Γ(x))``, one edge ⋈ ``L``
       join and one ``groupBy(node)``;
    2. hook: ``h(r) = min(m(z) : L(z) = r)``, a window partitioned by
       the previous label;
    3. jump (Shiloach–Vishkin shortcut): ``L'(x) = min(h(L(x)),
       L(m(x)))``, one join on ``m``.

    Invariant: ``L(x) ≤ x`` is a member of x's component, and
    ``L'(x) ≤ h(L(x)) ≤ m(x) ≤ L(x)``. At the fixpoint ``L(x) = m(x)``
    is at most every neighbour's label, so it is constant over the
    component and equals its min member. Hash-min alone moves a label
    one hop per round. The jump alone keeps that on paths where a
    stretch already holds a local min ``r``: a smaller label reaching
    the stretch's end is in no node's jump target yet. The hook hands it
    to every node labelled ``r`` in one round (the connect step of Liu &
    Tarjan's connect + shortcut algorithms, SOSA'19). Measured rounds
    grow with log n on chains in any node order: 9 for the 199-node
    chain, 8 for the path 0-39-38-…-1, at most 10 for the worst
    256-node orders a search found. No general bound is claimed;
    exhausting ``max_iter`` raises.

    The previous label rides the aggregate as ``_old`` (label rows
    carry it in ``_self``, neighbour rows NULL, ``max(_self)`` picks it)
    instead of a join back to ``L``; the ``changed`` Observation
    compares it with the new label on the round's checkpoint, so the
    convergence test costs no job. ``stats`` receives ``{"rounds": n}``.

    Skew: the window and the jump join are keyed on labels, and in the
    last rounds a giant component's nodes share one label. The window
    puts that component in one task (spillable buffer, no skew split);
    the join broadcasts a small label table and otherwise relies on
    ``spark.sql.adaptive.skewJoin``.

    :func:`unionfind_components` is the driver-side equivalent for an
    edge list the driver already holds.
    """
    # localCheckpoint: sym is re-joined EVERY round — without it each
    # iteration re-executes the entire upstream edge plan (at the
    # pipeline call site that plan is LSH + shingle verify over the
    # extracted corpus; measured 5.7s → 1.3s on 362 edges at sf0.1, and
    # the recompute would scale with corpus size, not component count)
    sym = (
        edges.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .union(edges.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("x").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    no_label = F.lit(None).cast(labels.schema["component"].dataType)
    for i in range(max_iter):
        neigh = (
            sym.join(labels.withColumnRenamed("node", "y"), "y")
            .select(F.col("x").alias("node"), "component", no_label.alias("_self"))
        )
        hashmin = (
            labels.withColumn("_self", F.col("component"))
            .unionByName(neigh)
            .groupBy("node")
            .agg(F.min("component").alias("_m"), F.max("_self").alias("_old"))
            .withColumn("_hook", F.min("_m").over(Window.partitionBy("_old")))
        )
        jump = labels.select(F.col("node").alias("_m"), F.col("component").alias("_jump"))
        obs = Observation(f"cc_round_{i}")
        labels = (
            hashmin.join(jump, "_m")
            .withColumn("component", F.least("_hook", "_jump"))
            .observe(
                obs,
                # coalesce: sum over an EMPTY label set is NULL, and
                # None == 0 is False — an empty edge input would loop to
                # exhaustion and raise instead of converging immediately
                F.coalesce(
                    F.sum((F.col("component") != F.col("_old")).cast("long")), F.lit(0)
                ).alias("changed"),
            )
            .select("node", "component")
        ).localCheckpoint()
        if obs.get["changed"] == 0:
            if stats is not None:
                stats["rounds"] = i + 1
            return labels
    # silent wrong labels are worse than a loud failure
    raise RuntimeError(f"CC did not converge in {max_iter} rounds")
