"""Structural statistics over constructed KGs (``(h, t, r)`` tables).

The construction pipeline's output is a graph; these are the profiling
queries a KG owner runs first — degree distribution (hub detection,
skew planning for downstream joins) and top hubs. Pure DataFrame
aggregations: endpoint union → per-entity degree (one shuffle) →
histogram (second agg is degree-cardinality-sized with map-side
partials). No driver materialization, no Python row work.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def entity_degrees(triples: DataFrame) -> DataFrame:
    """``(e, out_degree, in_degree, degree)`` per entity: out = rows as
    head, in = rows as tail.

    ONE scan: each triple row inlines into its two endpoint rows
    (``inline`` of a 2-struct array) — a union of two selects over the
    same input would reference it twice, and a twice-referenced
    DataFrame executes twice (no ReusedExchange for this shape;
    docs/PLANS.md round-3 audit). Then one hash aggregation."""
    pairs = F.array(
        F.struct(F.col("h").alias("e"), F.lit(1).alias("_out"), F.lit(0).alias("_in")),
        F.struct(F.col("t").alias("e"), F.lit(0).alias("_out"), F.lit(1).alias("_in")),
    )
    return triples.select(F.inline(pairs)).groupBy("e").agg(
        F.sum("_out").cast("long").alias("out_degree"),
        F.sum("_in").cast("long").alias("in_degree"),
        F.count(F.lit(1)).cast("long").alias("degree"),
    )


def degree_histogram(triples: DataFrame) -> DataFrame:
    """``(degree, n_entities)`` — the degree distribution of the KG
    (total endpoint appearances per entity). The histogram aggregation
    groups on the degree value itself, so its cardinality is the number
    of DISTINCT degrees — tiny even for 10^12-edge graphs (power-law
    tails are long but sparse)."""
    return (
        entity_degrees(triples)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_entities"))
    )


def degree_assortativity(triples: DataFrame) -> DataFrame:
    """Degree assortativity of the KG: the Pearson correlation between
    the total degrees of the two endpoints across all directed edges
    (Newman 2002's r; > 0 = hubs link to hubs, < 0 = hub-to-leaf).
    Self-loops and relation multiplicity are kept — degrees are total
    endpoint appearances, the same notion :func:`entity_degrees` and
    :func:`degree_histogram` report, so the three stats agree.

    Output: one row ``(n_edges BIGINT, assortativity DOUBLE)``
    (NULL assortativity when either endpoint degree is constant).

    Determinism at the bit level: the correlation is computed from five
    EXACT sufficient statistics (decimal(38,0) sums of bigint degree
    products — no float accumulation order anywhere), then one fixed
    double-precision expression over them, so any engine replaying the
    same formula reproduces the value exactly. Plan shape: the degree
    table (entity-count sized) joins the edge list twice on the
    endpoint keys — two shuffles, both on keys the downstream already
    hashes; no driver materialization.
    """
    deg = entity_degrees(triples).select("e", "degree")
    edges = triples.select("h", "t")
    xy = (
        edges.join(deg.withColumnRenamed("e", "h").withColumnRenamed("degree", "dx"), "h")
        .join(deg.withColumnRenamed("e", "t").withColumnRenamed("degree", "dy"), "t")
        .select("dx", "dy")
    )
    dec = "decimal(38,0)"
    stats = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).alias("sx2"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).alias("sy2"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sx2, sy2 = F.col("sx2").cast("double"), F.col("sy2").cast("double")
    return stats.select(
        F.col("n").alias("n_edges"),
        F.try_divide(
            n * sxy - sx * sy,
            F.sqrt(n * sx2 - sx * sx) * F.sqrt(n * sy2 - sy * sy),
        ).alias("assortativity"),
    )


def reciprocity(triples: DataFrame) -> DataFrame:
    """Edge reciprocity of the directed KG: of the distinct non-loop
    entity pairs ``(h, t)``, the fraction whose reverse ``(t, h)`` is
    also present (relation labels ignored — this is the structural
    "does the graph link back" measure; per-relation inverses are
    :func:`inverse_relations`).

    Output: one row ``(n_edges, n_reciprocal, reciprocity)``; the ratio
    is an exact-integer division so it is engine-independent.

    Plan shape: ONE shuffle. Instead of the textbook dedup + swapped
    self-join (which references the deduped edge list three times — and
    a twice-referenced DataFrame executes twice, docs/PLANS.md), each
    edge maps to its canonical unordered pair ``(least, greatest)``
    with a direction flag; one ``groupBy(pair)`` then knows both
    whether the forward and the reverse edge exist. Single scan, single
    Exchange, constant per-group state.
    """
    p = triples.where(F.col("h") != F.col("t")).select(
        F.least("h", "t").alias("a"),
        F.greatest("h", "t").alias("b"),
        (F.col("h") < F.col("t")).cast("int").alias("fwd"),
        (F.col("h") > F.col("t")).cast("int").alias("rev"),
    )
    g = p.groupBy("a", "b").agg(
        F.max("fwd").alias("f"), F.max("rev").alias("r")
    )
    return g.agg(
        F.coalesce(F.sum(F.col("f") + F.col("r")), F.lit(0))
        .cast("long")
        .alias("n_edges"),
        F.coalesce(
            F.sum(F.when((F.col("f") == 1) & (F.col("r") == 1), 2).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_reciprocal"),
    ).select(
        "n_edges",
        "n_reciprocal",
        F.try_divide(
            F.col("n_reciprocal").cast("double"), F.col("n_edges").cast("double")
        ).alias("reciprocity"),
    )


def undirected_edges(triples: DataFrame) -> DataFrame:
    """Distinct undirected entity-adjacency ``(a, b)`` with ``a < b``
    (relation labels and direction dropped, self-loops removed)."""
    return (
        triples.select(
            F.least("h", "t").alias("a"), F.greatest("h", "t").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )


def _adjacency(e: DataFrame) -> DataFrame:
    """``(u, v)``: both directions of each undirected edge ``(a, b)`` —
    the symmetric adjacency every neighbourhood operator joins."""
    return e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )


def triangle_count(triples: DataFrame) -> DataFrame:
    """Global triangle count of the entity adjacency graph (one row,
    ``n_triangles``) — the standard clustering/community signal.

    Plan: degree-ORIENTED wedge join. Each undirected edge is directed
    from its lower-(degree, id) endpoint to the higher one; every
    triangle then has exactly one apex with out-edges to both others, so
    one self-join of the oriented edge list on the apex + one closing-
    edge semi-join counts each triangle once. Degree orientation bounds
    any vertex's out-degree by O(sqrt(m)) — the wedge join stays
    polynomial on power-law graphs where a naive id-orientation explodes
    on hub vertices (hubs get IN-edges, producing no wedges). The count
    is orientation-invariant, so the SQL oracle may use the simple
    ``a<b<c`` formulation.
    """
    closed = _closed_triangles(undirected_edges(triples))
    return closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))


def _closed_triangles(e: DataFrame) -> DataFrame:
    """Each triangle of the undirected edge list ``(a, b)`` exactly once
    as ``(src, x, y)`` — the degree-oriented wedge-closure core shared
    by :func:`triangle_count` (global count) and
    :func:`local_clustering` (per-node counts)."""
    deg = (
        e.select(F.col("a").alias("v")).unionByName(e.select(F.col("b").alias("v")))
        .groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): src = smaller endpoint under that order
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    lower_a = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(lower_a, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(lower_a, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    w1 = oriented.select("src", F.col("dst").alias("x"))
    w2 = oriented.select("src", F.col("dst").alias("y"))
    wedges = w1.join(w2, "src").where(F.col("x") < F.col("y"))
    return wedges.join(
        _adjacency(e).select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_semi",
    )


def local_clustering(triples: DataFrame) -> DataFrame:
    """Per-entity local clustering coefficient ``2*T(v) / (d(v)*(d(v)-1))``
    over the undirected entity adjacency — the node-level cohesion
    profile that complements the global triangle count.

    Reuses the degree-oriented wedge closure (each triangle exactly
    once), then explodes the three corners into per-node counts — one
    extra node-keyed aggregation beyond :func:`triangle_count`, no new
    join shape, so the O(sqrt m) out-degree bound still holds. Degree-1
    vertices get coefficient 0.0 (not NULL). Output: ``(e, degree,
    n_triangles, clustering_coeff)``.
    """
    e = undirected_edges(triples)
    closed = _closed_triangles(e)
    corners = (
        closed.select(F.col("src").alias("e"))
        .unionByName(closed.select(F.col("x").alias("e")))
        .unionByName(closed.select(F.col("y").alias("e")))
    )
    tv = corners.groupBy("e").agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    deg = (
        e.select(F.col("a").alias("e")).unionByName(e.select(F.col("b").alias("e")))
        .groupBy("e").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    d = F.col("degree").cast("double")
    return deg.join(tv, "e", "left").select(
        "e",
        "degree",
        F.coalesce("n_tri", F.lit(0).cast("long")).alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.lit(2.0) * F.coalesce("n_tri", F.lit(0)).cast("double")
            / (d * (d - F.lit(1.0))),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def _peel(
    edges: DataFrame,
    survivors: Callable[[DataFrame], DataFrame],
    max_rounds: int | None,
) -> DataFrame:
    """The fixpoint peel of :func:`k_core` and :func:`k_truss`: ``edges``
    after rounds of ``edges ← survivors(edges)`` until a round drops no
    row (``survivors`` only drops rows, so an unchanged count is the
    fixpoint), none is left, or ``max_rounds`` rounds ran. Each round is
    one ``localCheckpoint`` with its row count riding it as an
    Observation — no job runs for the fixpoint test, the rule of
    :func:`_power_iterate`; the input's checkpoint observes its count
    too."""
    if max_rounds is not None and max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    rounds = 0
    prev = None
    while True:
        obs = Observation()
        edges = edges.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        n = obs.get["n"]
        if n == 0 or n == prev or rounds == max_rounds:
            return edges
        prev = n
        rounds += 1
        edges = survivors(edges)


def k_core(
    triples: DataFrame, k: int = 3, max_rounds: int | None = None
) -> DataFrame:
    """The ``k``-core of the undirected entity adjacency: the maximal
    subgraph in which every vertex keeps degree >= ``k`` — the standard
    "dense backbone" profile (cohesive-subgroup detection, influence
    seeding) after degree stats and triangles.

    :func:`_peel` over the symmetric adjacency ``(u, v)``: each round
    counts degrees over the surviving edges and semi-joins both
    endpoints against the vertices still at >= ``k`` (a cascade —
    removals can push neighbours below the bar). The loop runs
    distributed joins only. Rounds are bounded by the peel depth
    (O(sqrt(m)) worst case, small single digits on real degree
    distributions); ``max_rounds`` caps them for fixed-round oracle
    replay — rounds past the fixpoint are no-ops, so any cap >= the peel
    depth gives the exact k-core. Output: ``(e, degree)`` of members
    with their within-core degree.
    """

    def survivors(edges: DataFrame) -> DataFrame:
        keep = (
            edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k).select("u")
        )
        return edges.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        )

    edges = _peel(_adjacency(undirected_edges(triples)), survivors, max_rounds)
    return (
        edges.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .where(F.col("degree") >= k)
        .select(F.col("u").alias("e"), "degree")
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over the undirected edge list ``(a, b)``
    (a < b): each triangle from the degree-oriented closure contributes
    one count to each of its three edges — ``(a, b, support)``, edges in
    no triangle absent."""
    closed = _closed_triangles(e)
    corners = (
        closed.select(
            F.least("src", "x").alias("a"), F.greatest("src", "x").alias("b")
        )
        .unionByName(
            closed.select(
                F.least("src", "y").alias("a"), F.greatest("src", "y").alias("b")
            )
        )
        .unionByName(closed.select(F.col("x").alias("a"), F.col("y").alias("b")))
    )
    return corners.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def k_truss(
    triples: DataFrame, k: int = 3, max_rounds: int | None = None
) -> DataFrame:
    """The ``k``-truss of the undirected entity adjacency: the maximal
    subgraph in which every EDGE sits in at least ``k-2`` triangles —
    the edge-level cohesion notion that complements :func:`k_core`
    (every k-truss is inside the (k-1)-core, but prunes bridge edges
    the core keeps).

    :func:`_peel` over the undirected edges ``(a, b)``, same loop as
    :func:`k_core`: each round recomputes per-edge triangle support over
    the surviving edges (the degree-oriented wedge closure — O(sqrt m)
    apex out-degree bound) and semi-joins the edges at >= ``k-2``;
    removals cascade, so the loop runs to the fixpoint unless
    ``max_rounds`` caps it. Output: the surviving edges ``(a, b,
    support)`` with support recomputed inside the final subgraph.
    """
    if k < 3:
        raise ValueError("k-truss needs k >= 3 (k-2 triangles per edge)")
    e = _peel(
        undirected_edges(triples),
        lambda cur: cur.join(
            _edge_support(cur).where(F.col("support") >= k - 2),
            ["a", "b"],
            "left_semi",
        ),
        max_rounds,
    )
    return e.join(_edge_support(e), ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0).cast("long")).alias("support")
    )


def k_hop_neighbors(triples: DataFrame, seeds: DataFrame, k: int = 2) -> DataFrame:
    """Entities reachable from each seed within ``k`` undirected hops:
    ``(seed, e, min_hops)``, seeds themselves excluded.

    Unrolled BFS: ``k`` broadcast-frontier joins against the adjacency
    list (k is small and fixed — 2 or 3 in entity-context expansion),
    then one min-aggregation. The frontier table is seeds×neighborhood-
    sized; the adjacency list is the corpus-sized side and is only ever
    JOINED, never collected or iterated on the driver.
    """
    adj = _adjacency(undirected_edges(triples))
    frontier = seeds.select(F.col("seed"), F.col("seed").alias("u"))
    reached = None
    for hop in range(1, k + 1):
        frontier = (
            frontier.join(adj, "u")
            .select("seed", F.col("v").alias("e"))
            .dropDuplicates(["seed", "e"])
        )
        step = frontier.withColumn("hops", F.lit(hop).cast("long"))
        reached = step if reached is None else reached.unionByName(step)
        frontier = frontier.select("seed", F.col("e").alias("u"))
    return (
        reached.where(F.col("e") != F.col("seed"))
        .groupBy("seed", "e")
        .agg(F.min("hops").alias("min_hops"))
    )


def _directed_edges(triples: DataFrame) -> DataFrame:
    """Distinct directed entity edges ``(src, dst)`` = ``h -> t``,
    self-loops dropped — the graph the importance operators rank."""
    return (
        triples.select(F.col("h").alias("src"), F.col("t").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _endpoints(edges: DataFrame) -> DataFrame:
    """``(e)``: each distinct endpoint of a ``(src, dst)`` edge table."""
    return (
        edges.select(F.col("src").alias("e"))
        .unionByName(edges.select(F.col("dst").alias("e")))
        .distinct()
    )


def _flag_dangling(edges: DataFrame, out: DataFrame) -> DataFrame:
    """``(e, _dang)`` over the endpoints of ``edges``; ``_dang`` marks
    nodes absent from the per-``src`` out-strength table ``out``."""
    return (
        _endpoints(edges)
        .join(out.select(F.col("src").alias("e"), F.lit(1).alias("_o")), "e", "left")
        .select("e", F.col("_o").isNull().alias("_dang"))
    )


def _power_iterate(
    edges: DataFrame,
    contrib: Column,
    nodes: DataFrame,
    rank0: Column,
    step: Callable[[Column, Column], Column],
    n_iter: int,
    round_decimals: int,
) -> DataFrame:
    """The damped power method behind :func:`pagerank`,
    :func:`personalized_pagerank` and :func:`pagerank_weighted`:
    ``(e, rank)`` after ``n_iter`` rounds. The variant supplies the
    checkpointed ``(src, dst, …)`` ``edges`` with the static out-strength
    folded in and the per-edge ``contrib`` over ``edges ⋈ ranks``; the
    checkpointed ``(e, _dang, …)`` ``nodes`` (with whatever ``step``
    reads, e.g. PPR's base ``b``); ``rank0`` over ``nodes``; and
    ``step(c, dang)``, the unrounded update from the summed in-edge
    contribution and the previous round's dangling mass. The step is an
    expression, not one shared formula: the DuckDB oracles replay each
    variant's exact expression tree.

    Fixed iteration count (no convergence test — N is part of the query
    contract so any engine replays it exactly). Per round: one
    ``edges ⋈ ranks`` join on ``src`` plus one ``groupBy(dst)``
    aggregation (map-side partial), then ``nodes ⟕ contrib``. The
    dangling mass rides the round's ``localCheckpoint`` as an
    Observation: the driver reads one scalar and no job runs for it.

    Every round's ranks are rounded to ``round_decimals`` — floating
    sums are accumulation-order-dependent at the ulp, so without the
    per-round round two engines (or two partitionings) could drift
    apart across rounds; rounding at 1e-9 re-synchronizes each round
    (per-round error is ~1e-15, far inside the rounding step). This is
    what makes the DuckDB unrolled-CTE oracles hash-exact, and makes the
    result partitioning-independent — same determinism rule as the
    pipeline's content-hash salting.

    Scale shape: the per-round state is the node-cardinality rank
    table; edges are only ever JOINED (never collected). Each round is
    one join shuffle + one agg shuffle — the irreducible PageRank
    communication; on a cluster, pre-bucketing edges by ``src`` (see
    ``joins.write_bucketed``) removes the join-side Exchange. Rank
    tables are ``localCheckpoint``-ed per round: lineage would otherwise
    grow linearly with rounds (same trap as B8's CC loop,
    canonicalize.py). 5 Spark jobs per round at test scale, pinned by
    ``test_iterative_graph_ops_job_budget``.
    """
    dang_sum = F.coalesce(
        F.sum(F.when(F.col("_dang"), F.col("rank"))), F.lit(0.0)
    ).alias("dang")
    obs = Observation()
    ranks = (
        nodes.select("e", "_dang", rank0.alias("rank"))
        .observe(obs, dang_sum)
        .localCheckpoint()
    )
    for _ in range(n_iter):
        dang = F.lit(float(obs.get["dang"]))
        summed = (
            edges.join(ranks.select(F.col("e").alias("src"), "rank"), "src")
            .groupBy("dst")
            .agg(F.sum(contrib).alias("contrib"))
            .withColumnRenamed("dst", "e")
        )
        obs = Observation()
        ranks = (
            nodes.join(summed, "e", "left")
            .select(
                "e",
                "_dang",
                F.round(
                    step(F.coalesce("contrib", F.lit(0.0)), dang), round_decimals
                ).alias("rank"),
            )
            .observe(obs, dang_sum)
            .localCheckpoint()
        )
    return ranks.select("e", "rank")


def _uniform_pagerank(
    edges: DataFrame,
    out: DataFrame,
    contrib: Column,
    n_iter: int,
    damping: float,
    round_decimals: int,
) -> DataFrame:
    """:func:`_power_iterate` with teleport and dangling mass spread
    uniformly over all N nodes: ``r0 = 1/N``,
    ``rank' = (1-d)/N + d * (contrib + dangling/N)``. ``out`` is the
    per-``src`` out-strength table that ``contrib`` divides by."""
    # out-strength is static: folded into the edge table ONCE, so the
    # loop never joins (or worse, broadcasts) the |V|-sized out table
    edges_out = edges.join(out, "src").localCheckpoint(eager=False)
    # N rides the node table's checkpoint as an Observation, as in hits
    obs = Observation()
    nodes = (
        _flag_dangling(edges, out).observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    )
    # max(1): an empty graph has no rank rows at all, so the value is
    # never observed — the guard only avoids Python's 0-division
    n_val = float(obs.get["n"]) or 1.0
    d, n = F.lit(damping), F.lit(n_val)
    return _power_iterate(
        edges_out, contrib, nodes, F.round(F.lit(1.0 / n_val), round_decimals),
        lambda c, dang: (F.lit(1.0) - d) / n + d * (c + dang / n),
        n_iter, round_decimals,
    )


def pagerank(
    triples: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    round_decimals: int = 9,
) -> DataFrame:
    """Entity importance by damped PageRank over the directed entity
    graph (distinct ``h -> t`` edges, self-loops dropped): ``(e, rank)``.
    A node's rank splits evenly over its out-edges (``rank/od``);
    teleport and dangling mass are uniform (:func:`_uniform_pagerank`).
    Rounding contract and plan shape: :func:`_power_iterate`."""
    edges = _directed_edges(triples).localCheckpoint(eager=False)
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("od")
    ).localCheckpoint(eager=False)
    return _uniform_pagerank(
        edges, outdeg, F.col("rank") / F.col("od"), n_iter, damping, round_decimals
    )


def label_propagation(triples: DataFrame, n_iter: int = 5) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected entity adjacency: ``(e, label)`` after ``n_iter`` rounds.

    Init: every node is its own label (its id). Each round, every node
    SIMULTANEOUSLY adopts the most frequent label among its neighbors,
    ties broken by the smallest label — the deterministic synchronous
    variant (Raghavan et al.'s async/random LPA is partitioning- and
    order-dependent, which would make an engine-exact oracle
    impossible). Fixed iteration count is part of the query contract, so
    a synchronous oscillation is still a deterministic, replayable
    output.

    Plan shape per round: adjacency ⋈ labels on the neighbor key (one
    shuffle; the label table is node-sized and AQE-broadcastable), then
    an explicit repartition on the node key so BOTH aggregations —
    per-(node, label) counting and the per-node argmax — run
    exchange-free on top of it (hash partitioning on ``u`` satisfies the
    clustered distribution of ``(u, label)``): one exchange where the
    naive plan pays two. The argmax is ``max(struct(cnt, -label))`` —
    a single hash aggregation, not a window sort. Labels are
    ``localCheckpoint``-ed per round (referenced by the next join;
    lineage stays O(1) in rounds — B8's CC lesson).
    """
    adj = _adjacency(undirected_edges(triples)).localCheckpoint()
    labels = (
        adj.select(F.col("u").alias("e"))
        .distinct()
        .withColumn("label", F.col("e").cast("long"))
        .localCheckpoint()
    )
    for _ in range(n_iter):
        best = (
            adj.join(labels.withColumnRenamed("e", "v"), "v")
            .repartition("u")
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("u")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("b")
            )
        )
        labels = best.select(
            F.col("u").alias("e"), (-F.col("b.nl")).cast("long").alias("label")
        ).localCheckpoint()
    return labels


def random_walks(
    triples: DataFrame,
    num_walks: int = 2,
    walk_length: int = 4,
    starts: DataFrame | None = None,
) -> DataFrame:
    """DeepWalk-style random-walk corpus over the undirected entity
    adjacency: ``(start, walk, step, e)`` — ``num_walks`` walks of
    ``walk_length`` steps from every start node (step 0 = the start
    itself). The walk sequences are the training corpus a skip-gram
    embedding stage consumes; at scale the output is corpus-sized BY
    DESIGN (|starts| × num_walks × (walk_length+1) rows).

    Determinism: the step-k choice at node ``u`` is the neighbor ``v``
    minimizing ``md5(start:walk:k:u:v)`` (then ``v`` — md5 ties are
    2^-128 events but the contract must not leave them open). A
    lexicographic argmin over a keyed hash is a uniform random choice
    that any engine replays exactly — the same trick as the stratified-
    sample md5 gate, applied per-step: no RNG state, no modular
    arithmetic on parsed hex, partitioning-independent, and the DuckDB
    oracle reproduces every walk hash-exactly.

    Plan shape: ``walk_length`` unrolled join+argmin rounds. Each round
    joins the (starts × num_walks)-sized walker state with the adjacency
    on the current node (the corpus-sized side is only ever JOINED) and
    reduces with one ``min(struct(md5, v))`` hash aggregation — no
    window sort. State is ``localCheckpoint``-ed per step: it is
    referenced twice (next join + output union) and lineage must stay
    O(1) in steps. Every node in the adjacency has ≥1 neighbor, so walks
    never dead-end (isolated entities never enter the walk set).
    """
    adj = _adjacency(undirected_edges(triples)).localCheckpoint()
    nodes = adj.select(F.col("u").alias("start")).distinct()
    if starts is not None:
        nodes = (
            starts.select("start").dropDuplicates().join(nodes, "start", "left_semi")
        )
    walk_ids = (
        triples.sparkSession.range(num_walks).select(F.col("id").alias("walk"))
    )
    state = nodes.crossJoin(F.broadcast(walk_ids)).select(
        "start", "walk", F.col("start").alias("e")
    ).localCheckpoint()
    out = state.withColumn("step", F.lit(0).cast("long"))
    for k in range(1, walk_length + 1):
        m = F.md5(
            F.concat_ws(
                ":", F.col("start"), F.col("walk"), F.lit(k), F.col("u"), F.col("v")
            ).cast("binary")
        )
        state = (
            state.join(adj, state["e"] == adj["u"])
            .groupBy("start", "walk")
            .agg(F.min(F.struct(m.alias("m"), F.col("v").alias("v"))).alias("c"))
            .select("start", "walk", F.col("c.v").alias("e"))
            .localCheckpoint()
        )
        out = out.unionByName(state.withColumn("step", F.lit(k).cast("long")))
    return out.select("start", "walk", "step", "e")


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram training pairs from a random-walk corpus:
    ``(center, context, n_pairs)`` — every ordered pair of nodes
    co-occurring within ``window`` steps on the same walk, counted
    across the corpus. This is the table a skip-gram/word2vec-style
    embedding trainer consumes (DeepWalk's second stage); ``n_pairs``
    is the co-occurrence weight.

    Plan: self-join of the walk table on the walk key with the
    ``|i - j| <= window`` band predicate — the per-walk group is
    (walk_length+1) rows, so the join fan-out is bounded by the fixed
    window, never corpus-squared; Catalyst reuses one Exchange for both
    sides of the self-join. A collect_list + higher-order-function
    pairing would hit the interpreted-HOF re-evaluation trap
    (explode's non-empty filter references the lambda twice;
    docs/PLANS.md §6) — the band self-join stays whole-stage-codegen.
    """
    a = walks.select(
        "start", "walk", F.col("step").alias("i"), F.col("e").alias("center")
    )
    b = walks.select(
        "start", "walk", F.col("step").alias("j"), F.col("e").alias("context")
    )
    return (
        a.join(b, ["start", "walk"])
        .where(
            (F.col("i") != F.col("j"))
            & (F.abs(F.col("i") - F.col("j")) <= F.lit(window))
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def _open_wedges(
    triples: DataFrame, max_degree: int
) -> tuple[DataFrame, DataFrame]:
    """``(wedges, deg)`` for the neighbourhood link predictors: ``wedges``
    is ``(x, y, dz)``, one row per common neighbour ``z`` (of degree
    ``dz``) of each NON-adjacent pair ``x < y``; ``deg`` is ``(z, dz)``.

    Wedge self-join of the adjacency on the middle node, then an
    anti-join against the edge set keeps only predicted links.
    ``max_degree`` drops super-hub middle nodes before the wedge join —
    the join is Θ(deg²) per middle node, and a 10^6-degree hub
    contributes ~1/ln(10^6) ≈ 0.07 per pair while exploding the plan
    (same guard as the n-gram inverted-index df cap). At fixture scale
    no node reaches the cap, so the oracles need no cap clause."""
    e = undirected_edges(triples)
    adj = _adjacency(e)
    deg = adj.groupBy(F.col("u").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("dz")
    )
    mid = adj.select(F.col("u").alias("z"), F.col("v")).join(
        deg.where(F.col("dz") <= F.lit(int(max_degree))), "z"
    )
    w1 = mid.select("z", "dz", F.col("v").alias("x"))
    w2 = mid.select("z", F.col("v").alias("y"))
    wedges = w1.join(w2, "z").where(F.col("x") < F.col("y")).join(
        e.select(F.col("a").alias("x"), F.col("b").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return wedges.select("x", "y", "dz"), deg


def _adamic_adar(dz: Column) -> Column:
    """``round(Σ 1/ln dz, 6)`` over a group of wedges: a common neighbour
    of two distinct nodes has ``dz >= 2``, so ``ln`` is never 0, and the
    round makes the float sum partitioning-independent and oracle-exact
    (the kernel-score contract)."""
    return F.round(F.sum(F.lit(1.0) / F.log(dz.cast("double"))), 6)


def adamic_adar_candidates(
    triples: DataFrame, k: int = 20, max_degree: int = 10_000
) -> DataFrame:
    """Structural link-prediction candidates by Adamic-Adar score:
    top-``k`` NON-adjacent entity pairs ``(x, y, score)`` with
    ``score = Σ_z 1/ln(deg(z))`` over common neighbors ``z`` — the
    classic non-embedding KG-completion baseline (and the sanity
    companion to the TransE-style A19 completions).

    Plan: :func:`_open_wedges` (wedge join, hub cap, anti-join), one sum
    aggregation, TakeOrdered top-k with ties to the pair id.
    """
    wedges, _ = _open_wedges(triples, max_degree)
    return (
        wedges.groupBy("x", "y")
        .agg(_adamic_adar(F.col("dz")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("x"), F.col("y"))
        .limit(k)
    )


def link_prediction_scores(
    triples: DataFrame, k: int = 20, max_degree: int = 10_000
) -> DataFrame:
    """All four classic neighborhood link-prediction heuristics in ONE
    wedge-join pass: for each non-adjacent pair sharing >= 1 neighbor,
    ``n_common`` (common neighbors), ``jaccard``
    (``|N(x)∩N(y)| / |N(x)∪N(y)|``), ``adamic_adar`` (``Σ 1/ln d(z)``),
    ``resource_alloc`` (``Σ 1/d(z)``), ``pref_attach`` (``d(x)·d(y)``).
    Top-``k`` by Adamic-Adar (ties to the pair id).

    The wedges are :func:`_open_wedges`, as in
    :func:`adamic_adar_candidates` — the extra metrics are free
    aggregates on the SAME shuffled rows plus two node-keyed degree
    joins for the endpoint degrees (entity-dictionary-sized, broadcast
    at any realistic entity count). Float sums are ``round(…, 6)`` for
    accumulation-order independence; jaccard is an exact double of two
    integers and pref_attach an exact long.
    """
    wedges, deg = _open_wedges(triples, max_degree)
    pairs = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        _adamic_adar(F.col("dz")).alias("adamic_adar"),
        F.round(F.sum(F.lit(1.0) / F.col("dz").cast("double")), 6).alias(
            "resource_alloc"
        ),
    )
    dx = deg.select(F.col("z").alias("x"), F.col("dz").alias("dx"))
    dy = deg.select(F.col("z").alias("y"), F.col("dz").alias("dy"))
    return (
        pairs.join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
            "adamic_adar",
            "resource_alloc",
            (F.col("dx") * F.col("dy")).cast("long").alias("pref_attach"),
        )
        .orderBy(F.col("adamic_adar").desc(), F.col("x"), F.col("y"))
        .limit(k)
    )


def personalized_pagerank(
    triples: DataFrame,
    seeds: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    round_decimals: int = 9,
) -> DataFrame:
    """Personalized PageRank: entity importance RELATIVE to a seed set
    (``(e, rank)``) — the teleport distribution is uniform over the
    seeds instead of all nodes, so mass concentrates in the seeds'
    neighborhoods. The standard query behind "entities related to X"
    recommendation / KG-completion candidate generation.

    Same graph and ``rank/od`` edge weight as :func:`pagerank`; the
    base vector ``b`` is ``1/|S|`` on seeds (seeds outside the graph
    are ignored) and ``0`` elsewhere, ``r0 = b``, and the update is
    ``r' = (1-d)·b + d·(contrib + dang·b)`` — dangling mass
    redistributes along the TELEPORT distribution, not uniformly.
    Rounding contract and plan shape: :func:`_power_iterate`.
    """
    edges = _directed_edges(triples).localCheckpoint(eager=False)
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("od")
    ).localCheckpoint(eager=False)
    nodes = _flag_dangling(edges, outdeg).localCheckpoint(eager=False)
    s = (
        seeds.select(F.col("seed").alias("e"))
        .dropDuplicates()
        .join(nodes, "e", "left_semi")
    )
    ns = s.agg(F.count(F.lit(1)).cast("double").alias("ns"))
    # the teleport base is static too: folded into the node table next
    # to the dangling flag
    base = (
        nodes.join(s.withColumn("_s", F.lit(1)), "e", "left")
        .crossJoin(F.broadcast(ns))
        .select(
            "e",
            "_dang",
            F.round(
                F.when(F.col("_s").isNotNull(), F.lit(1.0) / F.col("ns")).otherwise(
                    F.lit(0.0)
                ),
                round_decimals,
            ).alias("b"),
        )
        .localCheckpoint()
    )
    d, b = F.lit(damping), F.col("b")
    return _power_iterate(
        edges.join(outdeg, "src").localCheckpoint(eager=False),
        F.col("rank") / F.col("od"), base, b,
        lambda c, dang: (F.lit(1.0) - d) * b + d * (c + dang * b),
        n_iter, round_decimals,
    )


def top_hubs(triples: DataFrame, k: int = 10) -> DataFrame:
    """Top-``k`` entities by total degree — ``orderBy + limit`` compiles
    to TakeOrdered (per-partition top-k, k-row driver merge), never a
    global sort or a single-partition window."""
    return entity_degrees(triples).orderBy(
        F.col("degree").desc(), F.col("e")
    ).limit(k)


def hits(
    triples: DataFrame,
    n_iter: int = 10,
    round_decimals: int = 9,
) -> DataFrame:
    """HITS hubs-and-authorities over the directed entity graph
    (distinct ``h -> t`` edges, self-loops dropped): ``(e, hub, auth)``.
    The third leg of the importance family next to :func:`pagerank`
    (global importance) and :func:`personalized_pagerank` (seeded):
    authorities are entities many good hubs point AT, hubs are entities
    pointing at many good authorities — on a KG this separates
    frequently-referenced objects from well-connected subjects, which a
    symmetric score like degree or PageRank-on-the-undirected-graph
    conflates.

    Fixed-iteration mutual power method with L1 (sum) normalization:
    per iteration ``auth'(v) = Σ_{u→v} hub(u)`` then ``auth /= Σ auth``,
    then ``hub'(u) = Σ_{u→v} auth(v)`` then ``hub /= Σ hub``. L1 keeps
    the normalizer a plain SUM instead of a sqrt-of-squares, and the
    fixed point is the same principal eigenvector direction as the
    textbook L2 variant — only the scale of the reported scores differs
    (they sum to 1, which is also the more interpretable contract).
    ``n_iter = 0`` gives the uniform ``round(1/N, …)`` on both axes.

    One loop of ``2·n_iter`` half-steps alternating ``src→dst`` (auth)
    and ``dst→src`` (hub). The loop state is the raw sums ``(e, s)``,
    ``localCheckpoint``-ed each half-step with ``Σ s`` riding the
    checkpoint as an Observation; the next half-step joins the
    normalized score ``round(s / Σ s, round_decimals)`` per edge. So a
    half-step is one join shuffle + one agg shuffle, and no job runs
    for the normalizer — the rule of :func:`_power_iterate`. The node
    table is joined once, at the end: sink-only nodes keep hub 0,
    source-only nodes auth 0.

    Same determinism contract as :func:`_power_iterate`: every score is
    rounded to ``round_decimals`` AFTER normalization, so the
    accumulation-order ulp noise of the float sums (~1e-16 relative)
    cannot drift across iterations and the DuckDB unrolled-CTE oracle
    is hash-exact.
    """
    edges = _directed_edges(triples).localCheckpoint()

    def checkpoint(raw: DataFrame) -> tuple[DataFrame, Column]:
        obs = Observation()
        raw = raw.observe(obs, F.sum("s").alias("tot")).localCheckpoint()
        # an empty sum observes None: a NULL total, over no rows
        return raw, F.lit(obs.get["tot"]).cast("double")

    def normalized(s: Column, tot: Column) -> Column:
        return F.round(s / tot, round_decimals)

    # hub0 = round(1/N): a raw 1.0 per node over their sum N
    hub = checkpoint(_endpoints(edges).withColumn("s", F.lit(1.0)))
    nodes, auth = hub[0].select("e"), None
    for i in range(2 * n_iter):
        (raw, tot), key, out = (
            (hub, "src", "dst") if i % 2 == 0 else (auth, "dst", "src")
        )
        summed = checkpoint(
            edges.join(
                raw.select(
                    F.col("e").alias(key), normalized(F.col("s"), tot).alias("w")
                ),
                key,
            )
            .groupBy(F.col(out).alias("e"))
            .agg(F.sum("w").alias("s"))
        )
        if i % 2 == 0:
            auth = summed
        else:
            hub = summed
    auth = auth or hub
    zero = F.lit(0.0)
    return (
        nodes.join(hub[0].withColumnRenamed("s", "sh"), "e", "left")
        .join(auth[0].withColumnRenamed("s", "sa"), "e", "left")
        .select(
            "e",
            normalized(F.coalesce("sh", zero), hub[1]).alias("hub"),
            normalized(F.coalesce("sa", zero), auth[1]).alias("auth"),
        )
    )


def community_modularity(triples: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity breakdown of a community assignment over the
    undirected entity graph: one row per community ``(label, n_nodes,
    intra_edges, deg_sum, q_contrib)`` where ``q_contrib = e_c/m -
    (d_c/2m)^2`` — summing ``q_contrib`` gives the classic modularity
    Q. The quality gate for :func:`label_propagation` output (Q near 0
    ⇒ the partition is no better than random; LPA degenerating to
    one-community-per-node or one-giant-community shows up immediately
    in ``n_nodes``/``q_contrib``).

    ``labels`` is any ``(e, label)`` assignment (LPA output or an
    external table); entities missing from it are dropped from the
    scored graph (their edges too), so a partial labeling is scored on
    the subgraph it covers.

    Plan shape: undirected-edge dedup (1 shuffle) → two node-keyed
    joins to tag each edge endpoint's label (the label table is
    |V|-sized, AQE-broadcastable at dictionary cardinality) → one
    groupBy(label) for intra-edge counts and one for degree sums — all
    map-side-partial aggregations; ``m`` and ``2m`` ride a one-row
    broadcast. ``q_contrib`` is ``round(…, 9)`` — same float-sum
    re-synchronization contract as the pagerank family.
    """
    e = undirected_edges(triples)
    la = labels.select(F.col("e").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("e").alias("b"), F.col("label").alias("lb"))
    tagged = e.join(la, "a").join(lb, "b").localCheckpoint()
    m = tagged.agg(F.count(F.lit(1)).cast("double").alias("m"))
    intra = (
        tagged.where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra_edges"))
    )
    # degree over the LABELED subgraph: both endpoint expansions of the
    # tagged edge table, so dropped (unlabeled) endpoints don't count
    deg = (
        tagged.select(F.col("a").alias("e"), F.col("la").alias("label"))
        .unionByName(
            tagged.select(F.col("b").alias("e"), F.col("lb").alias("label"))
        )
        .groupBy("e", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    per_label = deg.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("deg").cast("long").alias("deg_sum"),
    )
    return (
        per_label.join(intra, "label", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "label",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            "deg_sum",
            F.round(
                F.coalesce("intra_edges", F.lit(0)) / F.col("m")
                - F.pow(F.col("deg_sum") / (F.lit(2.0) * F.col("m")), F.lit(2.0)),
                9,
            ).alias("q_contrib"),
        )
    )


def relation_properties(triples: DataFrame) -> DataFrame:
    """Per-relation structural profile of the KG: ``(r, n_triples,
    n_heads, n_tails, tph, hpt, symmetric_frac)`` — the table that
    tells a KG owner WHICH scoring kernel fits which relation before
    any training happens (symmetric relations break pure TransE;
    tph/hpt feeds bern negative sampling exactly as A3 does;
    near-functional relations, hpt ≈ 1, suit stricter completion
    thresholds).

    * ``tph`` = triples per distinct head, ``hpt`` = triples per
      distinct tail (OpenKE's bern statistics, here per relation as a
      profile rather than a sampler input);
    * ``symmetric_frac`` = fraction of edges whose exact reverse
      ``(t, r, h)`` also exists (self-loops match themselves —
      they are trivially symmetric).

    Plan: distinct-edge dedup, ONE groupBy(r) aggregation (count + two
    count-distincts via a single Expand), one self-join on the reversed
    key for symmetry counts (both sides the same deduped table —
    Catalyst reuses the Exchange), one broadcast-sized join of the two
    per-relation tables. Everything rounds at 9 — the kernel-score
    float contract."""
    base = triples.select("h", "t", "r").dropDuplicates().localCheckpoint()
    agg = base.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.count_distinct("h").cast("long").alias("n_heads"),
        F.count_distinct("t").cast("long").alias("n_tails"),
    )
    rev = base.select(
        F.col("t").alias("h"), F.col("h").alias("t"), F.col("r").alias("r")
    )
    sym = (
        base.join(rev, ["h", "t", "r"], "left_semi")
        .groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sym"))
    )
    return (
        agg.join(sym, "r", "left")
        .select(
            "r",
            "n_triples",
            "n_heads",
            "n_tails",
            F.round(F.col("n_triples") / F.col("n_heads"), 9).alias("tph"),
            F.round(F.col("n_triples") / F.col("n_tails"), 9).alias("hpt"),
            F.round(
                F.coalesce("n_sym", F.lit(0)) / F.col("n_triples"), 9
            ).alias("symmetric_frac"),
        )
    )


def inverse_relations(triples: DataFrame, min_frac: float = 0.5) -> DataFrame:
    """Inverse-relation candidates: pairs ``(r1, r2, n_overlap,
    frac)`` where at least ``min_frac`` of r1's edges ``(h, t)`` have
    the reversed edge ``(t, h)`` under r2 (``r1 != r2`` — the r1 == r2
    diagonal is :func:`relation_properties`' symmetric_frac). The
    redundancy detector: an inverse pair means one relation is derivable
    from the other, which both dedups the KG and (like symmetry) rules
    out kernels that cannot represent inversion.

    Plan: one join of the deduped edge table with its reversal on the
    ``(h, t)`` key (relation columns kept apart), one groupBy(r1, r2)
    count, one broadcast join against per-relation totals. Output is
    |R|²-bounded — report-sized."""
    base = triples.select("h", "t", "r").dropDuplicates().localCheckpoint()
    totals = base.groupBy(F.col("r").alias("r1")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r1")
    )
    rev = base.select(
        F.col("t").alias("h"), F.col("h").alias("t"), F.col("r").alias("r2")
    )
    overlap = (
        base.withColumnRenamed("r", "r1")
        .join(rev, ["h", "t"])
        .where(F.col("r1") != F.col("r2"))
        .groupBy("r1", "r2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    return (
        overlap.join(F.broadcast(totals), "r1")
        .select(
            "r1",
            "r2",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_r1"), 9).alias("frac"),
        )
        .where(F.col("frac") >= F.lit(min_frac))
    )


def node2vec_walks(
    triples: DataFrame,
    num_walks: int = 2,
    walk_length: int = 4,
    p: float = 1.0,
    q: float = 1.0,
    starts: DataFrame | None = None,
) -> DataFrame:
    """Node2vec biased second-order walks (Grover & Leskovec 2016):
    ``(start, walk, step, e)`` like :func:`random_walks`, but the step
    from the current node (with previous node ``prev``) weights each
    candidate ``w`` by ``1/p`` if ``w == prev`` (return), ``1`` if
    ``w`` is adjacent to ``prev`` (stay local / BFS-like), else ``1/q``
    (move outward / DFS-like) — the knob that interpolates between
    structural-equivalence and homophily embeddings, which the uniform
    DeepWalk corpus cannot express.

    Deterministic weighted choice — the hash-exponential argmin: from
    the step's md5 draw a uniform ``u ∈ (0, 1]`` (first 15 hex digits
    over 16^15; +1.0 keeps ``u`` strictly positive), then pick the
    candidate minimizing ``round(−ln(u)/weight, 12)`` (ties by
    candidate id). ``−ln(u)/w`` is an Exponential(w) variate, and the
    argmin of independent exponentials lands on ``w_i`` with
    probability ``w_i/Σw`` — EXACTLY the node2vec transition kernel,
    with the hash as the randomness, so any engine replays every walk.
    The hex parse is ``conv(hex, 16, 10) → double`` here and
    ``('0x' || hex)::UBIGINT → DOUBLE`` in DuckDB — identical IEEE
    doubles; the round(…, 12) pins the ln ulp. At step 1 there is no
    ``prev`` (sentinel −1): every candidate then takes the same ``1/q``
    weight, and a CONSTANT weight cancels in the argmin — the first
    step is uniform, the standard node2vec convention.

    Plan shape: :func:`random_walks`' unrolled join+argmin rounds plus
    one extra left join per round against the ``(prev, cand)`` edge
    table for the adjacency class — state stays (starts×walks)-sized,
    the adjacency is only ever joined, state localCheckpointed per
    round.
    """
    adj = _adjacency(undirected_edges(triples)).localCheckpoint()
    nodes = adj.select(F.col("u").alias("start")).distinct()
    if starts is not None:
        nodes = (
            starts.select("start").dropDuplicates().join(nodes, "start", "left_semi")
        )
    walk_ids = (
        triples.sparkSession.range(num_walks).select(F.col("id").alias("walk"))
    )
    state = (
        nodes.crossJoin(F.broadcast(walk_ids))
        .select(
            "start", "walk",
            F.lit(-1).cast("long").alias("prev"),
            F.col("start").alias("e"),
        )
        .localCheckpoint()
    )
    out = state.select("start", "walk", F.lit(0).cast("long").alias("step"), "e")
    adjx = adj.select(
        F.col("u").alias("prev"), F.col("v").alias("cand"), F.lit(1).alias("_adj")
    )
    for k in range(1, walk_length + 1):
        cand = (
            state.join(adj, state["e"] == adj["u"])
            .withColumnRenamed("v", "cand")
            .drop("u")
            .join(adjx, ["prev", "cand"], "left")
        )
        m = F.md5(
            F.concat_ws(
                ":", F.col("start"), F.col("walk"), F.lit(k), F.col("e"), F.col("cand")
            ).cast("binary")
        )
        vnum = F.conv(F.substring(m, 1, 15), 16, 10).cast("double")
        u01 = (vnum + F.lit(1.0)) / F.lit(1152921504606846976.0)  # 16^15
        wt = (
            F.when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("_adj") == 1, F.lit(1.0))
            .otherwise(F.lit(1.0 / q))
        )
        key = F.round(-F.log(u01) / wt, 12)
        state = (
            cand.groupBy("start", "walk", "e")
            .agg(F.min(F.struct(key.alias("k"), F.col("cand").alias("v"))).alias("c"))
            .select(
                "start", "walk",
                F.col("e").alias("prev"),
                F.col("c.v").alias("e"),
            )
            .localCheckpoint()
        )
        out = out.unionByName(
            state.select("start", "walk", F.lit(k).cast("long").alias("step"), "e")
        )
    return out.select("start", "walk", "step", "e")


def pagerank_weighted(
    triples: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    round_decimals: int = 9,
) -> DataFrame:
    """PageRank over the MULTI-edge entity graph: the edge ``h -> t``
    carries weight = number of distinct predicates connecting the pair,
    and each node's rank distributes proportionally to edge weight
    (``rank · w / Σ_out w``) instead of uniformly. On a KG this is the
    materially different importance: a pair linked by five relations
    ships five times the endorsement of a single-relation pair, which
    plain :func:`pagerank` (distinct-edge, weight-blind) erases.

    Teleport and dangling mass are uniform, as in :func:`pagerank`.
    Rounding contract and plan shape: :func:`_power_iterate`."""
    edges = (
        triples.where(F.col("h") != F.col("t"))
        .groupBy(F.col("h").alias("src"), F.col("t").alias("dst"))
        .agg(F.count_distinct("r").cast("double").alias("w"))
        .localCheckpoint(eager=False)
    )
    outs = edges.groupBy("src").agg(F.sum("w").alias("sw"))
    return _uniform_pagerank(
        edges, outs, F.col("rank") * F.col("w") / F.col("sw"),
        n_iter, damping, round_decimals,
    )


def shortest_paths(
    edges: DataFrame, sources: DataFrame, n_rounds: int = 4
) -> DataFrame:
    """Multi-source weighted shortest paths over ``edges(u, v, w)``
    (directed; mirror the table for undirected graphs), bounded at
    ``n_rounds`` synchronous Bellman–Ford relaxations — the KG
    proximity query behind "how far is entity X from the seed set".
    Output: ``(src, v, dist)`` = minimum path cost over all paths of
    at most ``n_rounds`` edges, including ``(src, src, 0)``;
    unreachable-within-bound nodes are absent. With ``n_rounds >=
    |V| - 1`` this is the exact shortest path; the bound is the
    contract (and what makes a SQL oracle expressible as unrolled
    rounds rather than an exploding all-paths recursion).

    Scale shape: per round ONE frontier⋈edges join (shuffle on the
    relax key) plus ONE (src, v) min-aggregation with map-side
    partials; state is |sources| x |reachable| rows, never all-pairs.
    ``localCheckpoint`` per round truncates the iterative lineage —
    the same discipline as the connected-components loop
    (canonicalize.py) and pagerank. Integer weights keep every
    distance exact (BIGINT), so engines agree bit-for-bit.
    """
    e = edges.select(
        F.col("u").alias("_eu"),
        F.col("v").alias("_ev"),
        F.col("w").cast("long").alias("_ew"),
    )
    dist = sources.select(
        F.col("src"),
        F.col("src").alias("v"),
        F.lit(0).cast("long").alias("dist"),
    )
    for _ in range(int(n_rounds)):
        relax = dist.join(e, F.col("v") == F.col("_eu")).select(
            "src",
            F.col("_ev").alias("v"),
            (F.col("dist") + F.col("_ew")).alias("dist"),
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("src", "v")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint()
        )
    return dist


def mine_composition_rules(triples: DataFrame, min_support: int = 5) -> DataFrame:
    """AMIE-style horn-rule mining over the KG: for every relation
    composition ``r1(x,z) ∧ r2(z,y) ⇒ r3(x,y)``, the body size
    (#distinct (x,y) pairs connected by an r1-r2 path), the rule
    support (#those pairs where r3(x,y) also holds) and the standard
    confidence support/body — the rule-discovery pass (Galárraga et
    al., AMIE, WWW 2013) a KG owner runs to find redundant or
    predictable relations.

    Output: ``(r1, r2, r3, body_size, support, confidence)`` for rules
    with ``support >= min_support``; confidence is an exact integer
    ratio emitted as double.

    Plan shape: the 2-hop body is ONE self equi-join on the entity key
    (the same wedge join the triangle/k-hop ops use), de-duplicated to
    (x, r1, r2, y) BEFORE the head join so multiple witnesses z never
    multiply the head probe; the head match is a second equi-join on
    (x, y). Aggregations group on relation pairs/triples — a key space
    of |R|^2 / |R|^3, parameter-scale. Hot entities bound the wedge
    join exactly as in triangle counting; a degree cap can pre-filter
    hubs if a corpus needs it (not applied here: rule support on hub
    wedges is real signal, unlike near-dup blocking).
    """
    a = triples.select(
        F.col("h").alias("x"), F.col("r").alias("r1"), F.col("t").alias("z")
    )
    b = triples.select(
        F.col("h").alias("z"), F.col("r").alias("r2"), F.col("t").alias("y")
    )
    body = a.join(b, "z").select("x", "r1", "r2", "y").dropDuplicates(
        ["x", "r1", "r2", "y"]
    )
    body_sizes = body.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("long").alias("body_size")
    )
    heads = triples.select(
        F.col("h").alias("x"), F.col("r").alias("r3"), F.col("t").alias("y")
    ).dropDuplicates(["x", "r3", "y"])
    matched = body.join(heads, ["x", "y"]).groupBy("r1", "r2", "r3").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    return (
        matched.where(F.col("support") >= int(min_support))
        .join(body_sizes, ["r1", "r2"])
        .select(
            "r1", "r2", "r3", "body_size", "support",
            F.try_divide(
                F.col("support").cast("double"),
                F.col("body_size").cast("double"),
            ).alias("confidence"),
        )
    )
