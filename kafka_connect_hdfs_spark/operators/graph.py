"""Graph operators for corpus-level structure analysis.

Not in the reference (kafka-connect-hdfs has no relational layer, SURVEY.md
§2.9) — these extend the training-data pipeline surface: a web-scale corpus
is also a graph (domains linked by shared/duplicated content, users linked by
co-activity), and graph centrality is a standard spam/mirror-domain signal
used when weighting crawl sources.

Design for scale (shapes hold at 1000 executors / 100 TB):
  - Edge construction is the dedup machinery re-aimed at the *group* level:
    distinct (group, shingle) pairs → inverted index on the shingle → pairs
    only form inside a shingle's posting list, with the same stop-shingle
    cap that bounds skew in ngram_jaccard_pairs (dedup.py:91). Text never
    shuffles — only (group, shingle) pairs do, and the universe is bounded
    by |groups| × |shingle universe|, not corpus size.
  - PageRank is a power iteration expressed as |iterations| join+agg rounds.
    The rank table is |nodes|-sized (domains/sources — orders of magnitude
    smaller than the corpus); the edge table is the only big side and it is
    partitioned ONCE on src and reused every iteration. Per-iteration
    shuffle volume is bounded by |nodes| after map-side partial aggregation.
    Edge normalization (w / out-degree) is computed once, outside the loop.

Determinism: hashes derive from md5 (identical in DuckDB) and iteration
count is fixed, so the correctness oracle replays the exact computation as
unrolled SQL CTEs; final ranks round to 6 decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.operators.dedup import with_shingles
from kafka_connect_hdfs_spark.operators.iterate import (
    fixpoint, materialize, materialized, release,
)


def _capped_group_shingles(
    df: DataFrame,
    n: int,
    group_col: str,
    text_col: str,
    max_groups_per_shingle: int,
) -> DataFrame:
    """Shared kernel: distinct (group, shingle) pairs with the
    stop-shingle cap applied — the posting list per shingle is bounded at
    ``max_groups_per_shingle`` groups (ubiquitous shingles connect
    everything and carry no signal; their pair blowup is cap²-bounded).
    The ONE place the group-level shingle universe is defined, shared by
    :func:`shingle_share_edges` and :func:`group_jaccard_edges`.
    """
    sh = with_shingles(df, n, id_col=group_col, text_col=text_col).distinct()
    freq = sh.groupBy("shingle").agg(F.count("*").alias("n_groups"))
    return sh.join(
        freq.filter(F.col("n_groups") <= max_groups_per_shingle), "shingle"
    ).select(group_col, "shingle")


def _group_intersections(sh_f: DataFrame, group_col: str) -> DataFrame:
    """Pairwise shared-shingle counts over a capped (group, shingle) frame:
    (src_a, src_b, n_shared) with src_a < src_b."""
    a = sh_f.select(F.col(group_col).alias("src_a"), "shingle")
    b = sh_f.select(F.col(group_col).alias("src_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("n_shared"))
    )


def shingle_share_edges(
    df: DataFrame,
    n: int = 3,
    group_col: str = "source",
    text_col: str = "text",
    max_groups_per_shingle: int = 50,
) -> DataFrame:
    """Undirected edges between groups (sources/domains) that share word
    n-gram shingles: (src_a, src_b, n_shared) with src_a < src_b, where
    n_shared counts the DISTINCT shingles both groups contain.

    The duplicate-sharing graph between crawl sources: heavy edges mean
    mirrored/boilerplate content. Scale: see
    :func:`_capped_group_shingles` — candidate pairs never exceed
    Σ cap² over shingles.
    """
    sh_f = _capped_group_shingles(
        df, n, group_col, text_col, max_groups_per_shingle
    )
    return _group_intersections(sh_f, group_col)


def pagerank(
    edges: DataFrame,
    src: str = "src_a",
    dst: str = "src_b",
    weight: str = "n_shared",
    damping: float = 0.85,
    iterations: int = 3,
    directed: bool = False,
) -> DataFrame:
    """Weighted PageRank by fixed-iteration power iteration → (node, rank).

    rank_0(v) = 1/N;  rank_{t+1}(v) = (1-d)/N + d · Σ_{u→v} rank_t(u) ·
    w(u,v)/out_w(u).  Undirected input is symmetrized, so every node has
    out-edges and there is no dangling-mass term. Nodes are the edge
    endpoints (isolated nodes carry no structural information here).

    Scale: the normalized edge list (share = w/out_w) is computed ONCE and
    reused across iterations; each iteration is one join (edge × rank, rank
    is |nodes|-sized so AQE broadcasts it under threshold) plus one groupBy
    with map-side partial sums — per-iteration shuffle is |nodes|-bounded.
    Iteration count is a fixed small constant (plan depth ~ iterations), the
    standard batch formulation; convergence-tested loops belong in a driver
    loop with checkpointing every ~5 rounds to cut lineage.

    Directed graphs: nodes are BOTH endpoint sets (a sink that only
    receives links still gets a rank row), and the dangling mass sitting
    on sinks each iteration is redistributed uniformly (the standard
    teleport treatment) — one extra |sinks|-bounded aggregate per round,
    skipped entirely on the undirected path where sinks cannot exist.

    Determinism: all math in double, rank rounded to 6 decimals at the END
    only, so a SQL replayer (unrolled CTEs) agrees.
    """
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_d"),
        F.col(weight).cast("double").alias("_w"),
    )
    if not directed:
        e = e.unionByName(
            e.select(
                F.col("_d").alias("_s"), F.col("_s").alias("_d"), "_w"
            )
        )
    out_w = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    # normalized once, outside the loop: share(u→v) = w/out_w(u)
    norm = e.join(out_w, "_s").select(
        "_s", "_d", (F.col("_w") / F.col("_ow")).alias("_share")
    )
    # NOT checkpointed: the iteration joins reuse the edge-build shuffle
    # via ReusedExchange (one physical DAG), so materializing norm only
    # adds serialization overhead — measured slower at sf0.1, the same
    # lesson as dedup.prefix_filtered_jaccard_pairs' docsets.
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    n_df = F.broadcast(nodes.agg(F.count("*").alias("_n")))
    ranks = nodes.crossJoin(n_df).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    sinks = nodes.join(
        out_w.select(F.col("_s").alias("node")), "node", "anti"
    )
    for _ in range(iterations):
        contrib = (
            norm.join(ranks, norm["_s"] == ranks["node"])
            .groupBy("_d")
            .agg(F.sum(F.col("_share") * F.col("rank")).alias("_c"))
        )
        if directed:
            sink_mass = F.broadcast(
                ranks.join(sinks, "node").agg(
                    F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_sm")
                )
            )
            ranks = (
                nodes.join(contrib, nodes["node"] == contrib["_d"], "left")
                .crossJoin(n_df)
                .crossJoin(sink_mass)
                .select(
                    "node",
                    (
                        (1.0 - damping) / F.col("_n")
                        + damping
                        * (
                            F.coalesce(F.col("_c"), F.lit(0.0))
                            + F.col("_sm") / F.col("_n")
                        )
                    ).alias("rank"),
                )
            )
        else:
            ranks = (
                nodes.join(contrib, nodes["node"] == contrib["_d"], "left")
                .crossJoin(n_df)
                .select(
                    "node",
                    (
                        (1.0 - damping) / F.col("_n")
                        + damping * F.coalesce(F.col("_c"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def covisit_edges(
    events: DataFrame,
    user_col: str = "user_id",
    item_col: str = "event_type",
    ts_col: str = "ts",
    bucket: str = "1 hour",
    max_users_per_bucket: int = 200,
    min_covisits: int = 1,
) -> DataFrame:
    """Bipartite projection: edges between users co-active in the same
    (item, time-bucket) → (user_a, user_b, n_covisits). The co-visitation
    graph used for recommendation and fraud-ring detection.

    Scale: pairs only form inside a (item, bucket) cell; cells larger than
    ``max_users_per_bucket`` distinct users are dropped (a cell that hot is
    a global event, not a co-visitation signal — and its pair count grows
    quadratically). The events table shuffles once on the cell key.
    ``min_covisits`` is the edge-weight analogue of the cell cap: a
    single shared (item, hour) is coincidence, not affinity, and weight-1
    edges make the projection near-dense — downstream iterative consumers
    (PageRank, triangles) should threshold (the measured triangle-count
    lesson: 25.5 s → 5 s at sf0.1 with a weight floor).
    """
    cell = events.select(
        F.col(user_col).alias("u"),
        F.col(item_col).alias("it"),
        F.window(F.col(ts_col), bucket)["start"].alias("bkt"),
    ).distinct()
    size = cell.groupBy("it", "bkt").agg(F.count("*").alias("n_users"))
    cell_f = cell.join(
        size.filter(F.col("n_users") <= max_users_per_bucket), ["it", "bkt"]
    )
    a = cell_f.select(F.col("u").alias("user_a"), "it", "bkt")
    b = cell_f.select(F.col("u").alias("user_b"), "it", "bkt")
    edges = (
        a.join(b, ["it", "bkt"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_covisits"))
    )
    if min_covisits > 1:
        edges = edges.filter(F.col("n_covisits") >= min_covisits)
    return edges


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components by alternating large-star / small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    2014) → ``(node, cluster_id)`` with cluster_id = component minimum.

    This is the documented scale path for DEEP components
    (dedup.py:duplicate_clusters notes it): min-label propagation needs
    diameter-many rounds — a 10⁶-long chain needs 10⁶ iterations — while
    star contraction provably converges in O(log²) rounds (O(log) in
    practice) regardless of diameter. Per round:

      large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u})
      small-star(u): connect every neighbor v ≤ u, and u itself, to
                     m = min(N≤(u) ∪ {u})

    Each half-round is ONE exchange: the center minimum
    m = min(N(u) ∪ {u}) is a partition-frame window min over the center
    key instead of the old groupBy + join-back (r13 optimization round,
    guide §2.4 — two exchanges of the edge list per half-round collapsed
    into one; the WindowExec sort buffers exactly what the old
    sort-merge join's sort already buffered per center, so the hub-skew
    profile is unchanged while the shuffled bytes halve). Large-star's
    output is NOT distinct-ed: small-star's window min is
    duplicate-insensitive, so the intra-round distinct was a pure extra
    |E| shuffle (one distinct per full round, at the end of small-star,
    still bounds the edge multiset). Convergence is detected from a
    count + order-free xxhash checksum of the edge set (two scalars, no
    per-round comparison join) and then CONFIRMED exactly by one
    left-anti join on the converged star forest (equal counts of two
    distinct sets + empty anti ⇒ set equality) — replacing the old
    second full contraction round (3 more |E| shuffles) with one
    O(nodes) probe, and upgrading the stop condition from probabilistic
    (hash) to exact. The rounds run under :func:`iterate.fixpoint`.

    Equivalence with duplicate_clusters is pytest-gated on random graphs
    and on the chain topology where propagation is at its worst.
    """
    from pyspark.sql import Window
    # materialize the raw pair projection ONCE — the contraction loop, the
    # convergence signature, and the self-pair restore below all derive
    # from it, and `pairs` is typically an expensive generated frame
    # (LSH / Jaccard candidate pipelines) that must not be recomputed
    uv = materialize(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    )

    def _sig(edges: DataFrame) -> tuple:
        # bit_xor: order-free and overflow-free under ANSI mode
        h = F.bit_xor(F.xxhash64(F.least("u", "v"), F.greatest("u", "v")))
        return tuple(edges.agg(F.count("*"), h).first())

    _w_center = Window.partitionBy("u")

    def _large_star(edges: DataFrame) -> DataFrame:
        # duplicate-tolerant (window min ignores multiplicity) and emits a
        # multiset: the consumer (_small_star) is itself duplicate-
        # insensitive, so no distinct here — one exchange, not three
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = F.least(F.min("v").over(_w_center), F.col("u"))
        return (
            sym.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        le = sym.filter(F.col("v") <= F.col("u"))
        m = F.least(F.min("v").over(_w_center), F.col("u"))
        # neighbor edge (v, m) from every row; center edge (u, m) emitted
        # per row instead of once per center — the round-final distinct
        # collapses the copies, and skipping the separate center frame
        # keeps the half-round at ONE exchange
        both = F.array(
            F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
            F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
        )
        return (
            le.withColumn("m", m)
            .select(F.explode(both).alias("e"))
            .select(F.col("e.a").alias("u"), F.col("e.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # on equal signatures the counts match and both sides are distinct
    # sets, so one empty left-anti join PROVES set equality — an exact
    # fixed-point witness for the price of a star-forest probe
    e = fixpoint(
        lambda edges: _small_star(_large_star(edges)),
        uv.filter(F.col("u") != F.col("v")).distinct(),
        _sig,
        max_rounds,
        confirm=lambda new, old: new.join(old, ["u", "v"], "left_anti").isEmpty(),
    )
    # converged graph is a union of stars centered at component minima:
    # every node's label is its minimum incident endpoint (or itself)
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = (
        sym.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("cluster_id"))
        .select(F.col("u").alias("node"), "cluster_id")
    )
    # nodes appearing ONLY in self-pairs were dropped by the u != v edge
    # filter; the propagation path returns them with cluster_id = own id,
    # so union them back for contract parity (dedup.py:duplicate_clusters).
    # Candidate generators never emit self-pairs, so the common case is a
    # cheap limit-1 probe on the checkpointed projection and zero joins.
    self_nodes = (
        uv.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .distinct()
    )
    if self_nodes.isEmpty():
        release(uv)
        return labels
    missing = self_nodes.join(labels, "node", "left_anti")
    return labels.unionByName(
        missing.select("node", F.col("node").alias("cluster_id"))
    )


def _triangles(pairs: DataFrame, id_a: str, id_b: str) -> "tuple[DataFrame, DataFrame]":
    """The degree-oriented wedge join shared by :func:`triangle_count` and
    :func:`clustering_coefficients`: ``(deg, tri)`` with ``deg`` =
    ``(u, d)`` over the undirected simple graph and ``tri`` = ``(a, b, c)``,
    each triangle once."""
    e = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    with_deg = (
        sym.join(deg.select(F.col("u"), F.col("d").alias("du")), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v"
        )
    )
    oriented = with_deg.filter(
        (F.col("du") < F.col("dv"))
        | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v")
    wedge = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("a"),
        F.col("e1.v").alias("b"),
        F.col("e2.v").alias("c"),
    )
    return deg, wedge.join(
        oriented.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
    ).select("a", "b", "c")


def triangle_count(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Global triangle count of an undirected graph → one row
    ``(n_triangles)``. Triangle density separates organic neighborhoods
    from farmed link/co-visitation structures (spam rings are near-cliques;
    crawl mirrors triangulate heavily), the classic graph-QA scalar.

    Scale — DEGREE orientation (Cohen 2009 / Suri & Vassilvitskii WWW'11):
    each undirected edge is oriented from its (degree, id)-lower endpoint
    to the higher one, so every node's OUT-degree is bounded (a hub of
    degree d contributes wedges only through its ~sqrt-bounded lower-degree
    neighbors), making the wedge join O(m^{3/2}) worst case instead of
    Σdeg² — the hub-skew guard. Each triangle is counted exactly once
    (its orientation is acyclic). Three joins on node keys, one count.
    """
    return _triangles(pairs, id_a, id_b)[1].agg(
        F.count("*").alias("n_triangles")
    )


def clustering_coefficients(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-node local clustering coefficient of an undirected graph:
    ``cc(x) = 2·T(x) / (d(x)·(d(x)−1))`` with ``T(x)`` = triangles
    through x — the node-level refinement of :func:`triangle_count`
    (the global scalar says "this graph triangulates"; the coefficient
    says WHICH accounts sit inside near-cliques — the spam-ring /
    crawl-mirror membership list, Watts-Strogatz 1998). Returns
    ``(node, degree, n_triangles, clustering)`` for nodes with
    degree ≥ 2 (the coefficient is undefined below), 6-dp HALF-UP.

    Scale: the SAME degree-oriented wedge join as
    :func:`triangle_count` (O(m^{3/2}) worst case, hub-skew bounded —
    each triangle enumerated once), then one explode-to-3-rows per
    triangle + a node-keyed count; degrees join back on the node key.
    The denominator multiplies per-factor DOUBLES (the r08 overflow
    convention — d·(d−1) in 64-bit wraps at ~3e9-degree hubs).
    """
    from kafka_connect_hdfs_spark.operators.similarity import q6_col

    deg, tri = _triangles(pairs, id_a, id_b)
    per_node = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    nodes = deg.filter(F.col("d") >= 2).select(
        F.col("u").alias("node"), F.col("d").alias("degree")
    )
    cc = (F.lit(2.0) * F.col("n_triangles").cast("double")) / (
        F.col("degree").cast("double")
        * (F.col("degree") - 1).cast("double")
    )
    return (
        nodes.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            q6_col(F.coalesce(cc, F.lit(0.0))).alias("clustering"),
        )
        .orderBy("node")
    )


def group_jaccard_edges(
    df: DataFrame,
    n: int = 3,
    group_col: str = "source",
    text_col: str = "text",
    max_groups_per_shingle: int = 50,
    threshold: float = 0.0,
) -> DataFrame:
    """:func:`shingle_share_edges` normalized to a true group-level Jaccard:
    ``(src_a, src_b, n_shared, jaccard)`` with jaccard = |A∩B|/|A∪B| over
    each group's kept shingle set — the mirror-site detector ("these two
    domains share 85% of their content") that raw shared counts can't
    express for differently-sized sources.

    Same filtered-universe semantics as the edge builder (sizes count the
    capped shingle set, so the ratio is exact for that universe); the size
    table is |groups|-sized and joins back by key.
    """
    sh_f = _capped_group_shingles(
        df, n, group_col, text_col, max_groups_per_shingle
    )
    sizes = sh_f.groupBy(group_col).agg(F.count("*").alias("set_size"))
    inter = _group_intersections(sh_f, group_col)
    sa = sizes.select(
        F.col(group_col).alias("src_a"), F.col("set_size").alias("_za")
    )
    sb = sizes.select(
        F.col(group_col).alias("src_b"), F.col("set_size").alias("_zb")
    )
    return (
        inter.join(sa, "src_a")
        .join(sb, "src_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("_za") + F.col("_zb") - F.col("n_shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("src_a", "src_b", "n_shared", "jaccard")
    )


def kcore_decompose(
    pairs: DataFrame,
    k: int = 2,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete nodes
    of degree < ``k`` until none remain; surviving nodes form the k-core.
    Returns ``(node, core_degree)`` — each survivor with its degree INSIDE
    the core. The standard dense-substructure extractor for corpus graphs:
    spam/link farms and crawl mirror rings sit in high cores, organically
    linked documents fall out early (Seidman 1983; Batagelj–Zaveršnik).

    Scale: each round is one degree aggregation (|nodes|-bounded, map-side
    partial) + two semi-join filters of the edge list on surviving nodes —
    the same primitives as PageRank rounds, never edge×edge. The rounds
    run under :func:`iterate.fixpoint`; peeling converges in at most
    diameter-ish rounds and ``max_rounds`` bounds pathology (real corpus
    graphs peel in < 10). Convergence is EXACT: a round only removes
    edges, so an unchanged edge count means a fixed point — no signature
    hashing needed.
    """
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def _peel(sym: DataFrame) -> DataFrame:
        keep = (
            sym.groupBy("u").agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("u")
        )
        return sym.join(keep, "u", "left_semi").join(
            keep.select(F.col("u").alias("v")), "v", "left_semi"
        )

    sym = fixpoint(
        _peel,
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))),
        None,
        max_rounds,
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    return deg.filter(F.col("d") >= k).select(
        F.col("u").alias("node"), F.col("d").alias("core_degree")
    )


def label_propagation_communities(
    pairs: DataFrame,
    iterations: int = 4,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, Phys. Rev. E 76): every node starts as its own community; each
    round, every node adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label — fully deterministic (no random
    visit order, no async races), so a fixed-``iterations`` run replays
    bit-identically in any engine. Isolated nodes keep their own label.
    Returns ``(node, community, n_members)``.

    This complements the clustering family: duplicate_clusters /
    connected_components_star find *connected components* (transitive
    closure), LPA finds *densely-linked groups inside* a component — the
    community structure of the co-visitation graph, not its reachability.

    Scale: per round the raw (node, neighbour label) rows — 2·|edges| of
    them — are repartitioned by node in one exchange, and the (node,
    label) count and the per-node min-of-struct argmax both run on that
    partitioning with no further shuffle. No map-side partial count runs
    before the exchange, so a hub's neighbour rows all reach one reducer.
    No window functions, no edge×edge joins. The symmetrized edge list
    is materialized for the sweeps and released once the final labels
    are. Fixed round count (LPA in practice
    stabilizes in < 5 sweeps; Raghavan §4) keeps the cost bounded and the
    semantics oracle-able.
    """
    e = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # one materialization: sym feeds every sweep (and the node set); the
    # label frame itself is consumed once per round, so the whole fixed-
    # iteration loop stays ONE query — no per-round checkpoint jobs
    with materialized(
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ) as sym:
        labels = sym.select("u").distinct().select("u", F.col("u").alias("lbl"))
        for _ in range(iterations):
            nbr = sym.join(
                labels.select(F.col("u").alias("v"), "lbl"), "v"
            ).select("u", "lbl")
            # ONE u-keyed exchange per sweep instead of two: HashPartitioning(u)
            # satisfies the clustering required by BOTH the (u, lbl) count and
            # the (u) argmax, so repartitioning the neighbor stream by u lets
            # the two aggregations fuse into a single shuffle (§2.4 — the same
            # shared-exchange trick as the star kernel's window min); the old
            # shape exchanged partial (u, lbl) counts and then re-exchanged
            # them by u
            counts = nbr.repartition("u").groupBy("u", "lbl").agg(
                F.count("*").alias("c")
            )
            # argmax by (count DESC, label ASC) as one min-of-struct agg:
            # (-c, lbl) — the COUNT is negated (always numeric), not the
            # label, so string/any-type node ids order by their natural ASC
            # (the old (c, -lbl) form failed under ANSI for string ids —
            # ADVICE r04). Every node in sym has >= 1 neighbor (symmetrized,
            # self-pairs dropped), so this covers the full node set — no
            # isolated-node restore join is needed.
            labels = counts.groupBy("u").agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias(
                    "m"
                )
            ).select("u", F.col("m.lbl").alias("lbl"))
        # final labels feed two consumers (sizes + join) — materialize once
        labels = materialize(labels)
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("n_members"))
    return labels.join(sizes, "lbl").select(
        F.col("u").alias("node"),
        F.col("lbl").alias("community"),
        "n_members",
    )


def modularity_report(
    pairs: DataFrame,
    labels: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    node_col: str = "node",
    community_col: str = "community",
) -> DataFrame:
    """Newman modularity of a partition over an undirected graph
    (Newman & Girvan 2004): per community ``Q_c = e_c/m − (d_c/2m)²``
    where ``e_c`` is the intra-community edge count, ``d_c`` the summed
    degree, ``m`` the total edge count — total modularity is the sum of
    ``q_contrib``. The quality number that says whether the communities
    LPA found are real structure (Q ≈ 0.3+) or noise (Q ≈ 0).

    Scale: edges canonicalize map-side (least/greatest + distinct);
    intra counting is two |edges|-bounded label joins; degrees and
    community rollups are node-bounded aggs; ``m`` rides along as one
    broadcast row.
    """
    a, b = F.col(id_a), F.col(id_b)
    e = materialize(
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = e.agg(F.count("*").cast("double").alias("m"))
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    lab = labels.select(
        F.col(node_col).alias("u"), F.col(community_col).alias("c")
    )
    la = lab.select(F.col("u"), F.col("c").alias("ca"))
    lb = lab.select(F.col("u").alias("v"), F.col("c").alias("cb"))
    intra = (
        e.join(la, "u")
        .join(lb, "v")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").alias("intra_edges"))
    )
    comm = (
        lab.join(deg, "u")
        .groupBy("c")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("d").alias("degree_sum"),
        )
    )
    return (
        comm.join(intra, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.col("c").alias(community_col),
            "n_members",
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
            "degree_sum",
            F.round(
                F.coalesce("intra_edges", F.lit(0)) / F.col("m")
                - (F.col("degree_sum") / (2.0 * F.col("m")))
                * (F.col("degree_sum") / (2.0 * F.col("m"))),
                6,
            ).alias("q_contrib"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: "list",
    src: str = "src_a",
    dst: str = "src_b",
    weight: str = "n_shared",
    damping: float = 0.85,
    iterations: int = 3,
) -> DataFrame:
    """Personalized (seed-teleport) PageRank → ``(node, rank)``: the
    random walk restarts at the SEED set instead of everywhere, so rank
    measures proximity to the seeds — the "more like these" expansion
    primitive (related-item discovery, fraud-ring neighborhoods, topic
    expansion from labeled exemplars). rank_0(v) = [v∈S]/|S|;
    rank_{t+1}(v) = (1−d)·[v∈S]/|S| + d·Σ_{u→v} share(u→v)·rank_t(u).
    Undirected input symmetrized like :func:`pagerank`; seeds not present
    in the graph are ignored (they have no edges to walk).

    Scale: identical shape to :func:`pagerank` — the normalized edge list
    computes once, each iteration is one |edges| join + |nodes|-bounded
    partial-summed groupBy; the seed indicator is a broadcast-joined flag
    column, never a shuffle key.
    """
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_d"),
        F.col(weight).cast("double").alias("_w"),
    )
    e = e.unionByName(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"), "_w")
    )
    out_w = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    norm = e.join(out_w, "_s").select(
        "_s", "_d", (F.col("_w") / F.col("_ow")).alias("_share")
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    spark = edges.sparkSession
    seed_df = F.broadcast(
        spark.createDataFrame(
            [(s,) for s in seeds], f"node {nodes.schema['node'].dataType.simpleString()}"
        )
    )
    flagged = nodes.join(
        seed_df.select("node", F.lit(1.0).alias("_is_seed")), "node", "left"
    ).select("node", F.coalesce("_is_seed", F.lit(0.0)).alias("_is_seed"))
    # eager guard: seeds absent from the graph would make |S| = 0 and the
    # teleport division NULL — every rank silently null (r05 ADVICE item).
    # ONE scalar aggregate over the |nodes|-bounded flag frame; the
    # collected |S| then rides as a literal (no second aggregate, no
    # broadcast crossJoin — the r06 review finding).
    _n_eff = flagged.agg(F.sum("_is_seed")).collect()[0][0] or 0.0
    if _n_eff <= 0:
        raise ValueError(
            "personalized_pagerank: none of the seeds are present in the "
            f"graph (seeds={list(seeds)[:5]}{'...' if len(list(seeds)) > 5 else ''})"
        )
    ns_lit = F.lit(float(_n_eff))
    ranks = flagged.select(
        "node",
        "_is_seed",
        (F.col("_is_seed") / ns_lit).alias("rank"),
    )
    for _ in range(iterations):
        contrib = (
            norm.join(ranks, norm["_s"] == ranks["node"])
            .groupBy("_d")
            .agg(F.sum(F.col("_share") * F.col("rank")).alias("_c"))
        )
        ranks = (
            flagged.join(contrib, flagged["node"] == contrib["_d"], "left")
            .select(
                "node",
                "_is_seed",
                (
                    (1.0 - damping) * F.col("_is_seed") / ns_lit
                    + damping * F.coalesce(F.col("_c"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 2,
) -> DataFrame:
    """HITS hub/authority scores (Kleinberg, "Authoritative Sources in a
    Hyperlinked Environment", JACM'99) on a weighted DIRECTED graph →
    ``(node, hub_score, authority_score)``.

    Exact-integer formulation: the classical algorithm L2-normalizes after
    every half-step, which makes scores float accumulations whose 6-dp
    rounding is partition-order-dependent (the embedding_covariance driver-red
    lesson). Normalization only rescales — the RANKING after any fixed number
    of un-normalized rounds is identical — so this runs the mutual-
    reinforcement recurrence on raw integer weights:

        h_0(u) = 1
        a_t(v) = Σ_{u→v} w(u,v) · h_{t-1}(u)
        h_t(u) = Σ_{u→v} w(u,v) · a_t(v)

    and returns the exact decimal(38,0) scores after ``iterations`` full
    rounds. Every aggregate is an exact integer sum — order-free across
    partial-aggregation plans and engines, no rounding contract needed.

    Magnitude: scores grow like (Σw)^(2·iterations); decimal(38,0) holds
    W ≤ ~1e9 at 2 rounds. At 100 TB production scale you would re-enable
    per-round normalization (float) and drop oracle exactness — this exact
    variant is the replayable correctness witness for the same plan shape.

    Scale shape (same as :func:`pagerank`): the edge list is the only big
    side, scores are |nodes|-sized (AQE broadcasts them under threshold);
    each half-step is one join + one groupBy with map-side partial sums, so
    per-step shuffle is |nodes|-bounded. Not in the reference (SURVEY.md
    §2.9 — no relational layer); extends the graph family of §2.11.
    """
    if iterations < 1:
        # iterations=0 would leave the authority frame undefined (there
        # is no half-step to produce it) — fail loudly, not with an
        # AttributeError at plan-build time (r05 ADVICE item)
        raise ValueError(
            f"hits_scores requires iterations >= 1, got {iterations}"
        )
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_d"),
        F.col(weight).cast("decimal(38,0)").alias("_w"),
    )
    hubs = e.select(F.col("_s").alias("node")).distinct()
    auths = e.select(F.col("_d").alias("node")).distinct()
    one = F.lit(1).cast("decimal(38,0)")
    h = hubs.select("node", one.alias("score"))
    a = None
    for _ in range(iterations):
        a = (
            e.join(
                h.select(F.col("node").alias("_s"), F.col("score").alias("_h")),
                "_s",
            )
            .groupBy("_d")
            .agg(F.sum(F.col("_w") * F.col("_h")).alias("score"))
            .select(F.col("_d").alias("node"), "score")
        )
        h = (
            e.join(
                a.select(F.col("node").alias("_d"), F.col("score").alias("_a")),
                "_d",
            )
            .groupBy("_s")
            .agg(F.sum(F.col("_w") * F.col("_a")).alias("score"))
            .select(F.col("_s").alias("node"), "score")
        )
    zero = F.lit(0).cast("decimal(38,0)")
    nodes = hubs.unionByName(auths).distinct()
    return (
        nodes.join(h.select("node", F.col("score").alias("hub_score")), "node", "left")
        .join(
            a.select("node", F.col("score").alias("authority_score")),
            "node",
            "left",
        )
        .select(
            "node",
            F.coalesce("hub_score", zero).alias("hub_score"),
            F.coalesce("authority_score", zero).alias("authority_score"),
        )
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "user_a",
    dst: str = "user_b",
    node_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source breadth-first hop distances over an undirected edge
    list: every node within ``max_hops`` of ANY source gets its minimum
    hop count — reach/blast-radius analysis (how far does an account
    ring extend; which docs sit within k citation hops of a seed set).

    Returns ``(node, dist)``, dist ∈ [0, max_hops], sources at 0.

    Scale: classic iterative relaxation — each round is ONE |edges|-keyed
    join from the current frontier plus a min-aggregate; the frontier
    only carries nodes whose distance improved, so rounds shrink as the
    BFS saturates. ``max_hops`` bounds the job count (fixed small
    constant), and the symmetrized edge list is materialized once and
    released on return (the result unions only the materialized frontiers).
    """
    dist = sources.select(
        F.col(node_col).alias("_n"), F.lit(0).alias("dist")
    ).distinct()
    with materialized(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .unionByName(edges.select(F.col(dst).alias("_u"), F.col(src).alias("_v")))
        .distinct()
    ) as sym:
        frontier = dist
        for hop in range(1, max_hops + 1):
            reached = (
                frontier.join(sym, frontier["_n"] == sym["_u"])
                .select(F.col("_v").alias("_n"), F.lit(hop).alias("dist"))
                .distinct()
            )
            # keep only genuinely-new nodes: anti-join against settled set
            new = materialize(reached.join(dist.select("_n"), "_n", "anti"))
            dist = dist.unionByName(new)
            frontier = new
    return dist.select(F.col("_n").alias(node_col), "dist").orderBy(
        node_col
    )


def link_prediction(
    edges: DataFrame,
    src: str = "user_a",
    dst: str = "user_b",
    k: int = 20,
    max_degree: int = 100,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected graph: for
    every NON-adjacent pair sharing ≥1 neighbor, the common-neighbor
    count and Jaccard overlap ``cn/(deg_u+deg_v−cn)`` — the classic
    "users who should know each other" / near-duplicate-cluster-merge
    candidate ranking. Returns the top ``k`` pairs (cn desc, then
    jaccard desc, then (u, v) asc — fully deterministic).

    Scale: candidate pairs enumerate as WEDGES through shared neighbors
    (Σ deg² bounded), never node×node; hub nodes past ``max_degree``
    are dropped from the wedge middle first (a hub manufactures
    quadratically many meaningless candidates — same hygiene as
    covisit_edges' cell cap). Existing edges leave via one anti-join.
    Building the plan materializes the |E|-bounded edge list
    (:mod:`iterate`), which the returned plan reads.
    """
    # materialized ONCE: sym feeds three differently-partitioned consumers
    # (wedge left side keyed on _v, wedge right side keyed on _u, the
    # adjacency anti-join keyed on the pair) plus the degree table — left
    # lazy, each partitioning re-derives the full upstream edge pipeline
    # (measured 7.6-11.6 s -> 4.2-4.9 s at sf0.1 on the covisit graph;
    # guide §5: cache exactly when reuse beats recompute)
    sym = materialize(
        edges.select(F.col(src).alias("_u"), F.col(dst).alias("_v"))
        .unionByName(edges.select(F.col(dst).alias("_u"), F.col(src).alias("_v")))
        .distinct()
    )
    deg = sym.groupBy("_u").agg(F.count("*").alias("_deg"))
    mid_ok = deg.filter(F.col("_deg") <= max_degree).select(
        F.col("_u").alias("_m")
    )
    # wedges u - m - v with u < v, middle degree-capped
    left = sym.join(mid_ok, sym["_v"] == mid_ok["_m"]).select(
        F.col("_u").alias("_a"), F.col("_v").alias("_mid")
    )
    right = sym.select(F.col("_u").alias("_mid"), F.col("_v").alias("_b"))
    cand = (
        left.join(right, "_mid")
        .filter(F.col("_a") < F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("cn"))
    )
    # drop already-adjacent pairs
    adj = sym.filter(F.col("_u") < F.col("_v")).select(
        F.col("_u").alias("_a"), F.col("_v").alias("_b")
    )
    cand = cand.join(adj, ["_a", "_b"], "anti")
    da = deg.select(F.col("_u").alias("_a"), F.col("_deg").alias("_da"))
    db = deg.select(F.col("_u").alias("_b"), F.col("_deg").alias("_db"))
    from kafka_connect_hdfs_spark.operators.similarity import q6_col

    jac = F.col("cn").cast("double") / (
        F.col("_da") + F.col("_db") - F.col("cn")
    ).cast("double")
    return (
        cand.join(da, "_a")
        .join(db, "_b")
        .select(
            F.col("_a").alias(src),
            F.col("_b").alias(dst),
            "cn",
            q6_col(jac).alias("jaccard"),
        )
        .orderBy(F.desc("cn"), F.desc("jaccard"), src, dst)
        .limit(k)
    )
