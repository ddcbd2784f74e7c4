"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (it has no relational layer, SURVEY.md §2.9) — these are
the first-class scale extensions: the dedup passes a 100 TB corpus pipeline
runs before training.

Design for scale (all shapes hold at 1000 executors):
  - exact / fingerprint dedup: hash → groupBy(hash) → keep min id. One
    shuffle on the hash (uniform by construction — no skew), map-side partial
    aggregation.
  - n-gram Jaccard: explode shingles → inverted index (shingle → doc list) →
    candidate pairs from co-occurrence → exact Jaccard on candidates only.
    Never materializes the O(n²) pair space; frequent-shingle cap bounds the
    worst case (stop-shingle skew).
  - MinHash + LSH: k independent permutation-style hashes from md5(token)
    mixed with per-hash constants → band signatures → bucket-join. Candidate
    generation is a groupBy on (band, bucket) — pairs only form inside
    buckets.
  - SimHash: 64-bit weighted-projection fingerprint; near-dup = small
    Hamming distance; banded prefix match for candidate generation.
  - embedding cosine near-dup: see similarity.py (shared kernel).

Determinism: every hash derives from md5 (identical in DuckDB) so the
correctness oracle can replay the exact pipeline in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.functions import fan_out
from kafka_connect_hdfs_spark.operators.iterate import fixpoint, materialized


def _norm_text(text_col: str) -> F.Column:
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact (normalized) dedup: one row per distinct fingerprint with the
    kept (min-id) doc and the duplicate count.

    Scale: shuffle only (fingerprint, id, count) triples — the text itself
    never moves; at 100 TB the shuffle payload is ~40 bytes/doc.
    """
    with_fp = df.select(F.col(id_col), F.md5(_norm_text(text_col)).alias("fingerprint"))
    return (
        with_fp.groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 1)
    )


def dedup_keep_first(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The filtered corpus: keep the min-id representative of each fingerprint
    group. Implemented as a self-semi-join on (fingerprint, min id) so the
    wide text column is only shuffled for surviving rows.
    """
    keep = exact_duplicates(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="semi")


# ---------------------------------------------------------------------------
# shingling


def shingle_arrays(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingle ARRAY per document, as
    ``(id_col, _shingles)`` — the shared upstream of :func:`with_shingles`
    (which explodes it) and :func:`minhash_signatures` (which hashes it).
    A caller that needs BOTH views of the same corpus (dedup_lsh_eval's
    candidate + truth arms) materializes this frame once instead of
    running the split/transform shingle pipeline twice; the frame is
    |corpus-tokens|-bounded (each token appears in ≤ n shingles).

    The token array is BOUND to a column before the per-position lambda:
    expressions referenced inside transform/slice lambdas are not
    common-subexpression-eliminated, so an unbound split would re-run the
    regex per position per row — measured 3.4 s → 0.5 s at sf0.1 (the
    same trap documented in text.bigram_logprob).
    """
    df = fan_out(df)
    base = df.select(
        F.col(id_col), F.split(_norm_text(text_col), " ").alias("_t")
    )
    t = F.col("_t")
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0)))
    shingles = F.when(F.size(t) < n, F.array(F.concat_ws(" ", t))).otherwise(
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
        )
    )
    return base.select(F.col(id_col), shingles.alias("_shingles"))


def with_shingles(
    df: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """word n-gram shingle set per document (distinct), as one exploded row
    per (doc, shingle).

    Built-ins only: split → transform over index range → concat_ws (see
    :func:`shingle_arrays` for the array construction). The explode
    multiplies rows by ~tokens/doc; downstream operators aggregate
    immediately, so nothing holds the full exploded set in memory at once.
    """
    return shingle_arrays(df, n, id_col, text_col).select(
        F.col(id_col), F.explode("_shingles").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int = 100,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate-pair n-gram Jaccard similarity via inverted index.

    jaccard(a,b) = |A∩B| / (|A|+|B|-|A∩B|), computed exactly over the
    FILTERED shingle universe: ``max_shingle_freq`` drops shingles appearing
    in more than that many docs — the classic stop-shingle guard that bounds
    the per-shingle pair blowup (freq² pairs) and removes the skew hot key
    at scale. Set sizes come from the same filtered set as the intersection,
    so the ratio is a true Jaccard (of filtered sets), not biased low for
    pairs sharing frequent shingles.

    ``shingles`` (optional): a pre-computed :func:`shingle_arrays` frame
    for the same corpus/n — callers that also feed the arrays to another
    consumer (dedup_lsh_eval's banding arm) pass the materialized frame so
    the corpus is tokenized once; ``df``/``n``/``text_col`` are ignored
    for shingle construction then.
    """
    if shingles is not None:
        sh = shingles.select(
            F.col(id_col), F.explode("_shingles").alias("shingle")
        )
    else:
        sh = with_shingles(df, n, id_col, text_col)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    sh_f = sh.join(freq.filter(F.col("df_") <= max_shingle_freq), "shingle")
    sizes = sh_f.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = sh_f.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh_f.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH


def _shingle_hash64(col: F.Column) -> F.Column:
    """Deterministic 48-bit integer from md5 hex (DuckDB-replayable):
    first 12 hex chars → bigint. 48 bits leaves headroom for the universal-
    hash multiply (a ≤ 31) without int64 overflow."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint")


#: Mersenne prime 2^61-1 — the classic universal-hash modulus
_MERSENNE = (1 << 61) - 1


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of
    ((a_i * h + b_i) mod M), h = md5-derived shingle hash.

    a_i/b_i are fixed odd constants derived from i (public
    universal-hashing construction) so both Spark and the SQL oracle can
    regenerate them.

    Scale: fully map-side — the shingle set stays an ARRAY column and each
    sig_i is array_min(transform(...)), so there is NO explode and NO
    shuffle (a doc's shingles never leave its row). The earlier
    explode+groupBy formulation shuffled ~50 rows per doc; this one moves
    nothing until the caller's own aggregation.

    ``shingles`` (optional): a pre-computed :func:`shingle_arrays` frame
    for the same corpus/n (see :func:`ngram_jaccard_pairs`) — the
    signature pipeline then starts from the shared arrays instead of
    re-tokenizing ``text_col``.
    """
    if shingles is not None:
        out = shingles.select(
            F.col(id_col),
            F.transform(
                F.col("_shingles"), lambda s: _shingle_hash64(s)
            ).alias("_hs"),
        )
        return _sigs_from_hashes(out, num_hashes, id_col)
    df = fan_out(df)
    # single-projection on purpose: A/B at sf0.1 measured the bound-column
    # variant slower (0.68 s vs 0.44 s) — the whole signature pipeline
    # lives in ONE projection where codegen CSE already shares the split,
    # and binding forces the shingle array through a projection boundary.
    # Contrast with_shingles/bigram_logprob/winnow, where binding wins.
    tokens = F.split(_norm_text(text_col), " ")
    shingle_arr = F.when(
        F.size(tokens) < n, F.array(F.concat_ws(" ", tokens))
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
            )
        )
    )
    # md5-derived 48-bit hash computed ONCE per shingle, then k mins over it
    out = df.select(
        F.col(id_col),
        F.transform(shingle_arr, lambda s: _shingle_hash64(s)).alias("_hs"),
    )
    return _sigs_from_hashes(out, num_hashes, id_col)


def _sigs_from_hashes(
    out: DataFrame, num_hashes: int, id_col: str
) -> DataFrame:
    """k universal-hash minima over a ``(id_col, _hs)`` hashed-shingle
    frame — the shared tail of both :func:`minhash_signatures` paths."""
    def _universal(a: int, b: int):
        # closure, NOT default args — a two-param lambda would make Spark
        # pass the array index as the second argument
        return lambda h: (h * a + b) % F.lit(_MERSENNE)

    sig_cols = []
    for i in range(num_hashes):
        a = 2 * i + 1          # odd multiplier
        b = 7919 * (i + 1)     # arbitrary fixed offsets (7919 = 1000th prime)
        sig_cols.append(
            F.array_min(F.transform(F.col("_hs"), _universal(a, b))).alias(f"mh_{i}")
        )
    return out.select(F.col(id_col), *sig_cols)


def _banded_candidate_pairs(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    id_col: str,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared banding kernel over a :func:`minhash_signatures` table:
    band signatures → capped (band, sig) buckets → distinct candidate
    pairs (id_a < id_b). The ONE place the band-signature hash and the
    bucket cap live — minhash_lsh_candidates and lsh_jaccard_estimates
    must not diverge on candidate generation.
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for bnd in range(bands):
        cols = [F.col(f"mh_{bnd * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(bnd).alias("band"), F.md5(F.concat_ws("_", *cols)).alias("sig"))
        )
    buckets = sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("band_sig"))
    if max_bucket_size is not None:
        sizes = (
            buckets.groupBy("band", "band_sig")
            .agg(F.count("*").alias("_bs"))
            .filter(F.col("_bs") <= max_bucket_size)
            .drop("_bs")
        )
        buckets = buckets.join(sizes, ["band", "band_sig"])
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the k-hash signature into ``bands`` bands of
    k/bands rows; docs agreeing on any full band are candidate pairs.
    ``shingles`` (optional): pre-computed :func:`shingle_arrays` frame,
    forwarded to :func:`minhash_signatures`.

    Scale: candidates form inside (band, band-signature) buckets — a single
    groupBy-like self-join on the bucket key; bucket sizes are the only
    quadratic factor. ``max_bucket_size`` drops over-full buckets (measured
    empirically: a corpus with 20-copy duplicate clusters blows candidate
    pairs up ~500x) — oversized buckets are exact-duplicate clusters, which
    the cheap exact_duplicates pass should collapse FIRST; run this on
    dedup_keep_first output.
    """
    sig = minhash_signatures(
        df, num_hashes, n, id_col, text_col, shingles=shingles
    )
    return _banded_candidate_pairs(sig, num_hashes, bands, id_col, max_bucket_size)


def lsh_jaccard_estimates(
    df: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
    min_estimate: float = 0.0,
) -> DataFrame:
    """LSH candidate pairs scored with the MinHash Jaccard ESTIMATE — the
    standard second stage after banding (Broder, "On the resemblance and
    containment of documents", 1997): for a candidate pair the fraction of
    agreeing signature components is an unbiased estimator of the Jaccard
    similarity, so pairs can be thresholded WITHOUT ever re-reading either
    document's text.

    Returns ``(id_a, id_b, est_jaccard)`` for candidates with
    ``est_jaccard >= min_estimate``.

    Scale: signatures are computed once, map-side (no shuffle — the same
    plan-guarded fold as :func:`minhash_signatures`); banding explodes
    ``bands`` small rows per doc; candidate pairs form only inside capped
    buckets; the estimate joins the (id, k-ints) signature table twice —
    document text never moves, and the estimate costs k integer compares
    per pair instead of a shingle-set intersection.
    """
    sig = minhash_signatures(df, num_hashes, n, id_col, text_col)
    sig_arr = sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("_sig"),
    )
    pairs = _banded_candidate_pairs(sig, num_hashes, bands, id_col, max_bucket_size)
    sa = sig_arr.select(F.col(id_col).alias("id_a"), F.col("_sig").alias("_sa"))
    sb = sig_arr.select(F.col(id_col).alias("id_b"), F.col("_sig").alias("_sb"))
    agree = F.size(
        F.filter(F.zip_with("_sa", "_sb", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(agree / F.lit(float(num_hashes)), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_estimate)
    )


def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Canonical-document selection: resolve duplicate PAIRS into clusters
    (:func:`duplicate_clusters`) and keep ONE representative per cluster —
    the highest heuristic quality score, ties to the lowest doc id. The
    keep/drop decision real corpus pipelines apply after near-dup detection
    ("of these 20 mirrors, train on the cleanest one"). Singleton documents
    (no candidate pair) represent themselves.

    Returns ``(cluster_id, rep_doc_id, rep_quality, n_members)``.

    Scale: the argmax is ONE ``max(struct(quality, -id))`` aggregation on
    the cluster key — no window, no per-cluster sort; the cluster labels
    join is on ids only (text never shuffles — quality is computed map-side
    before the exchange).
    """
    from kafka_connect_hdfs_spark.operators.text import with_quality_score

    clusters = duplicate_clusters(pairs)
    scored = with_quality_score(docs, text_col=text_col).select(
        F.col(id_col), F.col("quality_score")
    )
    labeled = scored.join(
        clusters, scored[id_col] == clusters["node"], "left"
    ).select(
        F.col(id_col),
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        "quality_score",
    )
    best = labeled.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col("quality_score").alias("q"), (-F.col(id_col)).alias("neg_id")
            )
        ).alias("b"),
        F.count("*").alias("n_members"),
    )
    return best.select(
        "cluster_id",
        (-F.col("b.neg_id")).alias("rep_doc_id"),
        F.col("b.q").alias("rep_quality"),
        "n_members",
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash_signatures(
    df: DataFrame, bits: int = 48, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """SimHash: per token, md5-derived bit pattern votes +1/-1 per bit
    position; the signature is the sign vector packed into a bigint.

    Scale: fully map-side, like minhash_signatures — the distinct token set
    stays an array column, each bit's vote total is
    ``aggregate(hashes, 0, acc + (2*bit-1))``, and the pack is a plain
    column sum. NO explode, NO shuffle: a doc's tokens never leave its row.
    ``bits`` ≤ 48 matches the md5-derived hash width.
    """
    df = fan_out(df)
    tokens = F.split(_norm_text(text_col), " ")
    # materialize the md5-derived hash ONCE per token, then fold per bit
    hs = df.select(
        F.col(id_col),
        F.transform(F.array_distinct(tokens), lambda t: _shingle_hash64(t)).alias(
            "_hs"
        ),
    )

    def _votes(i: int) -> F.Column:
        return F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("bigint"),
            lambda acc, h: acc + ((F.shiftright(h, i) % 2) * 2 - 1),
        )

    packed = None
    for i in range(bits):
        bit = F.when(_votes(i) > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        term = bit * F.lit(1 << i).cast("bigint")
        packed = term if packed is None else packed + term
    return hs.select(F.col(id_col), packed.alias("simhash"))


# ---------------------------------------------------------------------------
# duplicate clusters (connected components over candidate pairs)


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    method: str = "star",
) -> DataFrame:
    """Resolve candidate duplicate PAIRS into duplicate CLUSTERS: connected
    components where each doc's cluster_id is the min doc id in its
    component. This is the step between pair generation (LSH / Jaccard /
    simhash) and the actual keep/drop decision — without it, transitive
    duplicates (a~b, b~c) get kept twice.

    DEFAULT algorithm (r10 VERDICT item 3): alternating large-star /
    small-star contraction (graph.py:connected_components_star — Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    O(log²) rounds regardless of component diameter (O(log) in
    practice), each half-round one groupBy + one join keyed on the
    center node. Measured on the same 85× pair-graph blowup the star
    kernel holds a 3.7× wall factor vs propagation's 7.8×
    (BENCH_SCALE), and at 100 TB a single chained near-dup path can
    make propagation's diameter bound arbitrary — round-bounded wins.

    ``method="propagation"`` keeps the iterative min-label kernel —
    label(v) ← min(label(v), min of neighbors' labels) per round,
    iterations ≤ component diameter, fine for provably shallow
    near-clique pair sets and kept as the pytest equivalence witness
    (both methods produce identical labels on the same pairs).

    Returns (node, cluster_id) for every node appearing in ``pairs``.
    Singleton docs (no candidate pair) are absent by construction — assign
    them cluster_id = own id with a left join at the call site.
    """
    if method == "star":
        from kafka_connect_hdfs_spark.operators.graph import (
            connected_components_star,
        )

        return connected_components_star(
            pairs, id_a=id_a, id_b=id_b, max_rounds=max_iter
        )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("cluster_id", F.col("node"))
    )

    # Convergence by ONE aggregate on the label table per round instead of
    # an old⋈new join + count (a |nodes| shuffle per iteration). Labels only
    # DECREASE under min-propagation, so for INTEGRAL ids an exact monotone
    # witness exists: sum(cluster_id) is strictly decreasing until the fixed
    # point — equality ⇒ converged, no collision risk. The exactness
    # argument needs the decimal(38,0) cast to be lossless, so it is gated
    # on integral types (incl. scale-0 decimals); fractional numeric ids
    # would ROUND in the cast and could alias distinct states (ADVICE r04)
    # — they take the (count, bit_xor(xxhash64)) signature fallback from
    # graph.py:connected_components_star, like strings.
    from pyspark.sql.types import ByteType, DecimalType, IntegerType
    from pyspark.sql.types import LongType, ShortType

    _id_t = labels.schema["cluster_id"].dataType
    _numeric = isinstance(
        _id_t, (ByteType, ShortType, IntegerType, LongType)
    ) or (isinstance(_id_t, DecimalType) and _id_t.scale == 0)

    witness = (
        F.sum(F.col("cluster_id").cast("decimal(38,0)")) if _numeric
        else F.bit_xor(F.xxhash64("node", "cluster_id"))
    )

    def _label_sig(lab: DataFrame) -> tuple:
        return tuple(lab.agg(F.count("*"), witness).first())

    def _round(labels: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("n_min"))
        )
        return labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("cluster_id"), F.coalesce("n_min", F.col("cluster_id"))
            ).alias("cluster_id"),
        )

    with materialized(edges) as edges:
        labels = fixpoint(_round, labels, _label_sig, max_iter)
    return labels.select("node", "cluster_id")


def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup: drop batch rows whose normalized-text
    fingerprint already exists in a previously-landed corpus snapshot — the
    re-crawl filter of a continuously-ingested pipeline (today's crawl vs
    everything already in the corpus). Complements ``dedup_keep_first``,
    which dedups *within* one batch.

    Returns the surviving batch rows with their ``fingerprint`` attached
    (so the survivors can be appended to the snapshot's fingerprint index
    without recomputing it).

    Scale: the snapshot side is pruned to a distinct 32-char md5 per row
    before the anti-join, so 100 TB of history enters the shuffle as
    fingerprints only (~32 B/doc); the join key is md5-uniform — no skew.
    The (much smaller) daily batch rides the single anti-join shuffle with
    its payload. Mirrors the reference's "don't re-land committed offsets"
    recovery idea (TopicPartitionWriter.java:334-350) lifted from offsets
    to content.
    """
    from kafka_connect_hdfs_spark.operators.text import with_fingerprint

    seen_fp = with_fingerprint(seen, text_col=text_col).select("fingerprint").distinct()
    return with_fingerprint(batch, text_col=text_col).join(
        seen_fp, "fingerprint", "left_anti"
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus release diff: classify every document id across two snapshots
    as ``added`` / ``removed`` / ``changed`` / ``unchanged`` by normalized
    content fingerprint — the audit table behind "what moved between
    corpus v1 and v2".

    Scale: both snapshots are pruned to (id, fingerprint) projections
    (~40 B/row) before the ONE full-outer join on the id — document text
    never enters the shuffle; the id key is unique per side, so there is
    no skew and no row explosion.
    """
    from kafka_connect_hdfs_spark.operators.text import with_fingerprint

    o = with_fingerprint(old, text_col=text_col).select(
        F.col(id_col), F.col("fingerprint").alias("fp_old")
    )
    n = with_fingerprint(new, text_col=text_col).select(
        F.col(id_col), F.col("fingerprint").alias("fp_new")
    )
    return o.join(n, id_col, "full_outer").select(
        id_col,
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Paragraph-level (chunk-level) exact dedup with document reassembly —
    the repeated-paragraph removal step of C4/RefinedWeb-style pipelines:
    a chunk that appears in multiple documents survives only at its first
    occurrence (lowest ``(id, position)``), and every document is rebuilt
    from its surviving chunks in order.

    Chunks here are fixed ``chunk_tokens`` windows of the whitespace token
    stream (the corpus fixture is single-line; on real corpora pass the
    paragraph split upstream and ``chunk_tokens`` large enough to cover it).

    Returns one row per input document: ``(id, n_chunks, n_kept,
    clean_text)`` — ``n_kept`` may be 0 (fully-duplicated document).

    Scale: the only corpus-sized shuffles are (1) the chunk groupBy for the
    keep-first window, keyed by the chunk TEXT — md5-uniform in practice;
    cap pathological repeats the same way lsh caps buckets — and (2) the
    per-document reassembly groupBy on the unique id. Chunking itself is a
    map-side array expression (no explode until after the per-doc arrays
    are built, and the exploded rows carry only (id, idx, chunk) — never
    the full document).
    """
    # token array bound before the per-chunk lambda: a split inside the
    # lambda body re-runs per chunk index (see with_shingles)
    tokenized = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("_tk")
    )
    n_chunks = F.ceil(F.size(F.col("_tk")) / F.lit(chunk_tokens)).cast("int")
    chunks = F.expr(
        f"transform(sequence(0, int(ceil(size(_tk) / {chunk_tokens}.0)) - 1, 1), "
        f"i -> struct(i AS idx, array_join(slice(_tk, i * {chunk_tokens} + 1, {chunk_tokens}), ' ') AS chunk))"
    )
    base = tokenized.select(
        F.col(id_col), n_chunks.alias("n_chunks"), chunks.alias("_chunks")
    )
    ex = base.select(id_col, F.explode("_chunks").alias("c")).select(
        id_col, F.col("c.idx").alias("idx"), F.col("c.chunk").alias("chunk")
    )
    w = Window.partitionBy("chunk").orderBy(id_col, "idx")
    kept = (
        ex.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("idx", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return (
        base.select(id_col, "n_chunks")
        .join(kept, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def fuzzy_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_chars: int = 8,
    prefix_chars: int = 48,
    max_dist: int = 12,
    max_block_size: int = 1000,
) -> DataFrame:
    """Edit-distance near-duplicate candidate pairs with prefix blocking:
    two documents pair when their first ``block_chars`` characters match
    exactly (the block key) and the Levenshtein distance between their
    ``prefix_chars`` prefixes is ≤ ``max_dist`` — the title/lead-paragraph
    fuzzy matcher of news/web dedup stacks, built entirely from codegen
    expressions (``levenshtein`` is a JVM built-in).

    Scale: never O(n²) — candidates come from an equi-join on the block
    key, and blocks larger than ``max_block_size`` are dropped (the same
    stop-bucket cap as minhash-LSH: a hot prefix like boilerplate headers
    would otherwise explode quadratically). Only (id, prefix) projections
    enter the shuffle. Levenshtein runs on the ≤``prefix_chars``-char
    prefix, bounding per-pair cost.
    """
    pref = df.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, block_chars).alias("block"),
        F.substring(F.col(text_col), 1, prefix_chars).alias("prefix"),
    )
    sizes = pref.groupBy("block").agg(F.count("*").alias("_bn"))
    small = sizes.filter(F.col("_bn") <= max_block_size).select("block")
    pref = pref.join(F.broadcast(small), "block")
    a = pref.select(
        F.col("block"), F.col(id_col).alias("id_a"), F.col("prefix").alias("pref_a")
    )
    b = pref.select(
        F.col("block"), F.col(id_col).alias("id_b"), F.col("prefix").alias("pref_b")
    )
    return (
        a.join(b, "block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("pref_a", "pref_b").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def _lsh_buckets(
    df: DataFrame,
    num_hashes: int,
    bands: int,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, band, band_sig) bucket rows for a corpus — the shared banding
    step behind self-join (``minhash_lsh_candidates``) and two-corpus
    (``incremental_near_dup_candidates``) candidate generation."""
    sig = minhash_signatures(df, num_hashes, n, id_col, text_col)
    rows_per_band = num_hashes // bands
    band_cols = []
    for bnd in range(bands):
        cols = [F.col(f"mh_{bnd * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(bnd).alias("band"), F.md5(F.concat_ws("_", *cols)).alias("sig"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("band_sig"))


def incremental_near_dup_candidates(
    batch: DataFrame,
    snapshot: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Two-corpus MinHash LSH: which NEW documents are near-duplicates of
    something already landed — the fuzzy counterpart of
    ``incremental_dedup`` (which only catches exact re-crawls). Returns
    (batch_id, snapshot_id) candidate pairs; the caller drops or audits the
    batch side.

    Scale: both sides reduce to (id, band, band_sig) triples map-side (the
    signatures never shuffle text), and candidates come from a band-keyed
    equi-join between the SMALL batch side and the snapshot — never a
    snapshot self-join. The snapshot's band table is exactly the artifact
    to persist between runs (append each accepted batch's buckets) so daily
    ingestion re-hashes only the new batch, not 100 TB of history. The
    bucket cap applies to the snapshot side (hot buckets there are exact-
    dup clusters the snapshot pipeline should have collapsed already).
    """
    bb = _lsh_buckets(batch, num_hashes, bands, n, id_col, text_col).select(
        F.col(id_col).alias("batch_id"), "band", "band_sig"
    )
    sb = _lsh_buckets(snapshot, num_hashes, bands, n, id_col, text_col).select(
        F.col(id_col).alias("snapshot_id"), "band", "band_sig"
    )
    sizes = (
        sb.groupBy("band", "band_sig")
        .agg(F.count("*").alias("_bs"))
        .filter(F.col("_bs") <= max_bucket_size)
        .drop("_bs")
    )
    sb = sb.join(sizes, ["band", "band_sig"])
    return (
        bb.join(sb, ["band", "band_sig"])
        .select("batch_id", "snapshot_id")
        .distinct()
    )


def pair_candidate_eval(candidates: DataFrame, truth: DataFrame) -> DataFrame:
    """Candidate-generation quality: recall/precision of a candidate pair
    table (e.g. LSH banding output) against an exact ground-truth pair
    table (e.g. n-gram Jaccard above a threshold) — the tuning harness for
    every banding/cap knob in this module, mirroring what
    :func:`operators.similarity.ann_recall` does for ANN. One summary row:
    ``(n_truth, n_candidates, n_hits, recall, precision)``.

    Scale: both inputs are PAIR tables (already sub-corpus-sized); the
    inner join on (id_a, id_b) and three single-row aggregates are the
    whole plan — no corpus access at all.
    """
    c = candidates.select("id_a", "id_b").distinct()
    t = truth.select("id_a", "id_b").distinct()
    n_c = c.agg(F.count("*").alias("n_candidates"))
    n_t = t.agg(F.count("*").alias("n_truth"))
    n_h = c.join(t, ["id_a", "id_b"]).agg(F.count("*").alias("n_hits"))
    return (
        n_t.crossJoin(n_c)
        .crossJoin(n_h)
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.when(F.col("n_truth") > 0,
                   F.round(F.col("n_hits") / F.col("n_truth"), 6))
            .otherwise(F.lit(None).cast("double")).alias("recall"),
            F.when(F.col("n_candidates") > 0,
                   F.round(F.col("n_hits") / F.col("n_candidates"), 6))
            .otherwise(F.lit(None).cast("double")).alias("precision"),
        )
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int = 100,
) -> DataFrame:
    """Exact-threshold Jaccard pairs via PREFIX FILTERING (the set-
    similarity-join technique of PPJoin / AllPairs, Bayardo et al. WWW'07):
    sort each document's shingles in a fixed global order (ascending
    document frequency — rarest first) and index only the first
    ``floor((1 - t) * |s|) + 1`` of them. Two sets with Jaccard >= t MUST
    share a prefix element under any common total order, so candidates
    from the prefix index have no false negatives; exact Jaccard then
    verifies each candidate. Returns exactly
    :func:`ngram_jaccard_pairs`' rows (same filtered-universe semantics,
    same threshold) — the oracle IS that operator's.

    Scale: the quadratic factor shrinks from (per-shingle df)² over ALL
    shingles to (per-shingle df)² over PREFIX occurrences only — at
    t=0.8 a 50-shingle doc indexes 11 shingles instead of 50, and those
    are its RAREST (smallest df) ones, so hot-shingle buckets vanish from
    candidate generation entirely; the verify join touches candidate
    pairs only. Same ``max_shingle_freq`` stop-cap universe as the plain
    operator so both compute the identical filtered Jaccard.
    """
    sh = with_shingles(df, n, id_col, text_col)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    sh_f = sh.join(freq.filter(F.col("df_") <= max_shingle_freq), "shingle")
    # ONE aggregation folds the filtered shingle stream into a per-doc
    # sorted array — (df asc, shingle asc), a total engine-independent
    # order — that then serves prefix extraction, set sizes, AND exact
    # verification. The earlier form re-joined the exploded shingle table
    # three more times downstream, recomputing the inverted index per use;
    # this docset table is consumed by id-key joins only.
    docsets = sh_f.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("df_"), F.col("shingle")))
            ),
            lambda s: s["shingle"],
        ).alias("_shingles")
    )
    # NOTE: docsets has three consumers (prefix extraction + both verify
    # sides). Measured at sf0.1: recomputing the 2-shuffle lineage per
    # consumer beats materializing it (4.4 s vs 7.2 s —
    # array serialization dominates); at 100 TB persist the docset table
    # explicitly between stages instead.
    prefix_len = (
        F.floor(F.lit(1.0 - threshold) * F.size("_shingles")).cast("int") + 1
    )
    prefix = docsets.select(
        F.col(id_col),
        F.explode(F.slice(F.col("_shingles"), 1, prefix_len)).alias("shingle"),
    )
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "shingle")
        .join(prefix.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verification on candidates only: two id-key joins pull in each
    # side's shingle array, then array_intersect (hash-set, O(|a|+|b|))
    # computes the overlap in place — no re-explode, no third shuffle of
    # the inverted index, candidate rows are all that flow
    da = docsets.select(
        F.col(id_col).alias("id_a"), F.col("_shingles").alias("_sa")
    )
    db = docsets.select(
        F.col(id_col).alias("id_b"), F.col("_shingles").alias("_sb")
    )
    return (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn(
            "n_common",
            F.size(F.array_intersect("_sa", "_sb")).cast("bigint"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int = 100,
) -> DataFrame:
    """ASYMMETRIC set containment (Broder's containment coefficient):
    pairs where ``|A∩B| / |A| >= threshold`` in either direction →
    ``(id_a, id_b, n_common, containment_a, containment_b)``. Jaccard
    misses sub-document inclusion — a paragraph quoted inside a 100×
    larger aggregator page has tiny Jaccard but containment ≈ 1 — so
    this is the quote/aggregator/wrapper detector that complements the
    symmetric near-dup passes.

    Scale: identical machinery to :func:`ngram_jaccard_pairs` — same
    stop-shingle-capped inverted index, same candidate generation; only
    the final ratio differs (each side's own size as denominator). The
    threshold keeps EITHER direction, so wrappers are caught from the
    contained side regardless of the big side's dilution.
    """
    sh = with_shingles(df, n, id_col, text_col)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    sh_f = sh.join(freq.filter(F.col("df_") <= max_shingle_freq), "shingle")
    sizes = sh_f.groupBy(id_col).agg(F.count("*").alias("set_size"))
    a = sh_f.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh_f.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment_a", F.round(F.col("n_common") / F.col("size_a"), 6)
        )
        .withColumn(
            "containment_b", F.round(F.col("n_common") / F.col("size_b"), 6)
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "n_common", "containment_a", "containment_b")
    )


def duplicated_span_coverage(
    df: DataFrame,
    window: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-SPAN coverage — the W-gram rolling-hash
    approximation of substring-level train-set dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which uses
    suffix arrays single-node; positional W-gram fingerprints are the
    standard distributed approximation). A span is ``window`` consecutive
    tokens; a span is DUPLICATED if its fingerprint occurs in at least
    ``min_docs`` distinct documents. Returns per document::

        (id, n_tokens, n_dup_spans, dup_token_coverage)

    where ``dup_token_coverage`` is the fraction of the document's token
    positions covered by the UNION of its duplicated spans — the signal
    used to drop or trim boilerplate-heavy documents (coverage ≈ 1 means
    the document is assembled from repeated material).

    Scale: positional spans are built map-side (bound token array →
    transform over an index range → posexplode); the only corpus-sized
    shuffles carry ``(id, pos, span_md5)`` triples (text never moves).
    Span-frequency is one groupBy on the md5 (map-side partial), flagged
    spans join back BY HASH, and the per-doc interval union is one window
    pass over (id, pos): union length = Σ min(window, next_start − start)
    with the final span contributing ``window`` — no per-doc Python, no
    quadratic pair step anywhere.
    """
    from pyspark.sql import Window as W

    df = fan_out(df)
    base = df.select(
        F.col(id_col), F.split(_norm_text(text_col), " ").alias("_t")
    )
    t = F.col("_t")
    n_tok = F.when(
        F.length(F.concat_ws("", t)) == 0, F.lit(0)
    ).otherwise(F.size(t))
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - window, F.lit(0)))
    spans = F.when(F.size(t) < window, F.array().cast("array<string>")).otherwise(
        F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(t, i + 1, window))))
    )
    pos_spans = base.select(
        F.col(id_col), n_tok.alias("n_tokens"), F.posexplode(spans).alias("pos", "h")
    )
    span_docs = (
        pos_spans.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("h")
    )
    dup = pos_spans.join(span_docs, "h").select(id_col, "n_tokens", "pos")
    w = W.partitionBy(id_col).orderBy("pos")
    covered = dup.withColumn(
        "_cov",
        F.least(
            F.lit(window),
            F.coalesce(
                F.lead("pos").over(w) - F.col("pos"), F.lit(window)
            ),
        ),
    )
    per_doc = covered.groupBy(id_col, "n_tokens").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum("_cov").alias("_covered"),
    )
    all_docs = base.select(F.col(id_col), n_tok.alias("n_tokens"))
    return (
        all_docs.join(per_doc.drop("n_tokens"), id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("_covered", F.lit(0)) / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_token_coverage"),
        )
    )


def cross_source_overlap(
    df: DataFrame,
    n: int = 3,
    max_shingle_freq: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Source-vs-source contamination matrix: for every source pair, the
    number of distinct n-gram shingles both contain and the overlap
    coefficient ``|A∩B| / min(|A|,|B|)`` — the "who mirrors whom" audit
    run before setting per-source sampling weights (a pair with high
    overlap double-counts its content under independent source budgets).
    Returns ``(source_a, source_b, n_shared, overlap_coef)`` for
    source_a < source_b.

    Scale: the same stop-shingle universe as :func:`ngram_jaccard_pairs`
    (doc-frequency cap bounds hot shingles BEFORE anything pairs); the
    corpus then reduces to DISTINCT (source, shingle) rows — vocabulary-
    bounded per source — and the pair join fans each shingle out by at
    most n_sources², with n_sources tiny by definition. Text never
    shuffles; shingles travel as strings once, countable as md5 at
    higher scale.
    """
    sh = with_shingles(df, n, id_col, text_col)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    sh_f = sh.join(freq.filter(F.col("df_") <= max_shingle_freq), "shingle")
    src = df.select(F.col(id_col), F.col(source_col).alias("_src"))
    ss = (
        sh_f.join(src, id_col)
        .select(F.col("_src").alias("src"), "shingle")
        .distinct()
    )
    sizes = ss.groupBy("src").agg(F.count("*").alias("n_shingles"))
    a = ss.select(F.col("src").alias("source_a"), "shingle")
    b = ss.select(F.col("src").alias("source_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(
        F.col("src").alias("source_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("src").alias("source_b"), F.col("n_shingles").alias("size_b")
    )
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / F.least(F.col("size_a"), F.col("size_b")),
                6,
            ).alias("overlap_coef"),
        )
    )


def _bloom_positions(key: F.Column, m_bits: int, k: int) -> F.Column:
    """Array of ``k`` deterministic bit positions in ``[0, m_bits)`` for a
    key: position_i = int(first 8 hex chars of md5(key || ':' || i), 16)
    mod m_bits. md5 + hex parse replay identically in DuckDB
    (``('0x' || substr(md5(..), 1, 8))::BIGINT``), so a SQL oracle can
    rebuild the exact same filter."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: (
            F.conv(
                F.substring(
                    F.md5(F.concat(key, F.lit(":"), i.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % m_bits
        ),
    )


def bloom_build(
    df: DataFrame,
    key_col: str = "fingerprint",
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Build a Bloom filter over ``key_col`` → ``(word, bits)`` rows, one
    per 62-bit word that has at least one bit set.

    The membership structure behind INCREMENTAL dedup at ingest scale: the
    seen-corpus filter is ``m_bits/8`` bytes REGARDLESS of corpus size
    (vs. the full anti-join of :func:`incremental_dedup`, whose build side
    is corpus-sized). A new batch probes the broadcast filter and only
    probable members pay the exact verification join — at 1% FP rate the
    exact join's build side shrinks by ~99%.

    Layout: word = position // 62, bit = position % 62 (62 bits per long
    keeps every shift away from the sign bit so ``bit_or`` replays
    identically on DuckDB HUGEINT-free BIGINT math). The aggregation is
    map-side-combining ``bit_or`` — exact integer, order-free, and the
    shuffle carries at most ``m_bits/62`` rows per partition.
    """
    pos = (
        df.select(
            F.explode(
                _bloom_positions(F.col(key_col), m_bits, k)
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 62).cast("bigint").alias("word"),
            # shiftleft's python wrapper only takes int literals — SQL form
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 62 AS INT))").alias("bit"),
        )
    )
    return pos.groupBy("word").agg(F.expr("bit_or(bit)").alias("bits"))


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str = "fingerprint",
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Probe a :func:`bloom_build` filter → ``(id, key, maybe_member)``.

    ``maybe_member`` is true iff ALL k bits are set: false ⇒ definitely
    new (the Bloom guarantee — zero false negatives), true ⇒ probable
    member, to be confirmed by the exact join on the (much smaller)
    flagged subset.

    Scale: the filter is broadcast (≤ m_bits/62 rows); the probe side
    explodes to k rows per key, joins the broadcast filter, and reduces
    back with an all-bits-set aggregate — no shuffle of the probe table
    beyond the final groupBy on its own key, and the text never moves
    (keys are md5 fingerprints).
    """
    pos = df.select(
        F.col(id_col).alias("_pid"),
        F.col(key_col).alias("_pkey"),
        F.explode(_bloom_positions(F.col(key_col), m_bits, k)).alias("pos"),
    ).select(
        "_pid",
        "_pkey",
        (F.col("pos") / 62).cast("bigint").alias("word"),
        (F.col("pos") % 62).cast("int").alias("bit"),
    )
    hit = pos.join(F.broadcast(bloom), "word", "left").select(
        "_pid",
        "_pkey",
        F.coalesce(
            F.expr("(shiftright(bits, bit) & 1) = 1"),
            F.lit(False),
        ).alias("bit_set"),
    )
    return hit.groupBy("_pid", "_pkey").agg(
        F.min(F.col("bit_set").cast("int")).cast("boolean").alias("maybe_member")
    ).select(
        F.col("_pid").alias(id_col),
        F.col("_pkey").alias(key_col),
        "maybe_member",
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
) -> DataFrame:
    """CCNet-style LINE-level deduplication (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data",
    LREC 2020 — their pipeline hashes normalized lines/paragraphs and
    drops repeated ones BEFORE document-level filtering): every line
    whose normalized form (lower + trim) occurs more than
    ``max_occurrences`` times ACROSS THE CORPUS is removed from every
    document, then documents reassemble from the surviving lines in
    original order. This kills the boilerplate that document-level
    dedup can't see — cookie banners, nav menus, license headers —
    which otherwise dominates n-gram statistics and LM training loss.

    Returns ``(id, n_lines, n_lines_kept, text_kept)`` — ``n_lines``
    counts the doc's non-empty lines, ``text_kept`` is '' when every
    line was boilerplate (callers typically drop those docs). EVERY
    input doc with non-NULL text gets a row — a blank-only or empty doc
    reports ``(id, 0, 0, '')`` rather than vanishing (r06 review
    finding: a silently missing row is indistinguishable from a join
    bug downstream).

    Scale: EXACTLY TWO corpus-sized shuffles and zero joins — (1) the
    line table partitions once on the md5 of the normalized line
    (uniform key, no skew) and the occurrence count rides a
    partition-only window over that exchange (the groupBy-then-join
    phrasing would shuffle the line table twice at scale, once for the
    counts and once for the probe — or broadcast a corpus-sized count
    table); (2) one doc-keyed aggregation computes kept-count AND
    reassembly together (collect_list skips the NULLed dropped lines;
    array_sort of (idx, line) structs — no per-doc window sort).
    Nothing corpus-sized is broadcast or collected.
    """
    from pyspark.sql import Window

    # blank lines neither count nor dedup, but blank-only/empty docs must
    # STILL get their (id, 0, 0, '') row — so blanks stay in the frame
    # with a UNIQUE hash (a shared blank hash would funnel every blank
    # line in the corpus into one skewed window partition) and are
    # excluded from both counters and the reassembly
    blank = F.length(F.trim(F.col("_line"))) == 0
    # split on \r?\n, not \n (r06 ADVICE): trim strips only spaces, so a
    # CRLF corpus would leave a trailing \r on every line and identical
    # boilerplate with mixed line endings would hash differently and
    # escape dedup — the web-crawl text CCNet targets is CRLF-heavy
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\r?\n")).alias(
            "_idx", "_line"
        ),
    ).withColumn(
        "_h",
        F.when(
            blank,
            F.md5(F.concat_ws(":", F.col(id_col), F.col("_idx"), F.lit("b"))),
        ).otherwise(F.md5(F.lower(F.trim(F.col("_line"))))),
    ).withColumn("_blank", blank)
    flagged = lines.withColumn(
        "_keep",
        ~F.col("_blank")
        & (
            F.count("*").over(Window.partitionBy("_h"))
            <= F.lit(max_occurrences)
        ),
    )
    return flagged.groupBy(id_col).agg(
        F.sum((~F.col("_blank")).cast("long")).alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"), F.struct("_idx", "_line")
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
        ).alias("text_kept"),
    )
