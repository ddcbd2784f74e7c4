"""Physical-plan regression guards: the properties that make these queries
scale (pushdown, pruning, broadcast joins, no global sorts where not needed)
must survive refactors. Checked via explain output, the same way a human
reviews `.explain("formatted")`.
"""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_q1_pushdown_and_pruning(spark, sf):
    from kafka_connect_hdfs_spark.plans.analytics import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, sf))
    assert "LessThanOrEqual(l_shipdate" in plan          # predicate reached the scan
    assert "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]  # pruned
    # two-phase aggregation (map-side partial) — the scale property
    assert plan.count("HashAggregate") >= 2


def test_q6_all_predicates_pushed(spark, sf):
    from kafka_connect_hdfs_spark.plans.analytics2 import q6_forecast_revenue

    plan = _plan(q6_forecast_revenue(spark, sf))
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_q5_dims_broadcast_no_sort_merge(spark, sf):
    from kafka_connect_hdfs_spark.plans.analytics import q5_local_supplier_volume

    plan = _plan(q5_local_supplier_volume(spark, sf))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q3_customer_broadcast(spark, sf):
    from kafka_connect_hdfs_spark.plans.analytics import q3_unshipped_orders

    plan = _plan(q3_unshipped_orders(spark, sf))
    assert "BroadcastHashJoin" in plan
    # top-k is TakeOrdered, not a global sort of the aggregate
    assert "TakeOrderedAndProject" in plan


def test_ingest_single_shuffle(spark, sf):
    """The ingest assignment (partition -> chunk -> manifest) must shuffle
    exactly once on the write key — extra Exchanges mean the window and the
    write disagree on partitioning."""
    from kafka_connect_hdfs_spark.config import HdfsSinkConfig
    from kafka_connect_hdfs_spark.pipeline import ingest_batch
    from kafka_connect_hdfs_spark.session import load_table
    from kafka_connect_hdfs_spark.sources import events_as_kafka_records

    records = events_as_kafka_records(load_table(spark, sf, "events"))
    cfg = HdfsSinkConfig(format="parquet", flush_size=100, partitioner="default")
    res = ingest_batch(records, cfg, topic="events", ts_col="ts")
    plan = _plan(res.data)
    # one Exchange for the (partition, encodedPartition) window; the count
    # filter reuses it
    assert plan.count("Exchange") <= 2, plan
    # the per-record committed name (min/max over the chunk) rides on the
    # same partitioning: no Exchange of its own
    from kafka_connect_hdfs_spark.operators.rotation import chunk_file_name

    named = _plan(res.data.withColumn("file_name", chunk_file_name("events", ".parquet")))
    assert named.count("Exchange") == plan.count("Exchange"), named


def test_minhash_signatures_shuffle_free(spark, sf):
    """MinHash signatures must be computed map-side: the shingle set stays an
    array column and every sig_i is array_min(transform(...)), so the ONLY
    Exchange in the plan is the deliberate round-robin fan_out — never a
    hash-partitioned aggregation. At 100 TB an explode+groupBy here would
    shuffle ~50 rows per document."""
    from kafka_connect_hdfs_spark.operators.dedup import (
        minhash_signatures, simhash_signatures,
    )
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    for sig_fn in (minhash_signatures, simhash_signatures):
        plan = _plan(sig_fn(docs))
        assert "hashpartitioning" not in plan, sig_fn.__name__
        assert "rangepartitioning" not in plan, sig_fn.__name__
        assert "HashAggregate" not in plan and "SortAggregate" not in plan
        # formatted explain prints each node twice (tree + detail): one
        # Exchange node — the fan_out round-robin — is exactly 2 string hits
        assert plan.count("Exchange") == 2 and "RoundRobinPartitioning" in plan


def test_media_summary_prunes_payload(spark, sf):
    """Metadata-only rollups must not read the binary payload column."""
    from kafka_connect_hdfs_spark.operators.multimodal import (
        documents_as_media, media_summary,
    )
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(media_summary(documents_as_media(docs)))
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "text" in read_schema  # payload derives from text here…
    # …but the wide original text column is projected away before the agg
    assert "collect" not in plan.lower()


def test_ivf_cell_assignment_shuffle_free(spark, sf):
    """IVF coarse quantization must be a map-side argmax over literal seed
    vectors: no join with the seed set, no Window shuffle of the corpus.
    The old formulation (broadcast cross-join × n_seeds + row_number window)
    shuffled n_seeds× the corpus INCLUDING the embedding column."""
    from kafka_connect_hdfs_spark.operators.similarity import assign_ivf_cells
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    seeds = emb.filter(emb.vec_id < 8)
    plan = _plan(assign_ivf_cells(emb, seeds))
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_pii_scrub_and_split_are_map_side(spark, sf):
    """PII scrubbing and hash splits must compile to pure projections: the
    only allowed Exchange is the fan_out round-robin (scrub_pii), never a
    hash/range shuffle or a join."""
    from kafka_connect_hdfs_spark.operators.packing import scrub_pii, split_corpus
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(scrub_pii(docs))
    assert "hashpartitioning" not in plan and "Join" not in plan, plan
    plan = _plan(split_corpus(docs))
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_pack_sequences_single_pruned_shuffle(spark, sf):
    """Sequence packing shuffles exactly once (the per-shard window) and the
    exchange carries only the pruned (id, tokens, shard) projection — the
    text column must never reach the shuffle."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.packing import with_sequence_packing
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    t = F.trim(F.col("text"))
    pruned = docs.select(
        "doc_id",
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .alias("n_tokens"),
    )
    plan = _plan(with_sequence_packing(pruned, budget=512, shards=8))
    assert plan.count("Exchange") <= 2, plan  # shard hash + AQE read at most
    # the scan must prune to (doc_id, text): no other document columns
    assert "lang" not in plan and "source" not in plan, plan
    # shuffle output schema is the pruned projection, not the raw text
    assert "Window" in plan, plan


def test_tfidf_broadcasts_doc_freq(spark, sf):
    """The vocabulary-sized document-frequency table must come back onto the
    (doc, term) tf table as a broadcast join — a SortMergeJoin here would
    shuffle the whole tf table a second time."""
    from kafka_connect_hdfs_spark.operators.text import tfidf_top_terms
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(tfidf_top_terms(docs, 5))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_landed_output_partition_pruned_on_read(spark, sf, tmp_path_factory):
    """Reading a landed partition-dir layout with a partition predicate must
    prune at the catalog/file-listing level (PartitionFilters), not scan all
    dirs and filter rows — the property that makes a 100 TB landing zone
    queryable by partition."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.session import load_table

    out = str(tmp_path_factory.mktemp("pruned")) + "/landed"
    ev = load_table(spark, sf, "events")
    ev.write.partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _plan(back)
    assert "PartitionFilters" in plan, plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1][:200], plan
    # the predicate must NOT survive as a post-scan row Filter
    assert "Filter (" not in plan or "click" not in plan.split("Filter", 1)[1][:120], plan


def test_grouped_topk_partial_limit_before_shuffle(spark, sf):
    """Per-key top-k must push a PARTIAL WindowGroupLimit below the
    exchange: every map task forwards at most k rows per key, so the
    shuffle carries ~k x keys rows, not the event log. (Spark's
    InferWindowGroupLimit fires on rank <= k filters — this guard keeps
    the query shape inside that optimization.)"""
    from kafka_connect_hdfs_spark.plans.analytics import q_top_events_per_user

    plan = q_top_events_per_user(spark, sf)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan.split("Exchange hashpartitioning")[-1], (
        "partial group-limit must sit below the hash exchange"
    )


def test_funnel_single_exchange_no_python(spark, sf):
    from kafka_connect_hdfs_spark.operators.funnel import funnel_times
    from kafka_connect_hdfs_spark.session import load_table

    df = funnel_times(
        load_table(spark, sf, "events"), ("signup", "view", "purchase")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "EvalPython" not in plan and "Window" not in plan


def test_pq_encode_shuffle_free(spark):
    """PQ encoding must be map-side: codebook folded into literals, argmin
    via array_min over structs — no Exchange, no aggregate in the plan.
    At 100 TB this is what lets the corpus compress to m bytes/vector
    without any data movement."""
    from kafka_connect_hdfs_spark.operators.similarity import pq_codebook, pq_encode
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    book = pq_codebook(emb, m=4, n_codes=8)
    plan = _plan(pq_encode(emb, book))
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_unk_replace_never_shuffles_corpus(spark, sf):
    """Vocabulary pruning must be a map-side transform over the corpus: the
    only aggregation is the (collected) vocab count pre-pass; the rewrite
    plan itself has no Exchange and no Join."""
    from kafka_connect_hdfs_spark.operators.text import unk_replace
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(unk_replace(docs, min_count=2))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_remove_hot_ngrams_is_map_side(spark, sf):
    """Hot-n-gram span removal must be a pure map-side transform over the
    corpus: the hot set rides the plan as a literal, so the removal plan has
    no Exchange and no Join (the count pass is a separate, collected job)."""
    from kafka_connect_hdfs_spark.operators.text import remove_hot_ngrams
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(remove_hot_ngrams(docs, n=3, hot_threshold=5))
    assert "Join" not in plan, plan
    # the only allowed Exchange is fan_out's round-robin spread of an
    # under-partitioned scan — never a KEYED shuffle of the corpus, and
    # not a SinglePartition collapse either: EVERY Exchange in the plan
    # must be RoundRobinPartitioning (ADVICE r13 — the substring checks
    # alone would admit Exchange SinglePartition)
    low = plan.lower()
    assert "hashpartitioning" not in low, plan
    assert "rangepartitioning" not in low, plan
    import re as _re

    n_exchanges = len(_re.findall(r"^\(\d+\) exchange$", low, _re.MULTILINE))
    assert n_exchanges == low.count("roundrobinpartitioning"), plan


def test_cluster_representatives_no_window_sort(spark, sf):
    """The per-cluster argmax must be one max(struct) aggregation — no
    window function, no per-cluster sort in the plan."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.dedup import cluster_representatives
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    ).limit(10)
    plan = _plan(cluster_representatives(docs, pairs))
    assert "Window" not in plan, plan


def test_unk_replace_join_path_broadcasts_vocab(spark, sf):
    """The large-vocab strategy must join the kept vocabulary as a
    broadcast (never a sort-merge join) and shuffle only the pruned
    (id, pos, token) triples for reassembly — document text stays out of
    every exchange."""
    from kafka_connect_hdfs_spark.operators.text import unk_replace
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(unk_replace(docs, min_count=2, vocab_literal_max=0))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # lang/source prove column pruning reached the scan
    assert "lang" not in plan and "source" not in plan, plan


def test_chunk_dedup_shuffles_triples_not_text(spark, sf):
    """Chunk dedup's keep-first window must partition on the chunk key and
    the exploded rows must carry only (id, idx, chunk) — the original text
    column must not survive into the shuffle."""
    from kafka_connect_hdfs_spark.operators.dedup import chunk_dedup
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(chunk_dedup(docs, chunk_tokens=4))
    assert "hashpartitioning(chunk" in plan, plan
    # lang/source prove column pruning reached the scan
    assert "lang" not in plan and "source" not in plan, plan


def test_ngram_counts_takeordered_topk(spark, sf):
    """Top-k grams must be TakeOrdered (no global sort materialization) and
    the count agg must combine map-side (two HashAggregate phases)."""
    from kafka_connect_hdfs_spark.operators.text import ngram_counts
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(ngram_counts(docs, n=2, top_k=50))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_grouped_topk_uses_window_group_limit(spark, sf):
    """Grouped top-k must compile to WindowGroupLimit Partial→Final (Spark's
    rank-limit pushdown): each map task pre-filters to its local top-k
    before the exchange, so the shuffle carries ≤ k rows per group per
    partition — the property that makes window top-k viable at 100 TB."""
    from kafka_connect_hdfs_spark.plans.analytics import q_top_events_per_user

    plan = _plan(q_top_events_per_user(spark, sf))
    # two nodes: the Partial (pre-shuffle) and Final (post-shuffle) limits
    assert plan.count("WindowGroupLimit (") >= 2, plan


def test_chunk_with_overlap_is_map_side(spark, sf):
    """Sliding-window chunking must be pure map-side: tokenize + sequence +
    posexplode + slice in one projection chain — no Exchange, no Join, no
    aggregate. At 100 TB the chunker runs at scan speed."""
    from kafka_connect_hdfs_spark.operators.packing import chunk_with_overlap
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(chunk_with_overlap(docs, window=16, stride=8))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_strip_markup_is_map_side_codegen(spark, sf):
    """Markup stripping is a regexp_replace chain: no Exchange, no Python
    worker, stays inside WholeStageCodegen."""
    from kafka_connect_hdfs_spark.operators.text import strip_markup
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(strip_markup(docs))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "codegen id" in plan, plan


def test_semantic_dedup_assignment_shuffle_free_and_join_on_cell(spark, sf):
    """SemDeDup's candidate join must be an equi-join on cell (never a
    cartesian), and the corpus-side cell assignment itself adds no
    exchange before the join keys exist."""
    from kafka_connect_hdfs_spark.operators.similarity import semantic_dedup
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(semantic_dedup(emb, n_seeds=8, threshold=0.9))
    assert "Cartesian" not in plan, plan
    assert "cell" in plan


def test_filtered_topk_broadcasts_queries_no_corpus_shuffle_before_join(spark, sf):
    """Filtered ANN: the query side (with filter keys) broadcasts — the
    metadata equi-join is map-side over the corpus scan, so the only
    exchange in the plan is the per-query top-k window shuffle of scored
    rows, never a shuffle of the corpus for the join itself."""
    from kafka_connect_hdfs_spark.operators.similarity import filtered_topk
    from kafka_connect_hdfs_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(filtered_topk(emb, emb.filter(F.col("vec_id") < 10), k=5))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_temperature_sample_corpus_never_shuffles(spark, sf):
    """Temperature mixing: the per-language totals are a separate collected
    pre-pass; the sampling plan itself is a literal-map lookup + hash
    filter — no Exchange, no Join over the corpus."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.packing import temperature_sample
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    t = F.trim(F.col("text"))
    with_tokens = docs.select(
        "doc_id", "lang",
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+"))).cast("bigint").alias("n_tokens"),
    )
    plan = _plan(temperature_sample(with_tokens, budget_tokens=3000))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_source_report_shuffles_fingerprints_not_text(spark, sf):
    """The per-source report reduces text to md5 BEFORE the shuffle: the
    exchange carries (source, lang, fp, counts) — the text column must not
    appear in any post-scan node."""
    from kafka_connect_hdfs_spark.operators.quality import source_report
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(source_report(docs))
    assert "Exchange" in plan  # it IS an aggregation
    post_scan = plan.split("Scan parquet")[0]
    assert "md5" not in post_scan or "text#" not in post_scan.split("Exchange")[-1]
    # projection pruned: doc_id/n_chars never read
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "doc_id" not in read_schema and "n_chars" not in read_schema


def test_ivf_index_serve_prunes_partitions(spark, sf, tmp_path_factory):
    """Persisted-IVF serving must prune unprobed cells at PLANNING time:
    the scan's PartitionFilters carries the cell IN-list and the partition
    count read is the probed subset, never the full directory listing."""
    from kafka_connect_hdfs_spark.operators.similarity import (
        build_ivf_index, query_ivf_index,
    )
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    path = str(tmp_path_factory.mktemp("ivfidx")) + "/idx"
    build_ivf_index(emb, path, n_seeds=8)
    plan = _plan(query_ivf_index(spark, path, [0, 1], k=3, n_probe=1))
    pf = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cell" in ln
    ]
    assert pf, plan
    assert "IN" in pf[0] or "in(cell" in pf[0], pf[0]


def test_assemble_sessions_single_user_exchange(spark, sf):
    """Session assembly claims ONE shuffle key end to end: the lag window
    partitions by user and the (user, session) groupBy must reuse that
    partitioning (hash(user) satisfies the clustered distribution), so the
    plan carries exactly one Exchange."""
    from kafka_connect_hdfs_spark.operators.funnel import assemble_sessions
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events")
    plan = _plan(assemble_sessions(ev))
    # formatted explain prints each node twice (tree + detail)
    assert plan.count("Exchange") == 2, plan


def test_bm25_takeordered_and_no_corpus_wide_sort(spark, sf):
    """BM25's top-k must be a TakeOrdered over the scored tf table, never a
    global Sort of the corpus; the df table comes back via broadcast."""
    from kafka_connect_hdfs_spark.operators.text import bm25_search
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(bm25_search(docs, ["spark", "table"], k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_shingle_edges_text_reduced_before_shuffle(spark, sf):
    """Source-graph edge construction must reduce text to shingles map-side:
    no Exchange may carry the text column, and the scan reads only
    (source, text)."""
    from kafka_connect_hdfs_spark.operators.graph import shingle_share_edges
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(shingle_share_edges(docs))
    for chunk in plan.split("Exchange")[1:]:
        first_line = chunk.split("\n")[0]
        assert "text#" not in first_line, first_line
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "doc_id" not in read_schema and "n_chars" not in read_schema


def test_pagerank_no_cartesian_and_partial_aggs(spark):
    """The power iteration must keep every per-iteration contribution sum
    two-phase (map-side partials) and produce no CartesianProduct — the
    only nested-loop join allowed is the broadcast of the one-row node
    count."""
    from kafka_connect_hdfs_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [("a", "b", 2), ("b", "c", 1)],
        "src_a string, src_b string, n_shared long",
    )
    plan = _plan(pagerank(e, iterations=3))
    assert "CartesianProduct" not in plan, plan
    # 3 contribution rounds, each a two-phase sum → >= 6 HashAggregates
    assert plan.count("HashAggregate") >= 6, plan


def test_bpe_pair_counts_takeordered_two_phase(spark, sf):
    """BPE pair counting: map-side pair build, two-phase count, TakeOrdered
    top-k — never a global sort of the pair table."""
    from kafka_connect_hdfs_spark.operators.text import bpe_pair_counts
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(bpe_pair_counts(docs))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_event_transitions_prunes_heavy_columns(spark, sf):
    """The transition matrix reads only (user, ts, event_id, type): the
    props map and value column must never reach the lag-window shuffle."""
    from kafka_connect_hdfs_spark.operators.funnel import event_transitions
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events")
    plan = _plan(event_transitions(ev))
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "props" not in read_schema and "value" not in read_schema
    assert "CartesianProduct" not in plan


def test_embedding_covariance_partial_agg_no_window(spark, sf):
    """Covariance is pure aggregation: two-phase sums, no window over the
    corpus, means joined back by broadcast."""
    from kafka_connect_hdfs_spark.operators.similarity import (
        embedding_covariance,
    )
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(embedding_covariance(emb))
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bitext_mine_candidates_path_no_cross_product(spark, sf):
    """With an LSH candidate table supplied, bitext mining must score only
    the candidate pairs — no cartesian/broadcast-nested-loop join may
    appear anywhere in the plan."""
    from kafka_connect_hdfs_spark.operators.similarity import bitext_mine
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    a = emb.filter("label < 5")
    b = emb.filter("label >= 5")
    cand = spark.createDataFrame(
        [(0, 250), (1, 251), (2, 252)], "a_id long, b_id long"
    )
    plan = _plan(bitext_mine(a, b, candidates=cand))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_gopher_rules_is_map_side_codegen(spark, sf):
    """The Gopher gate is a single-pass projection: no Exchange, no
    Python, all rules folded into one whole-stage-codegen span."""
    from kafka_connect_hdfs_spark.operators.text import gopher_rules
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(gopher_rules(docs).drop("text"))
    # only the fan_out round-robin may appear — never a hash shuffle/join
    assert "hashpartitioning" not in plan and "Join" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # pure projection pipeline: no aggregate, no window
    assert "HashAggregate" not in plan and "Window" not in plan, plan


def test_covisit_and_triangle_prune_and_no_cartesian(spark, sf):
    """The co-visitation cell build must read only (user, type, ts) —
    props/value never reach the cell shuffle — and the wedge join must be
    equi-keyed end to end (no cartesian anywhere in triangle counting)."""
    from kafka_connect_hdfs_spark.operators.graph import (
        covisit_edges, triangle_count,
    )
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events")
    edges = covisit_edges(ev)
    plan = _plan(edges)
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "props" not in read_schema and "value" not in read_schema
    tri_plan = _plan(triangle_count(edges, id_a="user_a", id_b="user_b"))
    assert "CartesianProduct" not in tri_plan
    assert "BroadcastNestedLoopJoin" not in tri_plan


def test_span_coverage_never_shuffles_text(spark, sf):
    """duplicated_span_coverage's corpus-sized shuffles must carry only
    (id, pos, hash) triples — the token array / text column must be
    projected away before every exchange."""
    from kafka_connect_hdfs_spark.operators.dedup import (
        duplicated_span_coverage,
    )
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(duplicated_span_coverage(docs, window=8, min_docs=2))
    # no exchange's output may include the bound token array or raw text
    for chunk in plan.split("Exchange")[1:]:
        header = chunk.split("\n")[0]
        assert "_t" not in header and "text" not in header, header
    # heavy unrelated columns never read at all
    assert "lang" not in plan and "n_chars" not in plan, plan


def test_bpe_encode_composes_with_packing_one_shuffle(spark, sf):
    """corpus_pack_bpe: the BPE count projection is map-side, so packing on
    BPE tokens keeps the single pruned shard shuffle of pack_sequences."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.packing import with_sequence_packing
    from kafka_connect_hdfs_spark.operators.text import bpe_encode
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    enc = bpe_encode(docs, [("t", "a"), ("ta", "b")])
    pruned = enc.select("doc_id", F.col("n_bpe_tokens").alias("n_tokens"))
    plan = _plan(with_sequence_packing(pruned, budget=512, shards=8))
    assert plan.count("Exchange") <= 2, plan
    for chunk in plan.split("Exchange")[1:]:
        header = chunk.split("\n")[0]
        assert "text" not in header and "bpe_tokens" not in header, header


def test_knn_graph_no_cartesian_and_cell_equijoin(spark, sf):
    """The kNN-graph self-join must be an equi-join ON CELL (candidate
    pairs bounded by cell sizes) — never a cartesian/BNL join of the
    corpus against itself; cell assignment stays map-side (no join)."""
    from kafka_connect_hdfs_spark.operators.similarity import knn_graph
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(knn_graph(emb, k=3, n_seeds=8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_kcore_rounds_no_cartesian(spark, sf):
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.graph import (
        covisit_edges, kcore_decompose,
    )
    from kafka_connect_hdfs_spark.session import load_table

    events = load_table(spark, sf, "events")
    edges = covisit_edges(events, max_users_per_bucket=200).filter(
        F.col("n_covisits") >= 3
    )
    plan = _plan(kcore_decompose(edges, k=3, id_a="user_a", id_b="user_b"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dsir_broadcasts_bucket_model_no_corpus_window(spark, sf):
    """DSIR's bucket log-ratio model must come back as a BROADCAST join
    (buckets-bounded), and the corpus-sized scoring path must not run a
    global single-partition window (selection is TakeOrdered + a window
    over the already-limited top rows only)."""
    from kafka_connect_hdfs_spark.operators.text import dsir_importance_select
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(dsir_importance_select(docs, n_select=50))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_lpa_rounds_no_cartesian_partial_aggs(spark, sf):
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.graph import (
        covisit_edges, label_propagation_communities,
    )
    from kafka_connect_hdfs_spark.session import load_table

    events = load_table(spark, sf, "events")
    edges = covisit_edges(events, max_users_per_bucket=200).filter(
        F.col("n_covisits") >= 3
    )
    plan = _plan(
        label_propagation_communities(edges, iterations=2, id_a="user_a", id_b="user_b")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # neighbor-label counting partial-combines map-side before the shuffle
    assert "partial_count" in plan, plan


def test_probe_sweep_broadcasts_queries_single_cell_equijoin(spark, sf):
    """The sweep's candidate join must be cell-keyed with the QUERY side
    broadcast — the corpus never shuffles for candidate generation, and no
    probe level may degrade to a cartesian rescan."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.similarity import ivf_probe_sweep
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(
        ivf_probe_sweep(emb, emb.filter(F.col("vec_id") < 10), probes=(1, 2))
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zipf_window_runs_on_vocab_not_corpus(spark, sf):
    """zipf_slope's rank window must consume the (group, token) COUNT
    table — i.e. the window sits above a HashAggregate, never directly
    over the exploded corpus — and the count partial-combines map-side."""
    from kafka_connect_hdfs_spark.operators.text import zipf_slope
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(zipf_slope(docs, top_n=30))
    assert "partial_count" in plan, plan
    assert "RunningWindowFunction" in plan or "Window" in plan, plan
    # the explode (Generate) must feed an aggregate, not the window sort
    gen_tail = plan.split("Generate", 1)[1] if "Generate" in plan else ""
    assert "HashAggregate" in gen_tail, plan


def test_maxsim_broadcasts_query_tokens_partial_aggs(spark, sf):
    """MaxSim's all-pairs scoring must broadcast the (tiny) query token
    side — a BroadcastNestedLoopJoin by design, never a shuffled join of
    the token table — and both aggregation levels partial-combine."""
    from kafka_connect_hdfs_spark.operators.similarity import maxsim_topk
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(maxsim_topk(emb, k=5, vecs_per_doc=4, n_query_docs=2))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "partial_max" in plan, plan


def test_unigram_word_table_aggregates_map_side(spark, sf):
    """The unigram trainer's ONLY corpus pass (word counting) must
    partial-combine before its shuffle; candidate substring counting runs
    on the distinct-word table, also partial-combined."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    t = F.trim(F.lower(F.col("text")))
    words = (
        docs.select(
            F.explode(
                F.when(F.length(t) == 0, F.array().cast("array<string>"))
                .otherwise(F.split(t, r"\s+"))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    plan = _plan(words)
    assert "partial_count" in plan, plan


def test_range_search_broadcast_filter_in_projection(spark, sf):
    """Radius search: queries broadcast (nested-loop), the radius filter
    runs before anything shuffles, and there is NO window/rank stage at
    all (the filter IS the operator)."""
    from kafka_connect_hdfs_spark.operators.similarity import range_search
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(
        range_search(emb, emb.filter("vec_id < 10"), min_cosine=0.25)
    )
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange" not in plan.split("BroadcastNestedLoopJoin")[0], plan


def test_isotropy_no_pair_join(spark, sf):
    """Isotropy uses the ||sum||^2 identity: label-dim bounded aggregates
    only — no self-join, no cartesian pair table, no window."""
    from kafka_connect_hdfs_spark.operators.similarity import (
        isotropy_by_label,
    )
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(isotropy_by_label(emb))
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "Window"):
        assert bad not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial-combined


def test_length_buckets_single_partial_agg(spark, sf):
    """Length bucketing: one projection + one bucket-keyed two-phase
    aggregate; nothing else (no join, no window, one shuffle)."""
    from kafka_connect_hdfs_spark.operators.packing import length_buckets
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(length_buckets(docs))
    # tree lines render as "Exchange (n)", node details as "(n) Exchange"
    assert plan.count("Exchange (") == 1, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_heaps_law_vocab_bounded_shuffles(spark, sf):
    """Heaps fit: the corpus shuffles once on (group, token) with map-side
    partial counts; the growth windows run over the DOC table, and the
    regression is a closed-form aggregate — no corpus-sized window."""
    from kafka_connect_hdfs_spark.operators.text import heaps_law
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(heaps_law(docs))
    # the ReadSchema must prune to the three consumed columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "n_chars" not in read_schema, read_schema
    assert "lang" not in read_schema, read_schema
    assert plan.count("HashAggregate") >= 4, plan  # partial-combined aggs


def test_bloom_probe_broadcasts_filter_no_shuffle_of_probe(spark):
    # the probe side must join the (tiny) filter by BROADCAST — a shuffled
    # join here would move the whole incoming batch at 100 TB scale
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.dedup import (
        bloom_build, bloom_probe,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("fp")
    )
    flt = bloom_build(df, "fp", m_bits=4096, k=4)
    plan = _plan(bloom_probe(df, flt, "fp", "doc_id", m_bits=4096, k=4))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hits_partial_aggregation_per_half_step(spark):
    # each half-step must partial-combine map-side (two HashAggregates per
    # groupBy) and never build a cartesian product
    from kafka_connect_hdfs_spark.operators.graph import hits_scores

    edges = spark.createDataFrame(
        [(f"u{i}", f"v{i % 7}", 1 + i % 3) for i in range(50)],
        "src string, dst string, w int",
    )
    plan = _plan(hits_scores(edges, iterations=2))
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 8  # 4 half-steps x partial+final


def test_line_dedup_two_shuffles_no_joins(spark, sf):
    """CCNet line dedup must keep its 2-shuffle/0-join shape: one line-hash
    exchange feeding a partition-only window, one doc-keyed aggregation —
    a groupBy-then-join phrasing shuffles the line table twice at scale."""
    from kafka_connect_hdfs_spark.operators.dedup import line_dedup
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents").selectExpr("doc_id", "text")
    # executedPlan tree (formatted mode lists each node twice: tree + detail)
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan, plan


def test_cube_profile_single_aggregate_with_expand(spark, sf):
    """CUBE mart: one Expand (the 2^d grouping sets) + ONE partial-combined
    aggregate exchange — corpus rows never shuffle per grouping set."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.quality import cube_profile
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events").withColumn("day", F.to_date("ts"))
    df = cube_profile(ev, ["event_type", "day"], value_col="value")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "partial_" in plan, plan


def test_refresh_aggregate_no_base_rescan_shape(spark, sf):
    """Incremental mart refresh: the merged plan aggregates the delta and
    unions the (already-aggregated) mart — no join, and only the delta
    aggregation plus the merge aggregation shuffle."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.merge import refresh_aggregate
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events").withColumn("day", F.to_date("ts"))
    base = ev.filter(F.col("event_id") % 5 != 0).groupBy(
        "event_type", "day"
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
    )
    delta = ev.filter(F.col("event_id") % 5 == 0)
    plan = _plan(
        refresh_aggregate(
            base, delta, ["event_type", "day"],
            sum_cols={"value": "total_value"},
        )
    )
    assert "Join" not in plan, plan


def test_int8_quant_broadcast_dim_stats(spark, sf):
    """int8 audit: the per-dim amax table joins back by BROADCAST (it is
    dims-sized), the element table shuffles once for the amax aggregation
    and once for the per-dim error aggregation — never a sort-merge join
    of two corpus-sized explosions."""
    from kafka_connect_hdfs_spark.operators.similarity import (
        embedding_int8_quant,
    )
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, sf, "embeddings")
    plan = _plan(embedding_int8_quant(emb))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final for both aggs


def test_mad_outliers_broadcast_stats(spark, sf):
    """MAD report: both per-group stat tables (median, MAD) come back via
    broadcast joins; the corpus never sort-merge-joins itself."""
    from kafka_connect_hdfs_spark.operators.quality import (
        robust_length_outliers,
    )
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(robust_length_outliers(docs))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_weak_label_census_no_joins_single_agg(spark, sf):
    """Vote census: all three LFs fold in one map-side projection — zero
    joins, one partial-combined aggregation over the ≤81-row vote space."""
    from kafka_connect_hdfs_spark.operators.quality import weak_label_census
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = weak_label_census(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_decay_engagement_single_user_shuffle(spark, sf):
    """Decayed engagement: the max(ts) reference is a broadcast nested
    loop over a ONE-ROW build side (not a shuffled join); per-user sums
    partial-combine so the user exchange is the only corpus-keyed one."""
    from kafka_connect_hdfs_spark.operators.funnel import decayed_engagement
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events")
    plan = _plan(decayed_engagement(ev, k=20))
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan  # map-side combine on the exact micro sums
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_psi_drift_bounded_aggregations(spark, sf):
    """PSI: the only corpus-sized work is two bucket-count aggregations
    (≤ n_buckets rows out, partial-combined); everything after joins
    ≤10-row tables by broadcast."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.quality import psi_drift
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    plan = _plan(psi_drift(ref, cur))
    assert "SortMergeJoin" not in plan
    assert plan.count("partial_count") >= 2  # both bucket counts combine


def test_pmi_pairs_map_side_no_self_join(spark, sf):
    """PMI collocations: pairs come from the per-doc nested transform —
    the corpus-sized token table is never self-joined; the two exchanges
    are the pair aggregation and the (vocab-bounded) token counts, joined
    back by broadcast."""
    from kafka_connect_hdfs_spark.operators.text import pmi_collocations
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(pmi_collocations(docs))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_snapshot_content_diff_fingerprints_before_join(spark, sf, tmp_path):
    """Content diff: each version aggregates to (key, count, xor) BEFORE
    the full-outer join — row payloads never cross the join."""
    from kafka_connect_hdfs_spark.session import load_table
    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, snapshot_content_diff,
    )

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    tbl = str(tmp_path / "t")
    commit_snapshot(spark, docs, tbl)
    commit_snapshot(spark, docs.limit(10), tbl)
    plan = _plan(snapshot_content_diff(spark, tbl, 1, 2, "doc_id", ["text"]))
    # partial xor/count per version: 2 versions × (partial+final)
    assert plan.count("partial_count") >= 2
    # the join input is the aggregated fingerprint, not raw text: text
    # appears only under the scans/hash, never in the SMJ output schema
    smj = plan.split("SortMergeJoin")
    assert len(smj) >= 2  # full-outer over key fingerprints


def test_rake_one_doc_shuffle_broadcast_stats(spark, sf):
    """RAKE: segment ids ride ONE doc-keyed window exchange; the word
    stats come back via broadcast — the corpus never sort-merge-joins."""
    from kafka_connect_hdfs_spark.operators.text import rake_keyphrases
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(rake_keyphrases(docs))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# r08 operators


def test_mutual_info_marginals_broadcast(spark, sf):
    from kafka_connect_hdfs_spark.operators.quality import mutual_information
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(mutual_information(docs, "lang", "source"))
    # vocab-bounded marginals + the scalar total join back as broadcasts —
    # the cell table never sort-merge-joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total


def test_ks_drift_single_agg_per_side_before_grid(spark, sf):
    from kafka_connect_hdfs_spark.operators.quality import ks_drift
    from kafka_connect_hdfs_spark.session import load_table

    from pyspark.sql import functions as F

    ev = load_table(spark, sf, "events")
    plan = _plan(
        ks_drift(
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
        )
    )
    # per-side grid counts partial-aggregate map-side (HashAggregate
    # pairs)
    assert plan.count("HashAggregate") >= 4
    # the cumulative ECDF is a TWO-PHASE prefix sum (r08 verdict item 2):
    # the grid's running-sum window must be PARTITIONED (by the range
    # partition id) — windowspecdefinition(_pid, q ...) — and the grid
    # must range-partition on q first; the only unpartitioned window
    # (the per-range offset prefix) runs over <= n_partitions rows.
    assert "rangepartitioning(q" in plan, plan
    assert "windowspecdefinition(_pid" in plan, plan
    # no unpartitioned window over the grid itself: every windowspec
    # that orders by q must carry the _pid partition key
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        if re.search(r"\bq#\d+L ASC", spec):
            assert spec.startswith("_pid"), spec


def test_benford_is_one_aggregate_no_join_on_rows(spark, sf):
    from kafka_connect_hdfs_spark.operators.quality import benford_profile
    from kafka_connect_hdfs_spark.session import load_table

    plan = _plan(benford_profile(load_table(spark, sf, "events")))
    # the events scan reads ONLY value (digit census needs nothing else)
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "value" in read and "props" not in read and "user_id" not in read
    assert "SortMergeJoin" not in plan


def test_link_prediction_no_cartesian(spark):
    from kafka_connect_hdfs_spark.operators.graph import link_prediction

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 3)], "user_a long, user_b long"
    )
    plan = _plan(link_prediction(e, k=5))
    assert "CartesianProduct" not in plan


def test_jsd_drift_bounded_aggregations(spark, sf):
    """JSD: same scale shape as PSI — two bucket-count aggregations
    (≤ n_buckets rows out, partial-combined), broadcast joins after."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.quality import jsd_drift
    from kafka_connect_hdfs_spark.session import load_table

    ev = load_table(spark, sf, "events")
    plan = _plan(
        jsd_drift(
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
        )
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("partial_count") >= 2


def test_llr_pairs_map_side_no_self_join(spark, sf):
    """LLR collocations share PMI's construction: map-side pair emission
    (never a token-table self-join), vocab-bounded marginals broadcast."""
    from kafka_connect_hdfs_spark.operators.text import llr_collocations
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(llr_collocations(docs))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_mutual_info_factors_double_before_multiply(spark, sf):
    """The MI contribution's count products must multiply as DOUBLES
    (the r08 ADVICE 64-bit-wrap class): no bigint multiply of n_ab by
    the total may survive into the physical plan."""
    from kafka_connect_hdfs_spark.operators.quality import mutual_information
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(mutual_information(docs, "lang", "source"))
    import re

    # any (n_ab#x L * _N#y L) bigint product would render without casts
    assert not re.search(r"\(n_ab#\d+L \* _N#\d+L\)", plan), plan


def test_unpivot_compiles_to_expand_single_scan(spark, sf):
    """UNPIVOT must compile to Expand over ONE scan (the CUBE machinery)
    — no join, no per-column scan loop; the aggregate partial-combines."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.session import load_table

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = load_table(spark, sf, "lineitem").select(
        *[F.col(c).cast("decimal(18,2)").alias(c) for c in cols]
    )
    plan = _plan(
        li.unpivot([], cols, "metric", "value")
        .groupBy("metric")
        .agg(F.count("*").alias("n"))
    )
    assert "Expand" in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan  # tree + detail render


def test_media_pipeline_scans_only_doc_id(spark, sf):
    """The media fixture generators and decoders must never drag the
    documents TEXT column (or any other) through the scan: the corpus is
    born from doc_id alone, payloads are born in the executor, and the
    decode output carries five scalars — so the one parquet scan in the
    whole pipeline reads ReadSchema struct<doc_id:bigint>."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.operators.multimodal import (
        decode_media_stats, synthetic_media_corpus,
    )
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, sf, "documents")
    plan = _plan(
        decode_media_stats(synthetic_media_corpus(docs)).select(
            "media_id", "val_sum"
        )
    )
    rs = [
        ln for ln in plan.split("\n") if "ReadSchema" in ln
    ]
    assert rs, plan
    for ln in rs:
        assert "doc_id" in ln and "text" not in ln, ln


def test_decode_stats_payload_never_shuffles(spark, sf):
    """Any Exchange in the decode-stats plan must carry only the scalar
    stat columns — the binary payload reduces inside the scan-side
    mapInPandas and must not cross a shuffle boundary."""
    from kafka_connect_hdfs_spark.operators.multimodal import (
        decode_media_stats, synthetic_media_corpus,
    )
    from kafka_connect_hdfs_spark.session import load_table

    df = decode_media_stats(
        synthetic_media_corpus(load_table(spark, sf, "documents"))
    ).orderBy("media_id")
    plan = _plan(df)
    # formatted explain details every Exchange's output row; payload must
    # be absent downstream of the decode projection
    for seg in plan.split("Exchange")[1:]:
        head = seg.split("\n")[0]
        assert "payload" not in head, head


def test_read_as_of_scans_only_resolved_version_dirs(spark, tmp_path):
    """Timestamp time travel must prune at PLANNING time: the AS-OF-v2
    read's file index lists only v1+v2 data dirs — v3's files are
    invisible, not filtered."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import commit_snapshot, read_as_of
    from kafka_connect_hdfs_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang"
    )
    path = str(tmp_path / "t")
    commit_snapshot(
        spark, docs.filter(F.col("lang") == "en"), path, now=lambda: 1000
    )
    commit_snapshot(
        spark, docs.filter(F.col("lang") == "de"), path, mode="append",
        now=lambda: 2000,
    )
    commit_snapshot(
        spark, docs.filter(F.col("lang") == "fr"), path, mode="append",
        now=lambda: 3000,
    )
    files = read_as_of(spark, path, 2500).inputFiles()
    assert files
    assert all("/data/v1/" in f or "/data/v2/" in f for f in files), files
    assert not any("/data/v3/" in f for f in files)


def test_kneser_ney_single_corpus_shuffle_no_smj(spark, sf):
    """KN's count tables all derive from ONE bigram aggregation; the
    probability join must broadcast the vocab-bounded sides — a
    SortMergeJoin over the corpus would mean the shape regressed."""
    from kafka_connect_hdfs_spark.operators.text import kneser_ney_bigrams
    from kafka_connect_hdfs_spark.session import load_table

    plan = _plan(
        kneser_ney_bigrams(load_table(spark, sf, "documents"), top_n=100)
    )
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastExchange") >= 3  # ctx, cont, total


def test_snapshot_read_without_deletes_is_plain_scan(spark, tmp_path_factory):
    """The merge-on-read seam costs NOTHING for tables that never
    delete: read_snapshot of a delete-free version must compile to a
    bare scan — no join, no extra exchange (the r11/r12 zero-overhead
    claim, plan-pinned)."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, read_snapshot,
    )

    path = str(tmp_path_factory.mktemp("plan_snap") / "t")
    df = spark.range(100).select(F.col("id").alias("k"))
    commit_snapshot(spark, df, path)
    commit_snapshot(spark, df, path, mode="append")
    plan = _plan(read_snapshot(spark, path))
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan


def test_scoped_tombstone_read_joins_only_in_scope(spark, tmp_path_factory):
    """Sequence scoping in the PLAN: after delete → append, the scan
    splits into the scoped group (one anti-join against the tombstone
    keys) and the post-delete group (raw scan) unioned — exactly one
    join, and the union proves the newer dir bypasses the tombstone
    filter entirely."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import (
        commit_snapshot, delete_rows, read_snapshot,
    )

    path = str(tmp_path_factory.mktemp("plan_snap2") / "t")
    df = spark.range(100).select(F.col("id").alias("k"))
    commit_snapshot(spark, df, path)
    delete_rows(
        spark, path, spark.createDataFrame([(5,)], "k long"), "k"
    )
    commit_snapshot(
        spark,
        spark.range(100, 110).select(F.col("id").alias("k")),
        path, mode="append",
    )
    import re

    plan = _plan(read_snapshot(spark, path))
    # exactly one anti-join node (formatted mode lists each operator in
    # the tree AND the numbered detail — count the numbered nodes): the
    # appended dir reads unfiltered on the other Union branch
    joins = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(joins) == 1 and "LeftAnti" in plan, plan
    assert "Union" in plan, plan


def test_changelog_append_range_insert_is_plain_scan(spark, tmp_path_factory):
    """r13: changelog inserts route through the tombstone-aware loader
    (legacy-table correctness), but on a WATERMARKED table the added
    dirs outrank every tombstone — the append-range feed must still
    compile to a bare scan of the added dir, no join, no exchange."""
    from pyspark.sql import functions as F

    from kafka_connect_hdfs_spark.snapshots import (
        changelog_scan, commit_snapshot, delete_rows,
    )

    path = str(tmp_path_factory.mktemp("plan_cdf") / "t")
    df = spark.range(100).select(F.col("id").alias("k"))
    commit_snapshot(spark, df, path)
    delete_rows(
        spark, path, spark.createDataFrame([(5,)], "k long"), "k"
    )  # v2: live tombstone
    commit_snapshot(
        spark,
        spark.range(100, 110).select(F.col("id").alias("k")),
        path, mode="append",
    )  # v3
    feed = changelog_scan(spark, path, 2, 3)  # append-only range
    plan = _plan(feed)
    assert "Join" not in plan, plan
    assert "Exchange" not in plan, plan
    files = feed.inputFiles()
    assert files and all("/data/v3/" in f for f in files), files
