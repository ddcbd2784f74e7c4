"""Round-4 operators and fixes: distributed BPE encode (expression-chain
and Arrow paths), star-contraction self-pair contract parity, single-agg
convergence in duplicate_clusters, HALF_UP rounding in MMR rerank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# bpe_encode


def _bpe_reference(text: str, merges) -> list[str]:
    """Pure-Python Sennrich apply: merges in table order, each greedy
    left-to-right non-overlapping within whitespace words."""
    import re

    toks: list[str] = []
    for w in re.sub(r"\s+", " ", text.lower()).strip().split(" "):
        if not w:
            continue
        syms = list(w)
        for left, right in merges:
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    return toks


MERGES = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("a", "a"), ("l", "o"), ("lo", "w"),
]

DOCS = [
    (1, "table tables stable"),
    (2, "aaaa aaa aa a"),          # overlap: left-to-right non-overlapping
    (3, "low slow lower tab"),
    (4, ""),                        # empty doc -> zero tokens
    (5, "  spaced   out  "),        # whitespace squeeze
    (6, "taab"),                    # (t,a) fires once, 'ab' stays split
]


def _make_docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bpe_encode_matches_reference_expression_path(spark):
    from kafka_connect_hdfs_spark.operators.text import bpe_encode

    rows = bpe_encode(_make_docs(spark), MERGES).orderBy("doc_id").collect()
    for r in rows:
        want = _bpe_reference(dict(DOCS)[r["doc_id"]], MERGES)
        assert list(r["bpe_tokens"]) == want, r["doc_id"]
        assert r["n_bpe_tokens"] == len(want)


def test_bpe_encode_pandas_path_equals_expression_path(spark):
    from kafka_connect_hdfs_spark.operators.text import bpe_encode

    docs = _make_docs(spark)
    expr = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(docs, MERGES).collect()
    }
    arrow = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(docs, MERGES, max_expr_merges=0).collect()
    }
    assert expr == arrow


def test_bpe_encode_overlap_is_left_to_right(spark):
    from kafka_connect_hdfs_spark.operators.text import bpe_encode

    docs = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    r = bpe_encode(docs, [("a", "a")]).collect()[0]
    # aaaa -> [aa, aa]; aaa -> [aa, a]
    assert list(r["bpe_tokens"]) == ["aa", "aa", "aa", "a"]


def test_bpe_encode_applies_learned_table(spark):
    """End-to-end: bpe_learn trains the table, bpe_encode applies it —
    encoded corpus must match the pure-Python replay of the same table."""
    from kafka_connect_hdfs_spark.operators.text import bpe_encode, bpe_learn

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the cat sat on the mat", "the hat of the cat", "rats sat flat"]
        )],
        "doc_id long, text string",
    )
    merges = [(m[0], m[1]) for m in bpe_learn(docs, n_merges=8)]
    assert merges, "learner produced no merges"
    rows = bpe_encode(docs, merges).orderBy("doc_id").collect()
    texts = {r["doc_id"]: r for r in rows}
    for i, t in enumerate(
        ["the cat sat on the mat", "the hat of the cat", "rats sat flat"]
    ):
        assert list(texts[i]["bpe_tokens"]) == _bpe_reference(t, merges)


def test_bpe_encode_is_shuffle_free(spark):
    from kafka_connect_hdfs_spark.operators.text import bpe_encode

    plan = bpe_encode(_make_docs(spark), MERGES)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# star-contraction contract parity (ADVICE r03)


def test_star_keeps_self_pair_only_nodes(spark):
    from kafka_connect_hdfs_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (3, 3), (4, 4), (2, 1)], "id_a long, id_b long"
    )
    for method in ("propagation", "star"):
        got = {
            r["node"]: r["cluster_id"]
            for r in duplicate_clusters(pairs, method=method).collect()
        }
        assert got == {1: 1, 2: 1, 3: 3, 4: 4}, method


def test_star_equals_propagation_on_chain_with_self_pairs(spark):
    from kafka_connect_hdfs_spark.operators.dedup import duplicate_clusters

    # chain length stays under duplicate_clusters' default max_iter=25 —
    # min-label propagation needs diameter-many rounds (star does not)
    chain = [(i, i + 1) for i in range(20)] + [(99, 99), (50, 60)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    a = sorted(
        (r["node"], r["cluster_id"])
        for r in duplicate_clusters(pairs, method="propagation").collect()
    )
    b = sorted(
        (r["node"], r["cluster_id"])
        for r in duplicate_clusters(pairs, method="star").collect()
    )
    assert a == b
    assert (99, 99) in a


@pytest.mark.parametrize("method", ["propagation", "star"])
def test_propagation_converges_with_string_ids(spark, method):
    """Non-numeric ids exercise the hash-signature convergence fallback
    (propagation's non-integral ``_label_sig`` branch; star always
    hashes)."""
    from kafka_connect_hdfs_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], "id_a string, id_b string"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in duplicate_clusters(pairs, method=method).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


# ---------------------------------------------------------------------------
# MMR HALF_UP rounding (ADVICE r03 high)


def test_mmr_rounding_is_half_up(spark):
    """0.2386405 must round to 0.238641 (HALF_UP, like F.round/DuckDB),
    not 0.23864 (numpy round-half-even)."""
    import numpy as np

    from kafka_connect_hdfs_spark.operators import similarity as sim

    # the module-level helper is defined inside mmr_rerank; test through
    # the operator with a crafted geometry instead: one query, candidates
    # whose lam*rel lands exactly on a .5 boundary at 6 dp
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.4772810, 0.8788348]),  # cos with q approx 0.4772810
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = sim.mmr_rerank(emb, queries, k=2, pool=5, lam=0.5).collect()
    for r in out:
        # every reported score must equal its own HALF_UP 6-dp rounding
        for field in ("relevance", "mmr_score"):
            v = r[field]
            assert v == pytest.approx(
                np.sign(v) * np.floor(abs(v) * 1e6 + 0.5) / 1e6, abs=1e-12
            )


def test_mmr_rerank_non_long_ids(spark):
    """ADVICE r03: output schema must follow the id column types."""
    from kafka_connect_hdfs_spark.operators.similarity import mmr_rerank

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [0.7, 0.7])],
        "vec_id string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [("q1", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    rows = mmr_rerank(emb, queries, k=2, pool=3, id_col="vec_id").collect()
    assert {r["query_id"] for r in rows} == {"q1"}
    assert all(isinstance(r["neighbor_id"], str) for r in rows)


# ---------------------------------------------------------------------------
# k-core decomposition


def test_kcore_peels_tail_and_keeps_clique(spark):
    from kafka_connect_hdfs_spark.operators.graph import kcore_decompose

    # K4 clique (1..4) with a pendant path 4-5-6: the 3-core is exactly K4
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_decompose(pairs, k=3).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_empty_when_no_core(spark):
    from kafka_connect_hdfs_spark.operators.graph import kcore_decompose

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    assert kcore_decompose(pairs, k=3).count() == 0


def test_kcore_2core_drops_tree_branches(spark):
    from kafka_connect_hdfs_spark.operators.graph import kcore_decompose

    # cycle 1-2-3-1 with tree hanging off node 3 (3-4, 4-5): 2-core = cycle
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["core_degree"]
        for r in kcore_decompose(pairs, k=2).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}


# ---------------------------------------------------------------------------
# duplicated-span coverage


def test_span_coverage_flags_shared_span_and_unions_overlap(spark):
    from kafka_connect_hdfs_spark.operators.dedup import (
        duplicated_span_coverage,
    )

    shared = "one two three four five six seven eight nine"  # 9 tokens
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta"),
            (2, shared + " gamma delta epsilon"),
            (3, "totally different words with no overlap at all here ok"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in duplicated_span_coverage(docs, window=8, min_docs=2).collect()
    }
    # docs 1 and 2 share spans at pos 0 and 1 (9 shared tokens, window 8):
    # union covers tokens 0..8 -> 9 covered positions
    assert got[1]["n_dup_spans"] == 2
    assert got[1]["dup_token_coverage"] == pytest.approx(9 / 11, abs=1e-6)
    assert got[2]["n_dup_spans"] == 2
    assert got[2]["dup_token_coverage"] == pytest.approx(9 / 12, abs=1e-6)
    assert got[3]["n_dup_spans"] == 0
    assert got[3]["dup_token_coverage"] == 0.0


def test_span_coverage_short_and_empty_docs(spark):
    from kafka_connect_hdfs_spark.operators.dedup import (
        duplicated_span_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "short doc"), (2, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in duplicated_span_coverage(docs).collect()}
    assert got[1]["n_tokens"] == 2 and got[1]["n_dup_spans"] == 0
    assert got[2]["n_tokens"] == 0 and got[2]["dup_token_coverage"] == 0.0


def test_span_coverage_full_duplicate_is_fully_covered(spark):
    from kafka_connect_hdfs_spark.operators.dedup import (
        duplicated_span_coverage,
    )

    text = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    for r in duplicated_span_coverage(docs, window=8).collect():
        assert r["dup_token_coverage"] == pytest.approx(1.0, abs=1e-6)
        assert r["n_dup_spans"] == 13  # 20 - 8 + 1


# ---------------------------------------------------------------------------
# source_token_budget (data-constrained mixing)


def test_source_budget_caps_and_waterfills(spark):
    from kafka_connect_hdfs_spark.operators.packing import source_token_budget

    # srcA has 4 tokens (cap 16), srcB has 100 (cap 400); uniform weights
    # and budget 200: round 1 gives 100 each, A caps at 16, round 2
    # waterfills the remaining 84 onto B
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "srcA"),
            (2, " ".join(f"w{i}" for i in range(100)), "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: r
        for r in source_token_budget(docs, total_budget=200).collect()
    }
    assert got["srcA"]["alloc_tokens"] == 16
    assert got["srcA"]["epochs"] == pytest.approx(4.0)
    assert got["srcB"]["alloc_tokens"] == 184
    assert got["srcB"]["epochs"] == pytest.approx(1.84)


def test_source_budget_respects_weights_and_budget_bound(spark):
    from kafka_connect_hdfs_spark.operators.packing import source_token_budget

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(50)), "web"),
            (2, " ".join(f"b{i}" for i in range(50)), "code"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: r["alloc_tokens"]
        for r in source_token_budget(
            docs, total_budget=90, weights={"web": 2, "code": 1}
        ).collect()
    }
    assert got["web"] == 60 and got["code"] == 30


def test_source_budget_all_capped_leaves_remainder(spark):
    from kafka_connect_hdfs_spark.operators.packing import source_token_budget

    docs = spark.createDataFrame(
        [(1, "x y", "s1"), (2, "p q r", "s2")],
        "doc_id long, text string, source string",
    )
    rows = source_token_budget(docs, total_budget=10_000).collect()
    total = sum(r["alloc_tokens"] for r in rows)
    assert total == 4 * (2 + 3)  # everything caps at 4 epochs
    for r in rows:
        assert r["epochs"] == pytest.approx(4.0)


# ---------------------------------------------------------------------------
# linear text classifier (model-based filter serving)


def test_clf_scores_match_reference_math(spark):
    import math

    from kafka_connect_hdfs_spark.operators.text import linear_text_classifier

    w = {"good": 1.0, "bad": -1.0}
    docs = spark.createDataFrame(
        [(1, "good good bad"), (2, "bad bad"), (3, ""), (4, "neutral words")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["clf_score"], r["clf_keep"])
        for r in linear_text_classifier(docs, w, bias=0.0).collect()
    }

    def sig(z):
        v = 1.0 / (1.0 + math.exp(-z))
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert got[1] == (sig((1 + 1 - 1) / 3), True)
    assert got[2] == (sig(-1.0), False)
    assert got[3] == (sig(0.0), True)   # empty doc -> bias only
    assert got[4] == (sig(0.0), True)   # OOV tokens contribute 0


def test_clf_is_shuffle_free_single_projection(spark):
    from kafka_connect_hdfs_spark.operators.text import linear_text_classifier

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = (
        linear_text_classifier(docs, {"x": 1.0})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_clf_rejects_oversized_vocab(spark):
    from kafka_connect_hdfs_spark.operators.text import linear_text_classifier

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    big = {f"t{i}": 0.1 for i in range(64_001)}
    with pytest.raises(ValueError):
        linear_text_classifier(docs, big)


# ---------------------------------------------------------------------------
# kNN graph


def _emb_df(spark):
    # two tight groups far apart, ordered so the FIRST TWO ids (the IVF
    # seeds at n_seeds=2) are one representative of each group: cells then
    # split exactly along the groups. {0,2,3} near x-axis, {1,4,5} near y.
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.99, 0.14]),
        (3, [0.97, 0.24]), (4, [0.14, 0.99]), (5, [0.24, 0.97]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_knn_graph_ranks_within_cell(spark):
    from kafka_connect_hdfs_spark.operators.similarity import knn_graph

    edges = knn_graph(_emb_df(spark), k=2, n_seeds=2).collect()
    assert edges, "cells must be non-singleton"
    by_src = {}
    for r in edges:
        by_src.setdefault(r["src"], []).append(r)
    for src, es in by_src.items():
        ranks = sorted(e["rank"] for e in es)
        assert ranks == list(range(1, len(es) + 1))
        # ordered by cosine desc
        es = sorted(es, key=lambda e: e["rank"])
        assert all(
            es[i]["cosine"] >= es[i + 1]["cosine"] for i in range(len(es) - 1)
        )


def test_knn_graph_mutual_is_symmetric_subset(spark):
    from kafka_connect_hdfs_spark.operators.similarity import knn_graph

    emb = _emb_df(spark)
    all_edges = {
        (r["src"], r["dst"]) for r in knn_graph(emb, k=2, n_seeds=2).collect()
    }
    mutual = {
        (r["src"], r["dst"])
        for r in knn_graph(emb, k=2, n_seeds=2, mutual=True).collect()
    }
    assert mutual <= all_edges
    for s, d in mutual:
        assert (d, s) in mutual  # symmetric by construction


def test_knn_graph_feeds_clustering(spark):
    from kafka_connect_hdfs_spark.operators.dedup import duplicate_clusters
    from kafka_connect_hdfs_spark.operators.similarity import knn_graph

    edges = knn_graph(_emb_df(spark), k=2, n_seeds=2, mutual=True)
    labels = {
        r["node"]: r["cluster_id"]
        for r in duplicate_clusters(
            edges.select("src", "dst"), id_a="src", id_b="dst", method="star"
        ).collect()
    }
    # the two geometric groups must land in two separate clusters
    assert labels[0] == labels[2] == labels[3]
    assert labels[1] == labels[4] == labels[5]
    assert labels[0] != labels[1]


def test_knn_refine_recovers_two_hop_neighbor(spark):
    """NN-descent contract: a better neighbor reachable through an existing
    edge path replaces a worse direct edge after one refinement round."""
    from kafka_connect_hdfs_spark.operators.similarity import knn_graph_refine

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.44]),
        (2, [0.95, 0.31]),   # closer to 0 than 1 is, but no direct edge
        (3, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 1), (3, 1)], "src long, dst long"
    )
    refined = {
        (r["src"], r["dst"]): r["rank"]
        for r in knn_graph_refine(emb, base, k=1).collect()
    }
    # 0's only base edge is 1, but 0->1->2 exposes 2, and cos(0,2) > cos(0,1);
    # 2 only reaches 1 (2->1->2 is self), 3 keeps its lone edge
    assert refined == {(0, 2): 1, (1, 2): 1, (2, 1): 1, (3, 1): 1}


def test_knn_refine_union_of_codebooks_not_worse(spark):
    """The gate's shape: refining the union of two independent codebooks'
    graphs must never lower any vector's best-neighbor cosine vs a single
    codebook, and must strictly improve at least one (cross-cell recall)."""
    from kafka_connect_hdfs_spark.operators.similarity import (
        knn_graph, knn_graph_refine,
    )
    from kafka_connect_hdfs_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    single = knn_graph(emb, k=3, n_seeds=8)
    union = (
        single.select("src", "dst")
        .unionByName(
            knn_graph(emb, k=3, n_seeds=8, seed_offset=8).select("src", "dst")
        )
        .distinct()
    )
    refined = knn_graph_refine(emb, union, k=3)
    best_single = {
        r["src"]: r["cosine"] for r in single.collect() if r["rank"] == 1
    }
    best_refined = {
        r["src"]: r["cosine"] for r in refined.collect() if r["rank"] == 1
    }
    improved = 0
    for s, c in best_single.items():
        assert best_refined[s] >= c - 1e-9, s
        if best_refined[s] > c + 1e-9:
            improved += 1
    assert improved > 0


def test_knn_refine_keeps_rank_contract(spark):
    from kafka_connect_hdfs_spark.operators.similarity import (
        knn_graph, knn_graph_refine,
    )

    emb = _emb_df(spark)
    refined = knn_graph_refine(emb, knn_graph(emb, k=2, n_seeds=2), k=2)
    by_src = {}
    for r in refined.collect():
        by_src.setdefault(r["src"], []).append(r)
    for es in by_src.values():
        assert sorted(e["rank"] for e in es) == list(range(1, len(es) + 1))
        assert len(es) <= 2


# ---------------------------------------------------------------------------
# perplexity filter


def test_perplexity_filter_drops_word_salad_within_language(spark):
    from kafka_connect_hdfs_spark.operators.text import perplexity_filter

    fluent = "the cat sat on the mat and the dog sat on the rug"
    # the junk doc must use FREQUENT words in an unseen transition ("the
    # the"): a high-count context with a rare continuation scores low.
    # (All-unique gibberish would score HIGH on a tiny corpus — every
    # unique bigram has P(cur|prev)=1; the CCNet cut presumes a large LM.)
    docs = spark.createDataFrame(
        [(i, fluent, "en") for i in range(8)]
        + [(8, "the the the the the", "en")]
        + [(9, "uno dos tres uno dos", "es"), (10, "uno dos uno dos", "es")],
        "doc_id long, text string, lang string",
    )
    kept = {
        r["doc_id"]: r
        for r in perplexity_filter(docs, min_percentile=0.2).collect()
    }
    assert 8 not in kept                     # the salad doc is the en tail
    assert all(i in kept for i in range(8))  # fluent docs survive
    # the es docs are judged against the es threshold, not the en one
    assert 9 in kept or 10 in kept
    for r in kept.values():
        assert r["avg_logprob"] >= r["lp_threshold"]
