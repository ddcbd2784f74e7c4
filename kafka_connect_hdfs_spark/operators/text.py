"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (it has no expression layer — SURVEY.md §2.9);
these are the operations a 100 TB document pipeline needs, built from
JVM-side built-in functions (every expression compiles into whole-stage
codegen) with ONE deliberate exception: Unicode NFC normalization
(normalize_text), which has no Spark built-in and uses an Arrow-batched
pandas UDF — the documented "UDF only where built-ins can't express it"
escape hatch.

Operators:
  - token_stats: whitespace + BPE-ish regex token counting
  - quality_score: length / punctuation / stopword / repetition heuristics
  - lang_id: n-gram/stopword-overlap language scoring (heuristic)
  - fingerprint: normalized-text document fingerprint (md5)

All are pure ``DataFrame -> DataFrame`` with deterministic, SQL-expressible
semantics so the DuckDB oracle can verify them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_connect_hdfs_spark.functions import fan_out
from kafka_connect_hdfs_spark.operators.iterate import materialize, materialized

# Tiny per-language stopword marker sets for the heuristic lang scorer.
# (Public common stopwords; the point is the *operator shape* — per-language
# token-overlap scoring — not lexicon quality.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "no"),
}

#: BPE-ish tokenization: word pieces, numbers, or single non-space symbols —
#: a public-regex approximation of byte-pair pretokenizers.
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count, BPE-ish token count, char / word statistics."""
    df = fan_out(df)
    t = F.col(text_col)
    ws_tokens = F.split(F.trim(t), r"\s+")
    return (
        df.withColumn("n_chars_calc", F.length(t))
        .withColumn(
            "ws_tokens",
            F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(ws_tokens)),
        )
        .withColumn(
            "bpe_tokens", F.size(F.regexp_extract_all(t, F.lit(BPE_REGEX), F.lit(0)))
        )
        .withColumn(
            "avg_token_len",
            F.when(
                F.col("ws_tokens") > 0,
                (F.length(F.regexp_replace(t, r"\s+", "")) / F.col("ws_tokens")),
            ).otherwise(F.lit(0.0)),
        )
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + a composite score in [0,1].

    Features (all codegen-able column expressions):
      - alpha_ratio: alphabetic chars / total chars
      - punct_ratio: punctuation chars / total chars
      - stopword_ratio: English stopword tokens / tokens
      - uniq_ratio: distinct tokens / tokens (repetition detector)
    Composite: mean of (alpha_ratio, 1 - punct_ratio, min(1, 4*stopword_ratio),
    uniq_ratio) — deliberately simple and fully SQL-expressible.
    """
    df = fan_out(df)
    t = F.col(text_col)
    total = F.length(t).cast("double")
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?'\"()\[\]{}-]", "")).cast("double")
    tokens = F.split(F.lower(F.trim(t)), r"\s+")
    n_tok = F.size(tokens).cast("double")
    stop_arr = F.array([F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(tokens, lambda x: F.array_contains(stop_arr, x))).cast("double")
    n_uniq = F.size(F.array_distinct(tokens)).cast("double")
    out = (
        df.withColumn("alpha_ratio", F.when(total > 0, alpha / total).otherwise(0.0))
        .withColumn("punct_ratio", F.when(total > 0, punct / total).otherwise(0.0))
        .withColumn("stopword_ratio", F.when(n_tok > 0, n_stop / n_tok).otherwise(0.0))
        .withColumn("uniq_ratio", F.when(n_tok > 0, n_uniq / n_tok).otherwise(0.0))
    )
    return out.withColumn(
        "quality_score",
        F.round(
            (
                F.col("alpha_ratio")
                + (1 - F.col("punct_ratio"))
                + F.least(F.lit(1.0), 4 * F.col("stopword_ratio"))
                + F.col("uniq_ratio")
            )
            / 4,
            6,
        ),
    )


def with_lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: per-language stopword-overlap counts and argmax.

    Scale: pure column expressions — the per-language marker arrays are
    literals folded into codegen; no shuffle, no UDF.
    """
    df = fan_out(df)
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    out = df
    score_cols = []
    def _contains(arr):
        # single-arg lambda: a two-arg lambda would be read as (element, index)
        return lambda x: F.array_contains(arr, x)

    for lang, markers in LANG_MARKERS.items():
        arr = F.array([F.lit(w) for w in markers])
        col_name = f"score_{lang}"
        out = out.withColumn(col_name, F.size(F.filter(tokens, _contains(arr))))
        score_cols.append(col_name)
    # deterministic argmax: highest score, ties broken by smallest language
    # code — struct comparison is fieldwise, so min over (-score, lang) does it
    pairs = F.array(
        *[F.struct((-F.col(c)).alias("neg"), F.lit(c[-2:]).alias("l")) for c in score_cols]
    )
    best = F.array_min(pairs)
    out = out.withColumn(
        "lang_pred", F.when(best["neg"] == 0, F.lit("und")).otherwise(best["l"])
    )
    return out


def vocab_top_tokens(
    df: DataFrame, top_n: int = 100, text_col: str = "text"
) -> DataFrame:
    """Vocabulary building: token → document frequency + total count, top-N
    by document frequency (ties broken by token for determinism).

    Scale: explode → two-level aggregation, both map-side combinable; the
    top-N is a TakeOrdered (no global sort materialization). The standard
    first step of tokenizer/vocab training over a 100 TB corpus.
    """
    tokens = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " ")
    per_doc = df.select(F.explode(F.array_distinct(tokens)).alias("token"))
    all_occurrences = df.select(F.explode(tokens).alias("token"))
    doc_freq = per_doc.groupBy("token").agg(F.count("*").alias("doc_freq"))
    tot = all_occurrences.groupBy("token").agg(F.count("*").alias("total_count"))
    return (
        doc_freq.join(tot, "token")
        .orderBy(F.desc("doc_freq"), F.desc("total_count"), F.asc("token"))
        .limit(top_n)
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of case/whitespace-normalized text.

    The normalized form (lower, collapse runs of whitespace, trim) makes the
    fingerprint robust to formatting-only edits — the standard first pass of
    corpus dedup. md5 matches DuckDB's md5() byte-for-byte for the oracle.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(norm))


def with_repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-based quality signals per document (the Gopher-rules
    family): top_token_ratio (most frequent token / token count),
    distinct_token_ratio, and top_bigram_ratio. High top-*-ratio = template
    or looping text — standard pretraining-corpus filters.

    Scale: tokens/bigrams explode map-side and aggregate per (doc, gram)
    then per doc — two shuffles keyed by doc_id, payload a few counters per
    row; nothing is collected and no UDF is involved.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    toks = F.split(norm, " ")
    base = df.select("doc_id", toks.alias("t"))

    tok_counts = (
        base.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    tok_stats = tok_counts.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_token_ratio"
        ),
        (F.count("*").cast("double") / F.sum("c").cast("double")).alias(
            "distinct_token_ratio"
        ),
    )

    bigrams = F.expr(
        "transform(sequence(1, size(t) - 1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
    )
    bg_counts = (
        base.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
    )
    bg_stats = bg_counts.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "top_bigram_ratio"
        )
    )
    return tok_stats.join(bg_stats, "doc_id")


def decontaminate_against(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per training doc, the number of distinct
    word n-grams it shares with any benchmark document (0 = clean). The
    standard test-set-overlap filter of a pretraining pipeline — drop or
    down-weight rows with n_hits > 0.

    Scale: both sides explode to (doc, shingle) and meet in ONE shuffle on
    the shingle key; the benchmark side is tiny (a test set), so Spark
    broadcasts it — training text itself never moves. Contamination counts
    aggregate map-side.
    """
    from kafka_connect_hdfs_spark.operators.dedup import with_shingles

    train_sh = with_shingles(df, n=n, text_col=text_col)
    bench_sh = (
        with_shingles(benchmark, n=n, text_col=text_col)
        .select("shingle")
        .distinct()
    )
    return (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling for corpus mixing: keep a row iff
    uniform(md5(id)) < rate[stratum]. Hash-derived uniforms make the sample
    reproducible across runs, engines, and partitionings — unlike
    ``df.sample`` whose output depends on partition layout.

    Scale: a pure map-side filter — no shuffle, no state; rates live in the
    plan as a literal CASE. This is how you mix sources at 100 TB without a
    sampling pass.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 12), 16, 10)
        .cast("double")
        / F.lit(float(1 << 48))
    )
    rate = F.lit(default_rate)
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(rate)
    return df.filter(u < rate)


def winnow_fingerprints(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    the MOSS algorithm): hash every character k-gram, slide a window of w
    consecutive hashes, keep each window's minimum. Guarantees any shared
    substring of length ≥ k+w-1 yields a shared fingerprint, at ~1/w the
    storage of full k-gram sets.

    Returns one row per (doc, distinct fingerprint).

    Scale: fully map-side until the final explode — the k-gram hashes and
    window minima are array-column transforms inside one projection (no
    explode of raw k-grams, no shuffle; same pattern as the minhash
    signatures). Hashes are md5-derived 48-bit ints, so the SQL oracle
    replays the pipeline exactly.
    """
    df = fan_out(df)
    # two binding stages: the normalized string is re-used per character
    # position and the hash array per window position — left unbound,
    # each lambda body would re-run the regexp/normalization (resp. the
    # full hash build) per index (see bigram_logprob / with_shingles)
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = df.select(F.col(id_col), norm.alias("_s"))
    s = F.col("_s")
    gram_idx = F.sequence(F.lit(1), F.greatest(F.length(s) - (k - 1), F.lit(1)))
    hashes = F.transform(
        gram_idx,
        lambda i: F.conv(
            F.substring(F.md5(F.substring(s, i, k)), 1, 12), 16, 10
        ).cast("bigint"),
    )
    hashed = base.select(F.col(id_col), hashes.alias("_h"))
    h = F.col("_h")
    win_idx = F.sequence(F.lit(1), F.greatest(F.size(h) - (w - 1), F.lit(1)))
    fps = F.array_distinct(
        F.transform(win_idx, lambda j: F.array_min(F.slice(h, j, w)))
    )
    return hashed.select(F.col(id_col), F.explode(fps).alias("fingerprint"))


def tfidf_top_terms(
    df: DataFrame,
    top_n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Per-document top-N terms by smoothed TF-IDF
    (``tf × (ln((N+1)/(df+1)) + 1)``) — the classic corpus-keyword /
    relevance-weighting operator. Tokens are lowercase ``[a-z0-9]+`` runs.
    Ties rank deterministically by (score desc, term asc).

    Scale: one explode feeding two aggregations that both combine map-side —
    the (doc, term) tf table shuffles term-count partials (bounded by
    per-doc vocabulary, not token count), and the document-frequency table
    derives from tf (one extra agg over (doc, term) rows, never a second
    text pass). df-table is vocabulary-sized → broadcast back onto tf. The
    corpus size N stays INSIDE the plan as a broadcast one-row aggregate
    (count-star over the pruned id column — parquet answers it from
    footers) so the operator is one job with no eager driver action; pass
    ``n_docs`` to skip even that. The final top-N window partitions by
    doc — uniform keys, no skew.
    """
    from pyspark.sql import Window

    df = fan_out(df)
    if n_docs is None:
        n_col = F.col("_n_docs")
        n_df = F.broadcast(df.select(id_col).agg(F.count("*").alias("_n_docs")))
    else:
        n_col = F.lit(int(n_docs))
        n_df = None
    terms = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
            )
        ).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("doc_freq"))
    idf = F.log(
        (n_col.cast("double") + F.lit(1.0)) / (F.col("doc_freq") + F.lit(1.0))
    ) + F.lit(1.0)
    joined = tf.join(F.broadcast(doc_freq), "term")
    if n_df is not None:
        joined = joined.crossJoin(n_df)
    scored = joined.select(
        F.col(id_col),
        F.col("term"),
        F.col("tf"),
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "norm_text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode normalization + cleanup: control characters stripped, runs of
    whitespace squeezed to single spaces, then Unicode ``form`` (NFC/NFKC)
    normalization. The canonical first stage of multilingual corpus prep —
    without it, visually-identical strings hash to different dedup
    fingerprints.

    The regex cleanup stays JVM-side codegen; Unicode normalization has no
    Spark built-in, so it is the textbook case for an Arrow-batched pandas
    UDF (SURVEY §7.1: UDF only where built-ins genuinely can't express the
    semantics). Verified against DuckDB's native ``nfc_normalize``.

    Scale: map-side only — no shuffle, no state; Arrow transfer is the only
    cost over a builtin, and only the text column crosses it.
    """
    from pyspark.sql.functions import pandas_udf

    # pandas imported module-level: postponed annotations (PEP 563) make the
    # UDF signature a string that pandas_udf resolves via module globals
    @pandas_udf("string")
    def _unicode_norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda v: unicodedata.normalize(form, v) if v is not None else None
        )

    df = fan_out(df)
    cleaned = F.regexp_replace(
        F.regexp_replace(F.col(text_col), r"[\p{Cc}\p{Cf}]", ""), r"\s+", " "
    )
    return df.withColumn(out_col, _unicode_norm(F.trim(cleaned)))


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    total_tokens: int | None = None,
) -> DataFrame:
    """Corpus-unigram language-model scoring: every document's mean token
    log-probability under the corpus's own unigram distribution — the
    cheap "perplexity-ish" quality signal training pipelines use to rank
    documents when no external LM is available (low mean log-prob = rare
    -token soup; high = stereotyped boilerplate).

    Two passes over the token stream, both shuffle-bounded by vocabulary:
    pass 1 builds the term-count table (map-side combine makes the shuffle
    vocabulary-sized, not token-sized); pass 2 re-joins counts onto the
    (id, term) pairs — the count table is broadcast (a vocabulary is
    ~millions of rows even at 100 TB corpus scale) so the corpus side
    never re-shuffles; the per-document average then groups on the unique
    id. Pass ``total_tokens`` when known to skip the scalar pre-count.
    All math is deterministic up to float addition order; the output is
    rounded to 6 places like the other float-valued operators.
    """
    df = fan_out(df)
    terms = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("term"),
    )
    counts = terms.groupBy("term").agg(F.count("*").alias("c"))
    if total_tokens is None:
        total_tokens = counts.agg(F.sum("c")).collect()[0][0]
    logp = F.log(F.col("c") / F.lit(float(total_tokens)))
    # per-token log-probs are half-up-quantized to micro-ints BEFORE the
    # mean: avg(double) partial sums are partition-order-dependent at
    # 6-dp boundaries (r05 verdict item 2); the ≤0.5e-6/token quantization
    # is far inside any quality-ranking tolerance
    from kafka_connect_hdfs_spark.operators.similarity import (
        fp_mean_from, fp_sum_micro_q6,
    )

    return (
        terms.join(F.broadcast(counts), "term")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            fp_sum_micro_q6(logp).alias("_slp"),
        )
        .select(
            id_col,
            "n_tokens",
            fp_mean_from("_slp", "n_tokens").alias("avg_logprob"),
        )
    )


def quality_percentile_filter(
    df: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_percentile: float = 0.2,
    exact: bool = True,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-language quality-percentile gate: rank every document by its
    heuristic ``quality_score`` WITHIN its language and keep documents at or
    above ``min_percentile`` — the relative (not absolute-threshold) quality
    cut real corpus pipelines apply so low-resource languages aren't wiped
    out by an absolute bar tuned on English.

    Scale: the default ``exact=True`` form is one exchange on the language
    key, but percent_rank needs a per-language sort, so a hot language
    (English dominates real corpora) concentrates in one task. At 100 TB
    pass ``exact=False``: pass 1 computes a per-language
    ``percentile_approx`` threshold (one tiny agg — map-side sketch merge,
    languages-sized result), pass 2 broadcasts the thresholds back and
    filters map-side — no per-language sort anywhere, same kept-set to
    within sketch error (``accuracy``). The exact window form remains the
    oracle-checkable reference; equivalence is pytest-gated
    (tests/test_round2_ops.py::test_quality_percentile_approx_matches_exact).

    Output: exact → ``(id, lang, quality_score, q_pct)``;
    approx → ``(id, lang, quality_score, q_threshold)``.
    """
    scored = with_quality_score(df, text_col=text_col)
    if not exact:
        thresholds = scored.groupBy(lang_col).agg(
            F.percentile_approx(
                "quality_score", F.lit(min_percentile), F.lit(accuracy)
            ).alias("q_threshold")
        )
        return (
            scored.join(F.broadcast(thresholds), lang_col)
            .filter(F.col("quality_score") >= F.col("q_threshold"))
            .select(id_col, lang_col, "quality_score", "q_threshold")
        )
    from pyspark.sql import Window

    w = Window.partitionBy(lang_col).orderBy("quality_score")
    return (
        scored.withColumn("q_pct", F.round(F.percent_rank().over(w), 6))
        .filter(F.col("q_pct") >= min_percentile)
        .select(id_col, lang_col, "quality_score", "q_pct")
    )


def unk_replace(
    df: DataFrame,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_literal_max: int = 65536,
) -> DataFrame:
    """Vocabulary pruning: replace every token whose CORPUS frequency is
    below ``min_count`` with ``<unk>`` and rebuild the document — the
    closed-vocabulary preprocessing step of classic LM training (and the
    shape of any "rare value → other" recode at corpus scale).

    Returns ``(id, n_tokens, n_unk, pruned_text)``.

    Scale — two strategies, auto-selected on kept-vocab size:

    * ``|vocab| <= vocab_literal_max``: the kept vocabulary is compiled
      into the plan as ONE parsed ``array(...)`` literal (a single
      ``F.expr`` — thousands of per-term ``F.lit`` py4j calls would
      dominate plan construction) and pass 2 is a map-side array
      transform — the corpus never shuffles at all and the rebuild is
      position-preserving by construction.
    * larger vocabs: a literal would blow up the plan and probe O(|vocab|)
      per token, so switch to posexplode → broadcast-join against the
      kept-vocab DataFrame → position-preserving reassembly
      (chunk-reassembly machinery): the only shuffle carries pruned
      ``(id, pos, token)`` triples — document text never shuffles — and
      the vocab side stays a broadcast hash join
      (tests/test_plan_quality.py guards both shapes).
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    counts = (
        df.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    kept_df = counts.filter(F.col("c") >= min_count).select("term")
    n_kept = kept_df.count()
    unk = F.lit("<unk>")

    if n_kept <= vocab_literal_max:
        kept = sorted(r["term"] for r in kept_df.collect())
        if not kept:  # array() of zero elements has void type — guard
            replaced = F.transform(toks, lambda x: unk)
        else:
            quoted = ",".join(
                "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"
                for t in kept
            )
            kept_arr = F.expr(f"array({quoted})")
            replaced = F.transform(
                toks, lambda x: F.when(F.array_contains(kept_arr, x), x).otherwise(unk)
            )
        return df.select(
            F.col(id_col),
            F.size(toks).alias("n_tokens"),
            F.size(F.filter(replaced, lambda x: x == unk)).alias("n_unk"),
            F.array_join(replaced, " ").alias("pruned_text"),
        )

    # join path: explode to (id, pos, token), mark membership via broadcast
    # left join, reassemble in token order — text payload never shuffles
    pos = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    marked = pos.join(
        F.broadcast(kept_df), pos["tok"] == kept_df["term"], "left"
    ).select(
        F.col(id_col),
        "pos",
        F.when(F.col("term").isNotNull(), F.col("tok")).otherwise(unk).alias("tok"),
    )
    rebuilt = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
    )
    return marked.groupBy(id_col).agg(
        F.size(rebuilt).alias("n_tokens"),
        F.size(F.filter(rebuilt, lambda x: x == unk)).alias("n_unk"),
        F.array_join(rebuilt, " ").alias("pruned_text"),
    )


def remove_hot_ngrams(
    df: DataFrame,
    n: int = 3,
    hot_threshold: int = 50,
    top_k_hot: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Repeated-span removal (the n-gram flavor of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL 2022):
    token spans of length ``n`` occurring ≥ ``hot_threshold`` times
    corpus-wide — boilerplate, navigation chrome, license headers — are cut
    from every document; a token is dropped iff some hot n-gram occurrence
    covers its position.

    Returns ``(id, n_tokens, n_removed, cleaned_fp)`` where ``cleaned_fp``
    is the md5 of the cleaned text (the full rebuild is ``array_join`` of
    the kept tokens — fingerprinted here so the oracle compares cheaply).

    Scale: the count pass shuffles distinct grams only (map-side combined);
    the hot set is capped at ``top_k_hot`` grams (count desc, gram — the
    same deterministic stop-shingle discipline as ngram_jaccard) and
    compiled into the plan as ONE parsed literal, so the removal pass is a
    pure map-side transform — the corpus never shuffles. Per-token cost is
    O(n · |hot|); raise the threshold / lower the cap rather than letting
    |hot| grow unbounded.
    """
    # Both passes are CPU-heavy map-side expansions over the raw corpus —
    # spread an under-partitioned scan first (no-op on a wide one)
    df = fan_out(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hot_rows = (
        df.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= hot_threshold)
        .orderBy(F.desc("c"), F.asc("gram"))
        .limit(top_k_hot)
        .collect()
    )
    hot = sorted(r["gram"] for r in hot_rows)

    if not hot:
        L = F.size(toks)
        return df.select(
            F.col(id_col),
            L.alias("n_tokens"),
            (L - F.size(toks)).alias("n_removed"),
            F.md5(F.array_join(toks, " ")).alias("cleaned_fp"),
        )
    quoted = ",".join(
        "'" + g.replace("\\", "\\\\").replace("'", "\\'") + "'" for g in hot
    )
    hot_arr = F.expr(f"array({quoted})")
    # BIND the token array and the per-position hot-start flags to real
    # columns before the removal filter: an expression referenced inside
    # a higher-order-function lambda is re-evaluated PER ELEMENT (no CSE
    # into the lambda body), so the unbound form recomputed the
    # O(grams·|hot|) hot_start scan once per token position —
    # O(tokens·grams·|hot|) string compares per document (measured: the
    # removal pass did not finish in 480 s at sf0.1 under the noop sink;
    # count()-shaped actions prune cleaned_fp and never paid it). Bound,
    # hot_start evaluates once per row.
    bound = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        # hot_start[j+1] = gram starting at 0-based token j is hot
        F.transform(
            grams, lambda g: F.array_contains(hot_arr, g)
        ).alias("_hot_start"),
    )
    t = F.col("_toks")
    hs = F.col("_hot_start")
    L = F.size(t)
    # pos is covered iff a hot gram starts in [pos-n+1, pos] ∩ [0, L-n]
    covered = lambda pos: F.exists(  # noqa: E731
        F.sequence(
            F.greatest(F.lit(0), pos - F.lit(n - 1)),
            F.least(pos, L - F.lit(n)),
        ),
        lambda j: F.element_at(hs, j + 1),
    )
    kept = F.when(
        L >= n,
        F.filter(t, lambda x, pos: ~covered(pos)),
    ).otherwise(t)
    return bound.select(
        F.col(id_col),
        L.alias("n_tokens"),
        (L - F.size(kept)).alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("cleaned_fp"),
    )


def ngram_counts(
    df: DataFrame,
    n: int = 2,
    top_k: int = 100,
    text_col: str = "text",
) -> DataFrame:
    """Corpus n-gram count table (top-``top_k`` by frequency, ties by
    gram) — the artifact behind statistical LM tables, collocation mining,
    and the n-gram novelty filters of corpus QA.

    Scale: grams are built map-side by zipping the token array with its
    shifted self (no per-token explode until the gram level), the count
    aggregates with map-side combine (shuffle bounded by distinct grams,
    not corpus tokens), and top-k is TakeOrdered — no global sort.
    """
    df = fan_out(df)
    # bound token array: an unbound split inside the slice lambda re-runs
    # the regex per position (see bigram_logprob / with_shingles)
    base = df.select(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_t")
    )
    toks = F.col("_t")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            # guard matters: Spark's sequence(1, stop) runs DESCENDING when
            # stop < 1, which would fabricate grams on short documents
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        base.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("gram"))
        .limit(top_k)
    )


def bpe_pair_counts(
    df: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Adjacent symbol-pair counts inside whitespace words — the counting
    kernel of BPE tokenizer training (Sennrich et al. 2016): iteration one
    starts from characters, and the highest-count pair becomes the first
    merge. Counting every word occurrence is exactly the frequency-weighted
    word-type count the algorithm calls for. Returns the top-``top_k``
    (pair, n_occurrences) by count desc, pair asc.

    Later iterations re-run this kernel over the re-segmented corpus (a
    driver loop, one merge applied per round via the same expressions); the
    per-round cost is this single pass.

    Scale: pairs are built map-side (transform over an index range → one
    explode), the count aggregates with map-side combine — shuffle is
    bounded by the distinct-pair universe (≤ |alphabet|², tiny), not corpus
    tokens — and top-k is TakeOrdered, no global sort.
    """
    df = fan_out(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    w = F.explode(toks).alias("w")
    words = df.select(w).filter(F.length("w") >= 2)
    # sequence guard not needed post-filter: length>=2 → stop >= 1
    pairs = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        )
    ).alias("pair")
    return (
        words.select(pairs)
        .groupBy("pair")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(top_k)
    )


def strip_markup(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """Markup removal — the web-corpus boilerplate pass (C4/RefinedWeb-style
    extraction stage): drop HTML/XML tags, decode the five predefined XML
    character entities, squeeze the resulting whitespace, trim. Script and
    style ELEMENT CONTENT is removed too (tags plus what's between them) —
    it is code, not prose.

    Every step is a JVM-side ``regexp_replace``/``replace`` chain (pattern
    subset valid in both Java regex and RE2, like ``PII_PATTERNS``): pure
    map-side whole-stage codegen, no UDF, no shuffle — at 100 TB this runs
    at scan speed as the first projection after the raw read.
    """
    t = F.col(text_col)
    # script/style elements: tag pair AND contents ((?s) so '.' spans
    # lines). Two patterns, no backreference — RE2 (the DuckDB oracle
    # engine) has none, and cross-nested script/style is invalid HTML.
    t = F.regexp_replace(t, r"(?s)<script\b[^>]*>.*?</script\s*>", " ")
    t = F.regexp_replace(t, r"(?s)<style\b[^>]*>.*?</style\s*>", " ")
    # comments, then any remaining tag
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]*>", " ")
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&apos;", "'"), ("&amp;", "&"),
    ):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return df.withColumn(out_col, t)


def embed_text(
    df: DataFrame,
    dim: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "embedding",
) -> DataFrame:
    """Deterministic hash-projection text embedding — the random-projection
    / feature-hashing baseline (public technique; also the honest stand-in
    for a neural encoder in this container, like the multimodal stub
    codecs): token t hashes once to a 48-bit integer, component j mixes it
    with universal-hash constants (the minhash construction), and the
    document vector is the token mean per component. Similar token bags →
    nearby vectors, so the output drives every embedding operator here
    (semantic dedup, ANN, clustering) end-to-end from raw text.

    Determinism for verification: component ``j`` reads the token's md5
    hex chars ``[3j, 3j+3)`` as a 12-bit INTEGER; the per-document sums
    are exact integer folds (order-free, no float accumulation), then one
    division + round — bit-identical in any replaying engine
    (``('0x' || substr(md5(t), 1+3j, 3))::BIGINT`` in DuckDB). dim ≤ 10
    (a 128-bit digest holds ten 12-bit slices). Scale: pure map-side
    (one md5 per token), no shuffle, no UDF.
    """
    if not 1 <= dim <= 10:
        raise ValueError(f"dim must be in [1, 10], got {dim}")
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    # BIND the digest array to a real column: each of the ``dim``
    # aggregates below takes it as input, and an expression repeated
    # across aggregates in one projection re-runs per aggregate — the
    # unbound form computed md5 per token ``dim`` times (the
    # remove_hot_ngrams lambda lesson). fan_out spreads the md5-heavy
    # map over an under-partitioned scan (no-op on a wide one).
    base = fan_out(df.filter(F.length(F.trim(t)) > 0)).select(
        F.col(id_col), F.transform(toks, F.md5).alias("_dg")
    )
    digests = F.col("_dg")
    n = F.size(digests)

    def _fold(j: int):
        # closure factory: pyspark reads the lambda's arity, so the slice
        # offset must bind via closure, not a default arg
        return lambda acc, d: acc + F.conv(
            F.substring(d, 1 + 3 * j, 3), 16, 10
        ).cast("bigint")

    comps = []
    for j in range(dim):
        csum = F.aggregate(digests, F.lit(0).cast("bigint"), _fold(j))
        comps.append(
            F.round((csum.cast("double") / n) / F.lit(2048.0) - 1.0, 6)
        )
    return base.select(
        F.col(id_col), F.array(*comps).alias(out_col)
    )


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Spärck Jones probabilistic
    ranking, the universal lexical baseline): top-k documents for a bag of
    query terms, scored ``Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))``
    with the standard smoothed idf ``ln(1 + (N-df+0.5)/(df+0.5))``.
    Deterministic ties by doc id. The lexical half of a hybrid
    (BM25 + ANN) retrieval stack — the embedding half lives in
    :mod:`.similarity`.

    Scale: term frequencies only for the QUERY terms (the filter binds
    before the tf aggregation, so the exploded token stream prunes to
    query-term hits immediately); df/N/avgdl are a handful of broadcast
    scalars; final top-k is a TakeOrdered, never a global sort. Query
    terms are a literal array — per-query planning cost only.
    """
    terms = sorted({t.lower() for t in query_terms})
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    base = df.filter(F.length(F.trim(t)) > 0).select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("dl")
    )
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    term_arr = F.array(*[F.lit(x) for x in terms])
    tf = base.select(
        F.col(id_col),
        "dl",
        F.explode(
            F.filter(F.col("_toks"), lambda x: F.array_contains(term_arr, x))
        ).alias("term"),
    ).groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df_"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_") + F.lit(0.5)) / (F.col("df_") + F.lit(0.5))
    )
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s",
            idf
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (1 - b + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.round(F.sum("_s"), 6).alias("bm25"),
            F.count("*").alias("n_matched_terms"),
        )
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def hybrid_search(
    df: DataFrame,
    query_text: str,
    k: int = 10,
    pool: int = 50,
    rrf_k: int = 60,
    dim: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hybrid retrieval: BM25 over the query's terms AND embedding-cosine
    over its hash-projection vector, fused with Reciprocal Rank Fusion
    (``Σ 1/(rrf_k + rank)``, Cormack et al. SIGIR'09) — the standard
    two-tower + lexical production stack, here fully deterministic and
    SQL-replayable. Each retriever contributes its top-``pool``; a doc
    absent from one list simply lacks that term. Ties by doc id.

    Determinism: both ranks are integers, the fused score is a sum of two
    exact rationals in double (order-free at two terms), rounded 6 dp
    before the final TakeOrdered — any replaying engine orders
    identically. Scale: BM25 as in :func:`bm25_search`; the semantic arm
    scores map-side against ONE literal query vector (no join) and
    TakeOrdereds its pool; fusion joins two pool-sized rank tables.
    """
    from pyspark.sql import Window

    from kafka_connect_hdfs_spark.operators.similarity import cosine_similarity

    lex = bm25_search(
        df, query_text.split(), k=pool, text_col=text_col, id_col=id_col
    )
    w_any = Window.orderBy(F.desc("bm25"), F.asc(id_col))
    lex_rank = lex.select(
        F.col(id_col), F.row_number().over(w_any).alias("rank_lex")
    )

    spark = df.sparkSession
    q_rows = embed_text(
        spark.createDataFrame([(0, query_text)], f"{id_col} long, {text_col} string"),
        dim=dim, text_col=text_col, id_col=id_col,
    ).collect()
    if not q_rows:
        # embed_text drops whitespace-only text; an empty query retrieves
        # nothing rather than crashing (bm25_search already behaves so)
        return spark.createDataFrame(
            [],
            f"{id_col} long, rank_lex int, rank_sem int, rrf_score double",
        )
    q_row = q_rows[0]
    qv = F.array(*[F.lit(float(x)) for x in q_row["embedding"]])
    emb = embed_text(df, dim=dim, text_col=text_col, id_col=id_col)
    sem = (
        emb.withColumn(
            "cosine",
            F.round(cosine_similarity(F.col("embedding"), qv), 6),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(pool)
    )
    w_sem = Window.orderBy(F.desc("cosine"), F.asc(id_col))
    sem_rank = sem.select(
        F.col(id_col), F.row_number().over(w_sem).alias("rank_sem")
    )

    fused = lex_rank.join(sem_rank, id_col, "full").select(
        F.col(id_col),
        "rank_lex",
        "rank_sem",
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(rrf_k) + F.col("rank_sem")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def vocab_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    top_k: int = 20,
    smoothing: float = 1.0,
    text_col: str = "text",
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    dataset-shift monitor a continuously-ingesting pipeline runs before a
    new crawl joins the training mix. Per term over the UNION vocabulary
    (add-``smoothing`` Laplace counts so a term absent from one side stays
    finite): both probabilities and the term's signed KL contribution
    ``p·ln(p/q)``; returns the ``top_k`` largest |contribution| terms
    (ties by term asc) — the "what changed" list, whose sum approximates
    KL(A‖B).

    Scale: two token-count aggregations (shuffle bounded by vocab size)
    full-outer-joined on term; totals are one-row broadcast scalars; the
    top-k is a TakeOrdered. Contributions are doubles rounded 6 dp —
    counts are exact integers, so any replaying engine agrees.
    """
    def counts(d: DataFrame, name: str) -> DataFrame:
        toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        return (
            d.filter(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.explode(toks).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias(name))
        )

    ca, cb = counts(df_a, "n_a"), counts(df_b, "n_b")
    joined = ca.join(cb, "term", "full").select(
        "term",
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
    )
    vocab_totals = F.broadcast(
        joined.agg(
            F.sum("n_a").alias("tot_a"),
            F.sum("n_b").alias("tot_b"),
            F.count("*").alias("v"),
        )
    )
    s = F.lit(float(smoothing))
    p = (F.col("n_a") + s) / (F.col("tot_a") + s * F.col("v"))
    q = (F.col("n_b") + s) / (F.col("tot_b") + s * F.col("v"))
    return (
        joined.crossJoin(vocab_totals)
        .select(
            "term",
            "n_a",
            "n_b",
            F.round(p, 6).alias("p_a"),
            F.round(q, 6).alias("p_b"),
            F.round(p * F.log(p / q), 6).alias("kl_contrib"),
        )
        .orderBy(F.desc(F.abs(F.col("kl_contrib"))), F.asc("term"))
        .limit(top_k)
    )


def bpe_learn(
    df: DataFrame,
    n_merges: int = 20,
    max_word_types: int = 100_000,
    text_col: str = "text",
) -> "list[tuple[str, str, int]]":
    """Full BPE merge-table training (Sennrich et al. 2016), split the way
    production tokenizer trainers split it: the CORPUS-sized pass is one
    distributed word-type count (shuffle bounded by vocabulary, top
    ``max_word_types`` types by frequency kept — the same cap HuggingFace
    trainers apply); the merge loop then runs locally over that
    vocab-sized table, because each merge touches word TYPES, not corpus
    tokens. Returns the merge table ``[(left, right, pair_count), ...]``
    in merge order.

    Pair statistics count every adjacent symbol position weighted by word
    frequency (identical semantics to :func:`bpe_pair_counts` on round
    one); merges apply left-to-right non-overlapping. Ties break on
    (count desc, pair asc) so the table is deterministic.

    Scale: the collect is ``max_word_types`` rows — bounded by contract,
    like codebooks and quantile sketches; the 100 TB of text is touched
    exactly once.
    """
    rows = (
        df.select(
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(max_word_types)
        .collect()
    )
    words: dict[tuple[str, ...], int] = {
        tuple(r["w"]): int(r["n"]) for r in rows
    }
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        stats: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + c
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        if cnt < 2:
            break
        merges.append((left, right, cnt))
        merged = left + right
        new_words: dict[tuple[str, ...], int] = {}
        for syms, c in words.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_words[key] = new_words.get(key, 0) + c
        words = new_words
    return merges


#: symbol-boundary sentinel for the expression-chain BPE encoder — U+0001
#: never occurs in normal text and is regex-safe as a literal
_BPE_SEP = "\x01"


def bpe_encode(
    df: DataFrame,
    merges: "list[tuple]",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    max_expr_merges: int = 500,
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus — the SERVING half of
    the tokenizer path (:func:`bpe_learn` trains the table once, offline;
    this operator tokenizes the 100 TB). Sennrich et al. 2016 semantics:
    merges apply in table order, each one greedily left-to-right
    non-overlapping within whitespace words, never across words. Adds
    ``out_col`` (array<string> of BPE symbols in document order) and
    ``n_bpe_tokens`` — the count real packing / token-budget planning
    should use instead of whitespace token counts.

    Scale: the whole encode is a scalar string-expression chain — wrap
    every non-space char of the normalized text as ``␁c␁`` with ONE
    ``regexp_replace``, then each merge ``(l, r)`` is ONE literal
    ``replace('␁l␁␁r␁' → '␁lr␁')`` (Java's literal replace scans
    left-to-right non-overlapping, which IS the BPE apply step; the
    double-sentinel boundary makes a match possible only on whole
    adjacent symbols, and the un-wrapped space makes cross-word merges
    unmatchable). Zero shuffle, zero UDF, whole-stage codegen — runs at
    scan speed in the first projection, and DuckDB replays the identical
    replace chain for the oracle. Above ``max_expr_merges`` (codegen
    expression-depth guard) the same semantics run as an Arrow-batched
    ``mapInPandas`` with rank-dict lookup — production-size (32k-merge)
    tables take that path.

    Reference parity: the reference formats records byte-for-byte via
    format writers (AvroRecordWriterProvider etc.,
    src/main/java/io/confluent/connect/hdfs/avro/AvroRecordWriterProvider.java:1);
    tokenization-for-packing is the LLM-pipeline analogue of that
    serialization stage.
    """
    pairs = [(m[0], m[1]) for m in merges]
    S = _BPE_SEP
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    # the sentinel must not pre-exist in the data
    norm = F.replace(norm, F.lit(S), F.lit(""))

    if len(pairs) <= max_expr_merges:
        s = F.regexp_replace(norm, "([^ ])", S + "$1" + S)
        for left, right in pairs:
            s = F.replace(
                s,
                F.lit(S + left + S + S + right + S),
                F.lit(S + left + right + S),
            )
        # word boundary (␁ ␁) becomes a plain symbol boundary (␁␁) only
        # AFTER all merges — no merge can have crossed it
        s = F.replace(s, F.lit(S + " " + S), F.lit(S + S))
        toks = F.split(F.btrim(s, F.lit(S)), S + S)
        toks = F.filter(toks, lambda c: c != "")
        out = df.withColumn(out_col, toks)
    else:
        merged_sym = {p: p[0] + p[1] for p in pairs}

        def _encode_word(word: str, cache: dict) -> "list[str]":
            hit = cache.get(word)
            if hit is not None:
                return hit
            syms = list(word)
            for p, m in zip(pairs, (merged_sym[p] for p in pairs)):
                if len(syms) < 2:
                    break
                out_s: list[str] = []
                i = 0
                n = len(syms)
                while i < n:
                    if (
                        i + 1 < n
                        and syms[i] == p[0]
                        and syms[i + 1] == p[1]
                    ):
                        out_s.append(m)
                        i += 2
                    else:
                        out_s.append(syms[i])
                        i += 1
                syms = out_s
            cache[word] = syms
            return syms

        import re as _re

        def _batches(it):
            cache: dict = {}
            for pdf in it:
                texts = pdf[text_col].fillna("")
                toks_col = []
                for t in texts:
                    t = _re.sub(r"\s+", " ", str(t).lower()).strip()
                    t = t.replace(S, "")
                    toks: list[str] = []
                    for w in t.split(" "):
                        if w:
                            toks.extend(_encode_word(w, cache))
                    toks_col.append(toks)
                pdf = pdf.copy()
                pdf[out_col] = toks_col
                yield pdf

        fields = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        out = df.mapInPandas(
            _batches, schema=f"{fields}, {out_col} array<string>"
        )
    return out.withColumn(
        "n_bpe_tokens", F.size(F.col(out_col)).cast("bigint")
    )

def gopher_rules(
    df: DataFrame,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_word_len: float = 3.0,
    max_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021, table A1
    subset): token-count bounds, mean-word-length window, symbol-to-word
    ratio (``#`` and ``...``), and fraction-of-words-with-an-alphabetic-
    character — the standard rule gate a pretraining corpus passes before
    model-based filters. Emits every signal plus ``keep`` and the FIRST
    failing ``drop_reason`` (rule order fixed), so corpus triage can
    histogram drop causes.

    The repetition rules of the same paper live in
    :func:`with_repetition_signals` (they need per-(doc, gram) counts —
    two doc-keyed shuffles); this gate is deliberately the single-pass
    subset: pure column expressions, zero shuffle, zero UDF — it runs at
    scan speed in the first projection (plan-guarded).
    """
    df = fan_out(df)
    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    n_tok = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(toks))
    sum_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    mean_wl = F.when(n_tok > 0, sum_len / n_tok).otherwise(F.lit(0.0))
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / 3
    symbol_ratio = F.when(
        n_tok > 0, (n_hash + n_ellipsis) / n_tok
    ).otherwise(F.lit(0.0))
    n_alpha_words = F.size(
        F.filter(toks, lambda x: x.rlike("[a-z]"))
    )
    alpha_word_ratio = F.when(
        n_tok > 0, n_alpha_words / n_tok
    ).otherwise(F.lit(0.0))

    out = df.select(
        "*",
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_word_ratio, 6).alias("alpha_word_ratio"),
    )
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_few_tokens"))
        .when(F.col("n_tokens") > max_tokens, F.lit("too_many_tokens"))
        .when(F.col("mean_word_len") < min_word_len, F.lit("short_words"))
        .when(F.col("mean_word_len") > max_word_len, F.lit("long_words"))
        .when(
            F.col("symbol_ratio") > max_symbol_ratio, F.lit("symbol_heavy")
        )
        .when(
            F.col("alpha_word_ratio") < min_alpha_word_ratio,
            F.lit("non_alpha_words"),
        )
    )
    return out.select(
        "*", reason.alias("drop_reason"), reason.isNull().alias("keep")
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's DISTINCT
    word n-grams that appear nowhere else in the corpus →
    ``(doc_id, n_grams, n_novel, novelty)``. Low novelty marks template /
    boilerplate / heavily-mirrored documents; high novelty is the
    memorization-risk signal (a document whose content the corpus sees
    only once is the one a model can only have memorized verbatim).

    Scale: one gram-keyed aggregation for the document-frequency table
    (shuffle bounded by the gram universe) joined back onto the exploded
    (doc, gram) pairs — the same inverted-index shape as TF-IDF. The join
    is gram-keyed (not broadcast: the gram universe outgrows memory at
    100 TB); at extreme scale swap the df side for a counting-Bloom /
    count-min approximation and accept one-sided error.
    """
    from kafka_connect_hdfs_spark.operators.dedup import with_shingles

    grams = with_shingles(df, n, id_col=id_col, text_col=text_col)
    gram_df = grams.groupBy("shingle").agg(F.count("*").alias("_df"))
    return (
        grams.join(gram_df, "shingle")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_grams"), 6)
        )
    )


def bm25_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Batch BM25: ONE corpus pass serves EVERY query — the production
    retrieval shape (eval sets, mined-query sweeps, RAG batch jobs) where
    per-query replanning of :func:`bm25_search` would rescan the corpus
    |queries| times. Same scoring formula, same smoothed idf, same
    tie-break; returns (query_id, doc, bm25, n_matched_terms, rank).

    Scale: the corpus token stream explodes once and immediately
    broadcast-semi-joins against the UNION of all query terms (queries are
    a DataFrame, so the term set can't be a plan literal like the
    single-query path — the broadcast hash filter is the batch
    equivalent); tf/df/avgdl are computed once and shared by every query;
    per-query scores come from one broadcast join with the (query, term)
    table; top-k is a per-query window over scored docs only.
    """
    qt = F.col(query_text_col)
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(qt)), r"\s+"))
        ).alias("term"),
    ).filter(F.length("term") > 0)
    union_terms = qterms.select("term").distinct()

    t = F.col(text_col)
    toks = F.split(F.lower(F.trim(t)), r"\s+")
    base = df.filter(F.length(F.trim(t)) > 0).select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("dl")
    )
    stats = base.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        base.select(F.col(id_col), "dl", F.explode("_toks").alias("term"))
        .join(F.broadcast(union_terms), "term", "semi")
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(F.count("*").alias("df_"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_") + F.lit(0.5)) / (F.col("df_") + F.lit(0.5))
    )
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "_s",
            idf
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + F.lit(k1)
                * (1 - b + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .join(F.broadcast(qterms), "term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(F.sum("_s"), 6).alias("bm25"),
            F.count("*").alias("n_matched_terms"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "bm25", "n_matched_terms", "rank")
    )


def kwic_snippets(
    df: DataFrame,
    term: str,
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword-in-context concordance: for every occurrence of ``term``
    (case-folded whitespace token) the surrounding ±``window`` tokens →
    ``(id, position, snippet)`` — retrieval highlighting, qualitative
    corpus audits ("show me how this token is used"), and the span
    extractor behind context-window labeling.

    Scale: pure map-side — occurrence positions come from one
    filter-over-index-sequence per row, snippets are slices of the token
    array; rows grow only by occurrences of the term. No shuffle, no UDF.
    """
    t = F.col(text_col)
    # bound token array: the position-filter lambda would re-split per
    # index otherwise (see bigram_logprob / with_shingles)
    base = df.filter(F.length(F.trim(t)) > 0).select(
        F.col(id_col),
        F.split(F.lower(F.trim(t)), r"\s+").alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    positions = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: F.element_at(toks, i) == F.lit(term.lower()),
    )
    lo = F.greatest(F.lit(1), F.col("position") - window)
    hi = F.least(F.col("_n"), F.col("position") + window)
    return (
        base.select(
            F.col(id_col),
            toks,
            n.alias("_n"),
            F.explode(positions).alias("position"),
        )
        .select(
            F.col(id_col),
            F.col("position").cast("bigint").alias("position"),
            F.array_join(
                F.slice(F.col("_toks"), lo, hi - lo + 1), " "
            ).alias("snippet"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    lam: float = 0.7,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Interpolated-bigram language-model scoring (the CCNet-style
    corpus-LM quality filter, one order up from :func:`unigram_logprob`):
    each document's mean ``ln(lam·P(wᵢ|wᵢ₋₁) + (1−lam)·P(wᵢ))`` under the
    corpus's own counts — bigram context catches word-salad that unigram
    frequencies score as normal, and the unigram interpolation keeps
    unseen bigrams finite. Returns (id, n_bigrams, avg_logprob); docs
    with < 2 tokens are absent (no bigram positions).

    Scale: token/bigram count tables are vocabulary-/bigram-vocabulary-
    bounded aggregations with map-side combine; scoring re-joins counts
    onto the per-position pairs — unigram and context-count tables come
    back by broadcast, the bigram table by a gram-keyed join (bigram
    vocabulary outgrows broadcast at 100 TB; it shuffles the pruned
    (id, gram) pairs once). Probabilities are ratios of exact integer
    counts — engine-reproducible; the mean rounds to 6.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # bind the token array to a column BEFORE the per-position lambda:
    # expressions inside transform/element_at lambdas are NOT common-
    # subexpression-eliminated, so an unbound `toks` would re-run the
    # regex split per position per row (measured 6.6 s → 0.9 s at sf0.1)
    base = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), toks.alias("_t")
    )
    t = F.col("_t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = base.select(
        F.col(id_col), F.explode(bigrams).alias("bg")
    ).select(
        F.col(id_col), F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
    )
    all_toks = base.select(F.explode(t).alias("term")).filter(
        F.length("term") > 0
    )
    uni = all_toks.groupBy("term").agg(F.count("*").alias("c_uni"))
    total = uni.agg(F.sum("c_uni").alias("_t"))
    # context counts C(prev •): occurrences of prev followed by anything —
    # exactly the bigram-position count per prev token
    ctx = pairs.groupBy("prev").agg(F.count("*").alias("c_ctx"))
    big = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c_big"))
    scored = (
        pairs.join(big, ["prev", "cur"])
        .join(F.broadcast(ctx), "prev")
        .join(
            F.broadcast(uni.select(F.col("term").alias("cur"), "c_uni")),
            "cur",
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_lp",
            F.log(
                F.lit(lam) * (F.col("c_big") / F.col("c_ctx"))
                + F.lit(1.0 - lam) * (F.col("c_uni") / F.col("_t"))
            ),
        )
    )
    # fixed-point mean of per-bigram log-probs (see unigram_logprob note:
    # avg(double) is partition-order-dependent — r05 verdict item 2)
    from kafka_connect_hdfs_spark.operators.similarity import (
        fp_mean_from, fp_sum_micro_q6,
    )

    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            fp_sum_micro_q6(F.col("_lp")).alias("_slp"),
        )
        .select(
            id_col,
            "n_bigrams",
            fp_mean_from("_slp", "n_bigrams").alias("avg_logprob"),
        )
    )


def linear_text_classifier(
    df: DataFrame,
    weights: "dict[str, float]",
    bias: float = 0.0,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Apply a linear bag-of-words text classifier — the serving shape of
    fastText-style model-based quality filters (Joulin et al. 2016; the
    filter stage of GPT-3/LLaMA-style pipelines where a trained linear
    model scores every document): ``score = sigmoid(bias + Σ w[tok]·tf)``
    with term frequencies optionally length-normalized (tf/n_tokens, the
    fastText mean-of-embeddings convention). Adds ``clf_score`` (6 dp) and
    ``clf_keep`` per document.

    The model is TRAINED offline (tiny, |vocab| weights); this operator is
    the corpus-scale apply. Weights enter the plan as ONE parsed map
    literal (single sqlParser round trip — the codebook pattern), and the
    whole score is a map-side aggregate fold over the token array: no
    explode, no join, no shuffle, no UDF — scan-speed scoring at 100 TB.
    For vocabularies too big for a plan literal (>~64k terms), explode +
    broadcast-join the weight table instead (the unk_replace join-path
    shape); this operator implements the literal path and raises above
    ``64_000`` terms to keep the plan bounded.
    """
    import math

    if len(weights) > 64_000:
        raise ValueError(
            "linear_text_classifier literal path caps at 64k terms; "
            "use an explode + broadcast-join variant beyond that"
        )
    df = fan_out(df)
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if weights:
        def _q(s: str) -> str:
            return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

        entries = ", ".join(
            f"{_q(term)}, {float(w)!r}D" for term, w in sorted(weights.items())
        )
        wmap = F.expr(f"map({entries})")
        raw = F.aggregate(
            toks,
            F.lit(0.0),
            lambda acc, x: acc + F.coalesce(wmap[x], F.lit(0.0)),
        )
    else:
        raw = F.lit(0.0)
    n_tok = F.size(toks).cast("double")
    dot = (
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0.0))
        .otherwise(raw / F.when(n_tok > 0, n_tok).otherwise(F.lit(1.0)))
        if normalize
        else F.when(
            F.length(F.trim(F.col(text_col))) == 0, F.lit(0.0)
        ).otherwise(raw)
    )
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(float(bias)) + dot))), 6
    )
    return df.select(
        F.col(id_col),
        score.alias("clf_score"),
        (score >= F.lit(threshold)).alias("clf_keep"),
    )


def perplexity_filter(
    df: DataFrame,
    min_percentile: float = 0.2,
    lam: float = 0.7,
    accuracy: int = 10000,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """The CCNet corpus-LM quality cut (Wenzek et al. 2020): score every
    document with the interpolated-bigram LM (:func:`bigram_logprob`) and
    keep, WITHIN each language, documents at or above the
    ``min_percentile`` log-prob threshold — dropping the worst-perplexity
    tail per language instead of with one absolute bar (which would wipe
    out whatever the LM models worst).

    Returns ``(id, lang, avg_logprob, lp_threshold)`` for kept documents.

    Scale: scoring is the bigram_logprob pipeline (vocab-bounded count
    tables, one pruned gram-keyed shuffle); the per-language threshold is
    a ``percentile_approx`` sketch (tiny agg, |languages| rows) broadcast
    back for a map-side filter — the same no-per-language-sort shape as
    :func:`quality_percentile_filter`'s approx path.
    """
    scored = bigram_logprob(df, lam=lam, id_col=id_col, text_col=text_col)
    with_lang = scored.join(df.select(id_col, lang_col), id_col)
    thresholds = with_lang.groupBy(lang_col).agg(
        F.percentile_approx(
            "avg_logprob", F.lit(min_percentile), F.lit(accuracy)
        ).alias("lp_threshold")
    )
    return (
        with_lang.join(F.broadcast(thresholds), lang_col)
        .filter(F.col("avg_logprob") >= F.col("lp_threshold"))
        .select(id_col, lang_col, "avg_logprob", "lp_threshold")
    )


def _half_up_scaled(x: float, scale: float = 1e6) -> int:
    """Integer HALF_UP scaling (sign-adjusted) — the repo's rounding
    contract applied to scaled log-probs so engines replay bit-exactly."""
    import math as _m

    s = x * scale
    return int(_m.floor(s + 0.5)) if s >= 0 else -int(_m.floor(-s + 0.5))


def _viterbi_pieces(word: str, lp: "dict[str, int]", max_l: int) -> "list[str]":
    """Best segmentation of ``word`` under integer-scaled piece log-probs:
    max total score, ties broken toward the LONGEST piece at each position
    (largest l in the forward argmax; backtrack follows the same choice).
    Integer scores make the DP — and therefore the tie-set — identical in
    any engine, so a SQL replay reproduces the exact path."""
    neg = -(10**15)
    L = len(word)
    best = [0] + [neg] * L
    back = [0] * (L + 1)
    for i in range(1, L + 1):
        b, chosen = neg, 0
        for l in range(1, min(max_l, i) + 1):
            p = word[i - l : i]
            s = lp.get(p)
            if s is None:
                continue
            t = best[i - l] + s
            if t > b or (t == b and l > chosen):
                b, chosen = t, l
        best[i], back[i] = b, chosen
    pieces = []
    i = L
    while i > 0 and back[i]:
        pieces.append(word[i - back[i] : i])
        i -= back[i]
    return pieces


def unigram_lm_learn(
    df: DataFrame,
    vocab_size: int = 24,
    max_piece_len: int = 4,
    iterations: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018,
    arXiv:1804.10959), hard-EM variant: candidate pieces are every word
    substring up to ``max_piece_len`` chars, the seed vocabulary is all
    single characters plus the ``vocab_size`` most frequent multi-char
    candidates, and each EM round (a) Viterbi-segments every distinct
    word under the current piece log-probs and (b) re-estimates piece
    probabilities from the frequency-weighted path counts (add-one
    smoothed so the vocabulary stays total). Deterministic end to end:
    log-probs are INTEGER-scaled (1e-6 resolution, HALF_UP), so the DP
    scores, tie-sets, and longest-piece tie-break replay identically in
    any engine — the property that makes a full SQL oracle possible.
    Complements :func:`bpe_learn`/:func:`bpe_encode` as the second major
    tokenizer family.

    Returns ``(piece, piece_len, viterbi_count, prob)``: the final
    E-step's raw frequency-weighted path count and the final smoothed
    probability, ordered by (count DESC, piece ASC).

    Scale: the corpus is touched ONCE (word-frequency groupBy, the
    standard vocab-bounded text shuffle); everything after runs on the
    DISTINCT-WORD table — substring candidates are a map-side flatten,
    the Viterbi E-step is an Arrow-batched ``mapInPandas`` over distinct
    words (justified UDF: per-word DP has no built-in), and per-round
    piece counts collect vocab-bounded rows only. No corpus-sized collect
    anywhere; word tables at web scale stay distributed.
    """
    import math as _m

    t = F.trim(F.lower(F.col(text_col)))
    toks = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    with materialized(
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    ) as words:
        subs = F.expr(
            "flatten(transform(sequence(1, length(word)), s -> "
            f"transform(sequence(1, least({max_piece_len}, length(word) - s + 1)), "
            "l -> substring(word, s, l))))"
        )
        cand = (
            words.select("freq", F.explode(subs).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
        )
        singles = cand.filter(F.length("piece") == 1)
        multis = (
            cand.filter(F.length("piece") > 1)
            .orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(vocab_size)
        )
        vocab_rows = singles.unionByName(multis).collect()
        vocab = {r["piece"]: int(r["cnt"]) for r in vocab_rows}
        spark = df.sparkSession
        schema_out = "piece string, piece_len int, viterbi_count long, prob double"
        if not vocab:
            return spark.createDataFrame([], schema_out)
        tot0 = float(sum(vocab.values()))
        lp = {p: _half_up_scaled(_m.log(c / tot0)) for p, c in vocab.items()}
        counts: "dict[str, int]" = {}
        smoothed: "dict[str, int]" = {}
        tot = 1.0
        for _ in range(iterations):
            lp_now, ml = dict(lp), max_piece_len

            def _estep(batches, _lp=lp_now, _ml=ml):
                for pdf in batches:
                    out_p, out_w = [], []
                    for word, freq in zip(pdf["word"], pdf["freq"]):
                        for piece in _viterbi_pieces(word, _lp, _ml):
                            out_p.append(piece)
                            out_w.append(int(freq))
                    yield pd.DataFrame({"piece": out_p, "w": out_w})

            counted = (
                words.mapInPandas(_estep, schema="piece string, w long")
                .groupBy("piece")
                .agg(F.sum("w").alias("c"))
                .collect()
            )
            counts = {r["piece"]: int(r["c"]) for r in counted}
            smoothed = {p: counts.get(p, 0) + 1 for p in vocab}
            tot = float(sum(smoothed.values()))
            lp = {p: _half_up_scaled(_m.log(c / tot)) for p, c in smoothed.items()}
    out = [
        (
            p,
            len(p),
            counts.get(p, 0),
            _half_up_scaled(smoothed[p] / tot) / 1e6,
        )
        for p in vocab
    ]
    out.sort(key=lambda r: (-r[2], r[0]))
    return spark.createDataFrame(out, schema_out)


def unigram_encode(
    df: DataFrame,
    vocab_size: int = 24,
    max_piece_len: int = 4,
    iterations: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Serving half of the unigram-LM tokenizer (the
    :func:`bpe_encode` counterpart for :func:`unigram_lm_learn`): train
    the piece model, then segment every document and report its token
    budget — ``(id, n_ws_tokens, n_unigram_tokens, fertility)`` where
    fertility = unigram tokens per whitespace token, the number packing
    and cost estimation actually need.

    Scale: training is :func:`unigram_lm_learn`'s pipeline (corpus
    touched once). Encoding never re-runs the DP per document: the
    Viterbi piece COUNT per distinct word is computed once on the
    distinct-word table (same Arrow-batched DP) and joined back to the
    exploded corpus by word — the same word-level memoization a
    SentencePiece deployment uses. The word→count table is vocab-bounded
    relative to the corpus; the join shuffles (doc, word) pairs pruned to
    two columns.
    """
    import math as _m

    t = F.trim(F.lower(F.col(text_col)))
    toks = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    words = materialize(
        df.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    # train (same spec as unigram_lm_learn; shares the corpus word table)
    subs = F.expr(
        "flatten(transform(sequence(1, length(word)), s -> "
        f"transform(sequence(1, least({max_piece_len}, length(word) - s + 1)), "
        "l -> substring(word, s, l))))"
    )
    cand = (
        words.select("freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )
    vocab_rows = (
        cand.filter(F.length("piece") == 1)
        .unionByName(
            cand.filter(F.length("piece") > 1)
            .orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(vocab_size)
        )
        .collect()
    )
    vocab = {r["piece"]: int(r["cnt"]) for r in vocab_rows}
    spark = df.sparkSession
    out_schema = (
        f"{id_col} long, n_ws_tokens long, n_unigram_tokens long, "
        "fertility double"
    )
    if not vocab:
        return spark.createDataFrame([], out_schema)
    tot0 = float(sum(vocab.values()))
    lp = {p: _half_up_scaled(_m.log(c / tot0)) for p, c in vocab.items()}
    for _ in range(iterations):
        lp_now, ml = dict(lp), max_piece_len

        def _estep(batches, _lp=lp_now, _ml=ml):
            for pdf in batches:
                out_p, out_w = [], []
                for word, freq in zip(pdf["word"], pdf["freq"]):
                    for piece in _viterbi_pieces(word, _lp, _ml):
                        out_p.append(piece)
                        out_w.append(int(freq))
                yield pd.DataFrame({"piece": out_p, "w": out_w})

        counted = (
            words.mapInPandas(_estep, schema="piece string, w long")
            .groupBy("piece")
            .agg(F.sum("w").alias("c"))
            .collect()
        )
        counts = {r["piece"]: int(r["c"]) for r in counted}
        smoothed = {p: counts.get(p, 0) + 1 for p in vocab}
        tot = float(sum(smoothed.values()))
        lp = {p: _half_up_scaled(_m.log(c / tot)) for p, c in smoothed.items()}
    lp_fin, ml = dict(lp), max_piece_len

    def _wc(batches, _lp=lp_fin, _ml=ml):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n_pieces": [
                        len(_viterbi_pieces(w, _lp, _ml)) for w in pdf["word"]
                    ],
                }
            )

    word_counts = words.select("word").mapInPandas(
        _wc, schema="word string, n_pieces long"
    )
    per_doc = (
        df.select(F.col(id_col), F.explode(toks).alias("word"))
        .join(word_counts, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ws_tokens"),
            F.sum("n_pieces").alias("n_unigram_tokens"),
        )
    )
    base = df.select(F.col(id_col))
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_ws_tokens", F.lit(0)).alias("n_ws_tokens"),
        F.coalesce("n_unigram_tokens", F.lit(0)).alias("n_unigram_tokens"),
        F.round(
            F.when(
                F.col("n_ws_tokens") > 0,
                F.col("n_unigram_tokens") / F.col("n_ws_tokens"),
            ),
            6,
        ).alias("fertility"),
    )


def zipf_slope(
    df: DataFrame,
    top_n: int = 200,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Zipf fit: OLS regression of ln(frequency) on ln(rank)
    over each group's ``top_n`` most frequent tokens. Natural-language
    corpora fit slope ≈ −1 (Zipf 1949); a much flatter slope flags
    templated/machine-generated text, a much steeper one flags boilerplate
    domination — a standard corpus-health diagnostic next to vocab_drift.
    Returns ``(group, n_terms, slope, intercept, r2)``.

    Scale: token counting is the vocab-bounded groupBy every text op here
    uses (corpus shuffles once on (group, token), partial-combined); the
    rank window runs over the per-group VOCAB table, not the corpus, and
    the regression is one closed-form aggregate over ≤ top_n rows per
    group — no iteration, no driver math.
    """
    from pyspark.sql import Window

    t = F.trim(F.lower(F.col(text_col)))
    toks = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    counts = (
        df.select(F.col(group_col).alias("grp"), F.explode(toks).alias("tok"))
        .groupBy("grp", "tok")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("freq"), F.asc("tok"))
    ranked = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            "grp",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("freq").cast("double")).alias("y"),
        )
    )
    n = F.count("*").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, syy, sxy = (
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
        F.sum(F.col("x") * F.col("y")),
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    # degenerate groups (single term, or all equal frequencies) have zero
    # variance on one axis: slope/r² are NULL there, not a 0/0 crash
    slope = F.when(var_x != 0, cov_n / var_x)
    return ranked.groupBy("grp").agg(
        F.count("*").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            F.when(
                (var_x != 0) & (var_y != 0), (cov_n * cov_n) / (var_x * var_y)
            ),
            6,
        ).alias("r2"),
    ).withColumnRenamed("grp", group_col)


def dsir_importance_select(
    df: DataFrame,
    target_source: str = "src0",
    n_select: int = 100,
    buckets: int = 4096,
    smoothing: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every *raw* document (``source !=
    target_source``) by how target-like its hashed n-gram feature
    distribution is, and keep the ``n_select`` highest scorers. Features
    are unigrams + bigrams hashed into ``buckets`` md5 buckets; the score
    is the summed log-likelihood ratio ``Σ log(p_target(b)/p_raw(b))``
    over the document's features under add-``smoothing`` bucket unigram
    models. Deterministic: selection orders by (rounded score DESC, id
    ASC) — no sampling noise, reproducible across engines (the paper's
    Gumbel top-k reduces to this under a fixed seed; we take the MAP
    variant). Reference analogue: the reference has no learned selection
    (kafka-connect-hdfs moves bytes); this is §2.11 pipeline surface.

    Returns ``(id, source, n_feats, dsir_score, rank)`` for the selected
    documents.

    Scale: feature extraction is one map-side projection (split + hash —
    no UDF); bucket counts shuffle ≤ ``buckets`` rows per partition
    (partial-combined), the two bucket models join back as ONE broadcast
    (buckets-bounded); per-doc scoring shuffles (doc, bucket-hit) pairs
    pruned to two small columns. Global top-k is orderBy+limit —
    TakeOrdered, no single-partition window over the corpus.
    """
    t = F.trim(F.lower(F.col(text_col)))
    toks = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )
    base = df.select(F.col(id_col), F.col(source_col), toks.alias("_tk"))
    n = F.size("_tk")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("_tk", 1, n - 1),
            F.slice("_tk", 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = base.select(
        id_col,
        source_col,
        F.explode(F.concat("_tk", bigrams)).alias("_g"),
    ).select(
        id_col,
        source_col,
        F.pmod(
            F.conv(F.substring(F.md5("_g"), 1, 12), 16, 10).cast("bigint"),
            F.lit(buckets),
        ).alias("bucket"),
    )
    is_target = F.col(source_col) == target_source
    counts = feats.groupBy("bucket").agg(
        F.sum(F.when(is_target, 1).otherwise(0)).alias("tc"),
        F.sum(F.when(is_target, 0).otherwise(1)).alias("rc"),
    )
    totals = counts.agg(
        F.sum("tc").alias("T"), F.sum("rc").alias("R")
    )
    # log p_target(b) - log p_raw(b) under add-k smoothing; buckets-bounded
    logratio = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log(
                    (F.col("tc") + F.lit(smoothing))
                    / (F.col("T") + F.lit(smoothing * buckets))
                )
                - F.log(
                    (F.col("rc") + F.lit(smoothing))
                    / (F.col("R") + F.lit(smoothing * buckets))
                )
            ).alias("logw"),
        )
    )
    scored = (
        feats.filter(~is_target)
        .join(F.broadcast(logratio), "bucket")
        .groupBy(id_col, source_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("logw"), 6).alias("dsir_score"),
        )
    )
    from pyspark.sql import Window

    top = scored.orderBy(
        F.col("dsir_score").desc(), F.col(id_col).asc()
    ).limit(n_select)
    # the window runs on the n_select-row result of the TakeOrdered limit,
    # not the corpus — single-partition is fine at that size
    w = Window.orderBy(F.col("dsir_score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w))


def heaps_law(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group Heaps'-law fit: OLS regression of ln(distinct types) on
    ln(cumulative tokens) over the group's documents in ``id_col`` order
    (Heaps 1978; V(N) = K·N^β). Natural corpora fit β ≈ 0.4-0.6; β → 0
    flags a closed templated vocabulary, β → 1 flags noise/IDs/random
    strings — the vocabulary-GROWTH health check that complements
    :func:`zipf_slope`'s frequency-shape check. Returns ``(group,
    n_docs, vocab_size, total_tokens, beta, ln_k, r2)``.

    Scale: type first-appearances come from the vocab-bounded
    ``groupBy(group, token) -> min(doc)`` every text op uses (corpus
    shuffles once, partial-combined); the growth curve is two running
    windows over the per-group DOC table (doc-bounded, not token-bounded)
    and the regression is one closed-form aggregate per group. No
    iteration, no driver math. Reference analogue: none (the reference
    has no text analytics; SURVEY §2.11 extension).
    """
    from pyspark.sql import Window

    t = F.trim(F.lower(F.col(text_col)))
    toks = F.when(
        F.length(t) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(t, r"\s+"))
    # tokens per doc straight from the array size — NO explode and no
    # (group, doc) shuffle for this side; only the type-first-appearance
    # side pays the corpus explode (measured 10.6 s -> ~6 s at sf0.1:
    # the exploded frame was consumed twice and recomputed per consumer)
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("doc"),
        F.size(toks).cast("bigint").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    # types INTRODUCED at each doc = tokens whose first doc this is
    first_seen = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("doc"),
            F.explode(toks).alias("tok"),
        )
        .groupBy("grp", "tok")
        .agg(F.min("doc").alias("doc"))
        .groupBy("grp", "doc")
        .agg(F.count("*").alias("new_types"))
    )
    w = (
        Window.partitionBy("grp")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = (
        per_doc.join(first_seen, ["grp", "doc"], "left")
        .select(
            "grp",
            "doc",
            "n_tok",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .select(
            "grp",
            F.sum("n_tok").over(w).alias("cum_tok"),
            F.sum("new_types").over(w).alias("cum_types"),
        )
        .select(
            "grp",
            "cum_tok",
            "cum_types",
            F.log(F.col("cum_tok").cast("double")).alias("x"),
            F.log(F.col("cum_types").cast("double")).alias("y"),
        )
    )
    n = F.count("*").cast("double")
    sx, sy = F.sum("x"), F.sum("y")
    sxx, syy, sxy = (
        F.sum(F.col("x") * F.col("x")),
        F.sum(F.col("y") * F.col("y")),
        F.sum(F.col("x") * F.col("y")),
    )
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    beta = F.when(var_x != 0, cov_n / var_x)
    return (
        curve.groupBy("grp")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("cum_types").alias("vocab_size"),
            F.max("cum_tok").alias("total_tokens"),
            F.round(beta, 6).alias("beta"),
            F.round((sy - beta * sx) / n, 6).alias("ln_k"),
            F.round(
                F.when(
                    (var_x != 0) & (var_y != 0),
                    (cov_n * cov_n) / (var_x * var_y),
                ),
                6,
            ).alias("r2"),
        )
        .withColumnRenamed("grp", group_col)
    )


def _collocation_counts(
    df: DataFrame,
    text_col: str,
    min_pairs: int,
    max_tokens: int,
) -> DataFrame:
    """Shared doc-level co-occurrence construction for the collocation
    scorers (:func:`pmi_collocations`, :func:`llr_collocations`): per-doc
    sorted distinct tokens (capped at ``max_tokens``), map-side i<j pair
    emission, exact integer pair/marginal/doc counts joined back →
    ``(tok_a, tok_b, n_ab, _na, _nb, _ndocs)``. Pairs never self-join
    the token table; marginals and N broadcast."""
    toks = F.slice(
        F.array_sort(
            F.array_distinct(
                F.split(
                    F.trim(
                        F.regexp_replace(
                            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
                            r"\s+",
                            " ",
                        )
                    ),
                    " ",
                )
            )
        ),
        1,
        max_tokens,
    )
    docs = df.select(toks.alias("_t"))
    nd_row = F.broadcast(docs.agg(F.count("*").alias("_ndocs")))
    t = F.col("_t")
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size(t)),
                lambda j: F.struct(
                    F.element_at(t, i).alias("tok_a"),
                    F.element_at(t, j).alias("tok_b"),
                ),
            ),
        )
    )
    pair_counts = (
        docs.filter(F.size(t) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.tok_a", "p.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    tok_counts = (
        docs.select(F.explode(t).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
    )
    na = F.broadcast(
        tok_counts.select(
            F.col("tok").alias("tok_a"), F.col("n_tok").alias("_na")
        )
    )
    nb = F.broadcast(
        tok_counts.select(
            F.col("tok").alias("tok_b"), F.col("n_tok").alias("_nb")
        )
    )
    return (
        pair_counts.join(na, "tok_a")
        .join(nb, "tok_b")
        .crossJoin(nd_row)
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_pairs: int = 5,
    max_tokens: int = 64,
    k: int = 20,
) -> DataFrame:
    """Top-k document-level collocations by pointwise mutual information:
    PMI(a,b) = ln(N·n_ab / (n_a·n_b)) over per-document DISTINCT token
    sets — the corpus-analysis primitive behind phrase mining, stopword-
    pair detection, and template discovery (a near-1 co-occurrence of two
    rare tokens is a boilerplate signature the unigram stats can't see).

    Returns ``(tok_a, tok_b, n_ab, pmi)`` (a < b lexicographically),
    ranked by pmi desc. ``min_pairs`` floors the co-occurrence count
    (PMI is famously noise-dominated at n_ab = 1); ``max_tokens`` caps
    each doc at its first ``max_tokens`` distinct tokens (sorted) so a
    pathological doc cannot emit O(V²) pairs — the cap is mirrored in
    the oracle, not silent.

    Determinism: all counts are exact integers; the only float op is one
    divide + one ln of an exact-int ratio (identical IEEE/libm on both
    engines — the kl_contrib precedent), quantized q6. NULL text
    normalizes to '' (one degenerate token) so the document count N is
    exactly the table's row count on both engines.

    Scale: pairs emit MAP-SIDE from a per-doc sorted array (i < j nested
    transform — no self-join of the token table, which would shuffle the
    corpus twice); the pair aggregation partial-combines, so the shuffle
    carries observed-pair partials; per-token doc counts broadcast back
    onto the (min_pairs-floored) pair table; N rides a broadcast one-row
    aggregate (no eager driver-side count action).
    """
    from kafka_connect_hdfs_spark.operators.similarity import q6_col

    scored = (
        _collocation_counts(df, text_col, min_pairs, max_tokens)
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            q6_col(
                F.log(
                    # each FACTOR casts to double BEFORE multiplying (the
                    # r08 MI ADVICE overflow class): 64-bit count products
                    # wrap past ~3e9 rows; double products never wrap and
                    # are exact below 2**53 per factor, oracle-mirrored
                    (F.col("n_ab").cast("double") * F.col("_ndocs").cast("double"))
                    / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
                )
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(k)


def llr_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_pairs: int = 5,
    max_tokens: int = 64,
    k: int = 20,
) -> DataFrame:
    """Top-k document-level collocations by Dunning's (1993)
    log-likelihood ratio — the significance-weighted complement of
    :func:`pmi_collocations`: PMI over-ranks rare-pair flukes (its
    famous n_ab=1 pathology, here only floored by ``min_pairs``), while
    LLR weighs surprise by EVIDENCE, so frequent genuine collocations
    rank above sparse coincidences — the scorer the classic collocation
    literature (and Mahout/OpenNLP) standardized on.

    Over the same per-doc distinct-token universe as PMI, the 2×2 doc
    contingency per pair (k11=n_ab, k12=n_a−n_ab, k21=n_b−n_ab,
    k22=N−n_a−n_b+n_ab) scores ``2·(ΣS(k) − ΣS(rows) − ΣS(cols) +
    S(N))`` with the entropy kernel ``S(x) = x·ln x`` (0 at 0).

    Returns ``(tok_a, tok_b, n_ab, llr)`` ranked by llr desc, 6-dp
    HALF-UP. Determinism: every cell is an exact integer; each S term
    is one double multiply + ln of an exact-count double (exact below
    2**53), combined in ONE fixed expression tree mirrored
    operator-for-operator by the oracle — no float aggregation anywhere.

    Scale: identical shape to PMI — map-side pair emission (never a
    token-table self-join), partial-combined pair shuffle, vocab-bounded
    marginals broadcast back.
    """
    from kafka_connect_hdfs_spark.operators.similarity import q6_col

    def _S(c: F.Column) -> F.Column:
        d = c.cast("double")
        return F.when(c > 0, d * F.log(d)).otherwise(F.lit(0.0))

    n_ab = F.col("n_ab")
    n_a = F.col("_na")
    n_b = F.col("_nb")
    nd = F.col("_ndocs")
    k11 = n_ab
    k12 = n_a - n_ab
    k21 = n_b - n_ab
    k22 = nd - n_a - n_b + n_ab
    llr = F.lit(2.0) * (
        _S(k11) + _S(k12) + _S(k21) + _S(k22)
        - _S(n_a) - _S(nd - n_a) - _S(n_b) - _S(nd - n_b)
        + _S(nd)
    )
    scored = _collocation_counts(df, text_col, min_pairs, max_tokens).select(
        "tok_a", "tok_b", "n_ab", q6_col(llr).alias("llr")
    )
    return scored.orderBy(
        F.desc("llr"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(k)


#: Standard English function-word delimiters (the FOX-stoplist core the
#: RAKE paper uses): the library DEFAULT, suitable for real corpora.
RAKE_STOPWORDS = (
    "a", "about", "after", "all", "also", "an", "and", "any", "are", "as",
    "at", "be", "because", "been", "but", "by", "can", "could", "do",
    "for", "from", "had", "has", "have", "he", "her", "his", "how", "if",
    "in", "into", "is", "it", "its", "may", "more", "most", "no", "not",
    "of", "on", "one", "only", "or", "other", "our", "out", "she", "so",
    "some", "such", "than", "that", "the", "their", "then", "there",
    "these", "they", "this", "to", "up", "was", "we", "were", "what",
    "when", "which", "who", "will", "with", "would", "you",
)

#: Delimiter list tuned to the SYNTHETIC test corpus (its high-frequency
#: qualifiers act as phrase boundaries) — passed EXPLICITLY by the
#: correctness gate; never the library default (r07 verdict item 4: a
#: fixture-tuned default silently under-segments real English).
RAKE_FIXTURE_STOPWORDS = (
    "the", "a", "of", "and", "in", "to", "is", "on", "for",
    "small", "big", "fast", "slow",
)


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    stopwords: "tuple[str, ...]" = RAKE_STOPWORDS,
    max_phrase_len: int = 4,
    min_occurrences: int = 2,
    k: int = 20,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-delimited token runs; each word scores
    degree/frequency (degree = Σ length of the phrases it appears in —
    words that live in long collocations outrank free-floating frequent
    words) and a phrase scores the sum of its word scores. The classic
    zero-training keyphrase miner run on a corpus before indexing or
    deduping on titles/keyphrases.

    Returns the top ``k`` distinct phrases (1..``max_phrase_len`` words,
    ≥ ``min_occurrences`` corpus occurrences): ``(phrase, n_occurrences,
    score)``, ranked score desc / phrase asc.

    Determinism: degree and frequency are exact integers; each word's
    degree/frequency ratio quantizes to a HALF-UP micro-int (one IEEE
    divide) and phrase scores are exact integer SUMS of those micro-ints
    (a float sum over the phrase would be fold-order-shaped), surfaced
    /1e6 through q6 — byte-reproducible and oracle-replayable.

    Scale: ONE doc-keyed shuffle builds the segment ids (running stopword
    count window); phrase assembly is the same exchange's groupBy
    (partition-local); word stats are vocab-bounded aggregates broadcast
    back onto the phrase-word table. Nothing corpus-sized joins itself.
    """
    from pyspark.sql import Window

    from kafka_connect_hdfs_spark.operators.similarity import (
        dec_to_double, q6_col,
    )

    toks = F.split(
        F.trim(
            F.regexp_replace(
                F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " "
            )
        ),
        " ",
    )
    # the doc id must materialize BEFORE the explode: a generator in the
    # same projection evaluates monotonically_increasing_id once per
    # OUTPUT row, giving every word its own "document" (r07 lesson —
    # non-deterministic exprs don't collapse across Generate, so the
    # two-stage select pins the evaluation order)
    base = df.select(
        F.monotonically_increasing_id().alias("_doc"), toks.alias("_tk")
    )
    words = base.select(
        "_doc", F.posexplode("_tk").alias("_idx", "_w")
    ).withColumn("_stop", F.col("_w").isin(*stopwords))
    seg = F.sum(F.col("_stop").cast("int")).over(
        Window.partitionBy("_doc").orderBy("_idx").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    phrases = (
        words.withColumn("_seg", seg)
        .filter(~F.col("_stop") & (F.length("_w") > 0))
        .groupBy("_doc", "_seg")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_idx", "_w"))
            ).alias("_ws")
        )
        .select(F.transform(F.col("_ws"), lambda s: s["_w"]).alias("_ph"))
        .filter(F.size("_ph") <= max_phrase_len)
    )
    pw = phrases.select(
        F.concat_ws(" ", F.col("_ph")).alias("phrase"),
        F.size("_ph").alias("_plen"),
        F.explode("_ph").alias("_w"),
    )
    word_stats = pw.groupBy("_w").agg(
        F.count("*").alias("_freq"), F.sum("_plen").alias("_deg")
    )
    # HALF-UP micro-int of degree/frequency: one divide, then exact sums
    ws = F.floor(
        (F.col("_deg") * F.lit(1e6) / F.col("_freq")) + F.lit(0.5)
    ).cast("bigint")
    scored = (
        pw.join(F.broadcast(word_stats.withColumn("_ws", ws)), "_w")
        .groupBy("phrase")
        .agg(
            F.sum(F.col("_ws").cast("decimal(38,0)")).alias("_smic"),
            F.count("*").alias("_nw"),
            # constant per phrase — carried through instead of re-split
            # from the phrase string (r07 review)
            F.max(F.col("_plen").cast("long")).alias("_plen"),
        )
    )
    # _smic counts every OCCURRENCE of the phrase once per word: for a
    # phrase occurring n times with words w1..wp, _smic = n·Σ ws(wi) and
    # _nw = n·p — so score = _smic/n and n = _nw/p
    per = scored.select(
        "phrase",
        F.expr("_nw DIV _plen").alias("n_occurrences"),
        F.col("_smic"),
    )
    out = per.filter(F.col("n_occurrences") >= min_occurrences).select(
        "phrase",
        "n_occurrences",
        q6_col(
            dec_to_double("_smic")
            / (F.col("n_occurrences").cast("double") * F.lit(1e6))
        ).alias("score"),
    )
    return out.orderBy(F.desc("score"), F.asc("phrase")).limit(k)


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy (nats) over the
    normalized text — the cheap gibberish/boilerplate screen: natural
    language sits ~2.8-3.3 nats, base64/URL dumps and key-mash run
    higher, repeated-character padding collapses toward 0. Pairs with
    the token-level quality scores as a pre-training filter input.

    Determinism: per-(doc, char) counts are exact integers; each term
    ``-(c/n)·ln(c/n)`` is one divide + one ln of an exact-int ratio,
    HALF-UP micro-int quantized, and the per-doc entropy is the exact
    INTEGER sum of those micro-ints (a float sum would be
    fold-order-shaped), surfaced /1e6 — byte-replayable cross-engine.

    Returns ``(doc_id, n_chars_counted, n_distinct_chars, entropy)``.

    Scale: one explode + one (doc, char)-keyed aggregation (alphabet-
    bounded per doc after map-side combine) + one doc-keyed integer sum.
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+", " ")
    )
    chars = df.select(
        F.col("doc_id"), F.explode(F.split(norm, "")).alias("_ch")
    ).filter(F.length("_ch") > 0)
    counts = chars.groupBy("doc_id", "_ch").agg(F.count("*").alias("_c"))
    tot = counts.groupBy("doc_id").agg(
        F.sum("_c").alias("_n"), F.count("*").alias("n_distinct_chars")
    )
    p = F.col("_c").cast("double") / F.col("_n").cast("double")
    term = -p * F.log(p)
    micro = F.when(
        term < 0, -F.floor(-term * F.lit(1e6) + F.lit(0.5))
    ).otherwise(F.floor(term * F.lit(1e6) + F.lit(0.5))).cast("bigint")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.first("_n").alias("n_chars_counted"),
            F.first("n_distinct_chars").alias("n_distinct_chars"),
            (F.sum(micro).cast("double") / F.lit(1e6)).alias("entropy"),
        )
        .orderBy("doc_id")
    )


def kneser_ney_bigrams(
    df: DataFrame,
    discount: float = 0.75,
    top_n: "int | None" = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Kneser-Ney-smoothed bigram probabilities over the corpus's own
    counts — the modern-smoothing step up from the interpolated model in
    :func:`bigram_logprob` (Kneser & Ney 1995; Chen & Goodman 1999's
    evaluation made it the default):

        P_KN(w2|w1) = (c(w1,w2) − d)/c(w1·)
                    + (d · N1+(w1,·)/c(w1·)) · N1+(·,w2)/T

    where N1+(w1,·) = distinct continuations of w1, N1+(·,w2) = distinct
    contexts preceding w2 (the "how many ways can this word appear"
    continuation probability that fixes the San-Francisco problem —
    'francisco' is frequent but follows only 'san'), T = distinct bigram
    types, d the absolute discount. Returns the ``top_n`` bigrams by
    count: ``(prev, cur, c_big, p_kn)``; ``top_n=None`` returns the FULL
    unordered table — callers wanting everything must use None, not a
    huge limit: a giant top-k plans TakeOrderedAndProject, whose per-task
    buffer is sized by the LIMIT (not the data), an at-scale OOM.

    Scale: ONE shuffle builds the bigram count table; every other term
    (context totals, continuation counts, T) is an aggregation OF that
    table — bounded by bigram vocabulary, never re-touching the corpus;
    the top-n is TakeOrdered. Probabilities are fixed IEEE expression
    trees over exact integer counts, 6-dp HALF-UP on both engines.
    """
    from kafka_connect_hdfs_spark.operators.similarity import q6_col

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        toks.alias("_t")
    )
    t = F.col("_t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.struct(a.alias("prev"), b.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    pairs = base.select(F.explode(bigrams).alias("bg")).select(
        F.col("bg.prev").alias("prev"), F.col("bg.cur").alias("cur")
    )
    big = pairs.groupBy("prev", "cur").agg(F.count("*").alias("c_big"))
    ctx = big.groupBy("prev").agg(
        F.sum("c_big").alias("c_ctx"), F.count("*").alias("n_follow")
    )
    cont = big.groupBy("cur").agg(F.count("*").alias("n_prec"))
    tot = big.agg(F.count("*").alias("_tt"))
    d = F.lit(float(discount))
    cb = F.col("c_big").cast("double")
    cc = F.col("c_ctx").cast("double")
    nf = F.col("n_follow").cast("double")
    np_ = F.col("n_prec").cast("double")
    tt = F.col("_tt").cast("double")
    out = (
        big.join(F.broadcast(ctx), "prev")
        .join(F.broadcast(cont), "cur")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            "cur",
            F.col("c_big").cast("long").alias("c_big"),
            q6_col((cb - d) / cc + ((d * nf) / cc) * (np_ / tt)).alias(
                "p_kn"
            ),
        )
    )
    if top_n is None:
        return out
    return out.orderBy(F.desc("c_big"), "prev", "cur").limit(top_n)
