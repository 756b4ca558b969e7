"""Text-analysis operators (BASELINE.json north-star: language-ID,
quality scoring, token counting, fingerprinting, TF-IDF, n-grams).

The batch generalization of the reference's only text operation
(keyword containment, streamer.py:48) into the text stage of an
LLM-training-data pipeline. All pure built-in expressions — tokenize/
explode/agg — so the hot path never leaves the JVM; every operator has
an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import spread, table
from ..registry import register
from .collapse import content_groups, content_key, dup_heavy

# tiny per-language stopword sets over the fixture vocabulary; the
# determinism (not linguistic accuracy) is the contract
_LANG_MARKERS = {
    "en": ("the", "a", "is"),
    "de": ("der", "die", "das"),
    "es": ("el", "la", "es"),
    "fr": ("le", "la", "et"),
    "zh": ("de5", "shi4", "le5"),
}


@register(
    "text_langid",
    sql="""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'is'))) AS s_en,
                   len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das'))) AS s_de,
                   len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'es'))) AS s_es,
                   len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'et'))) AS s_fr,
                   len(list_filter(string_split(text, ' '), t -> t IN ('de5', 'shi4', 'le5'))) AS s_zh
            FROM documents
        )
        SELECT doc_id, lang,
               CASE
                   WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                   WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                   WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es AND s_fr >= s_zh THEN 'fr'
                   WHEN s_zh > s_en AND s_zh > s_de AND s_zh > s_es AND s_zh > s_fr THEN 'zh'
                   ELSE 'en'
               END AS predicted_lang,
               CAST(greatest(s_en, s_de, s_es, s_fr, s_zh) AS INTEGER) AS marker_hits
        FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: count per-language marker tokens,
    argmax with a fixed precedence (en > de > es > fr > zh on ties).
    A narrow map — language-ID at 100 TB is embarrassingly parallel;
    spread() re-splits a sub-row-group parquet scan so the marker-count
    HOF kernel uses every core (r15: the x100 corpus arrives as a
    2-split file and ran the whole kernel on 2 of 32 cores — 13.1 s,
    throughput-capped at the scan, not the operator)."""
    d = spread(table(spark, sf_dir, "documents"))
    tokens = F.split("text", " ")

    def marker_count(words: tuple[str, ...]):
        # NB: F.filter lambdas must be unary — a second (defaulted)
        # parameter is interpreted as the element index
        return F.size(F.filter(tokens, lambda t: t.isin(*words)))

    s = {lang: marker_count(words) for lang, words in _LANG_MARKERS.items()}
    predicted = (
        F.when(
            (s["de"] > s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]) & (s["de"] >= s["zh"]),
            "de",
        )
        .when(
            (s["es"] > s["en"]) & (s["es"] > s["de"]) & (s["es"] >= s["fr"]) & (s["es"] >= s["zh"]),
            "es",
        )
        .when(
            (s["fr"] > s["en"]) & (s["fr"] > s["de"]) & (s["fr"] > s["es"]) & (s["fr"] >= s["zh"]),
            "fr",
        )
        .when(
            (s["zh"] > s["en"]) & (s["zh"] > s["de"]) & (s["zh"] > s["es"]) & (s["zh"] > s["fr"]),
            "zh",
        )
        .otherwise("en")
    )
    return d.select(
        "doc_id",
        "lang",
        predicted.alias("predicted_lang"),
        F.greatest(*s.values()).cast("int").alias("marker_hits"),
    )


@register(
    "text_quality",
    sql="""
        WITH t AS (
            SELECT doc_id, n_chars,
                   string_split(text, ' ') AS toks
            FROM documents
        )
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               round(n_chars * 1.0 / len(toks), 4) AS avg_token_len,
               round(len(list_filter(toks, x -> x IN ('the', 'a'))) * 1.0 / len(toks), 4) AS stopword_ratio,
               round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS distinct_ratio,
               CASE WHEN len(toks) >= 30
                         AND len(list_distinct(toks)) * 1.0 / len(toks) >= 0.3
                    THEN 'keep' ELSE 'flag' END AS quality_band
        FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, avg token length, stopword ratio,
    repetition (distinct ratio), and a keep/flag band — the standard
    pre-training corpus filters, each a pure column expression."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    return d.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        F.round(F.col("n_chars") / n, 4).alias("avg_token_len"),
        F.round(F.size(F.filter(toks, lambda t: t.isin("the", "a"))) / n, 4).alias(
            "stopword_ratio"
        ),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.when((n >= 30) & (distinct_ratio >= 0.3), "keep")
        .otherwise("flag")
        .alias("quality_band"),
    )


@register(
    "text_tokens",
    sql="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_ish,
               CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_est_subwords
        FROM documents
    """,
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, a BPE-ish regex
    (alnum runs + single punctuation), and the chars/4 rule-of-thumb."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+|[^a-z0-9 ]")).alias("n_bpe_ish"),
        F.ceil(F.col("n_chars") / 4.0).cast("long").alias("n_est_subwords"),
    )


@register(
    "text_fingerprint",
    sql="""
        SELECT doc_id,
               md5(text) AS full_md5,
               CASE WHEN length(text) >= 8
                    THEN list_min(list_transform(range(1, length(text) - 6),
                                                 i -> md5(substr(text, i, 8))))
                    ELSE md5(text) END AS winnow_fp
        FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-content md5 + a winnowing-style
    fingerprint (min md5 over all 8-char rolling windows) — robust to
    content reordering, the building block of shingle-based plagiarism/
    dup detection. Rolling windows via sequence+transform: JVM-side.
    spread() keeps the O(total-chars) hash kernel parallel when the
    corpus file is a single scan split."""
    d = spread(table(spark, sf_dir, "documents"))
    rolling = F.expr(
        "array_min(transform(sequence(1, length(text) - 7), i -> md5(substring(text, i, 8))))"
    )
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("full_md5"),
        F.when(F.length("text") >= 8, rolling)
        .otherwise(F.md5(F.col("text").cast("binary")))
        .alias("winnow_fp"),
    )


@register(
    "text_tfidf",
    sql="""
        WITH tf AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        tf_counts AS (
            SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
            FROM tf GROUP BY doc_id, token
        ),
        df AS (
            SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM tf GROUP BY token
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.token,
                   round(t.tf * (ln((n.n_docs + 1.0) / (d.df + 1.0)) + 1.0), 6) AS tfidf
            FROM tf_counts t JOIN df d USING (token) CROSS JOIN n
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
            FROM scored
        )
        SELECT doc_id, token, tfidf, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 3
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed idf), top-3 terms per document. Explode -> two
    hash aggregates -> broadcast df join -> WindowGroupLimit top-k: the
    SQL-native TF-IDF that scales without MLlib's fixed-width hashing.
    n_docs rides along as a broadcast 1-row crossJoin, keeping the whole
    operator a single job (no separate driver-side count)."""
    d = table(spark, sf_dir, "documents")
    n = d.agg(F.count("*").alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 3
    )


@register(
    "text_ngrams",
    sql="""
        -- range(1, len) is empty for 1-token docs: no bigrams
        WITH grams AS (
            SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
                          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
                   AS bigram
            FROM documents
        ),
        counts AS (
            SELECT bigram, CAST(count(*) AS BIGINT) AS n
            FROM grams GROUP BY bigram
        )
        SELECT bigram, n FROM counts
        ORDER BY n DESC, bigram
        LIMIT 100
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts, top-100. Generation is a per-row transform
    (sequence + element_at), counting one hash aggregate; the global
    top-100 is TakeOrderedAndProject. Tie-break on the bigram itself.
    Single-token docs yield no bigrams (guarded — Spark's sequence
    counts DOWN for an upper bound < 1, so sequence(1, 0) = [1, 0]
    would crash element_at; the oracle's range(1, 1) is just empty)."""
    d = table(spark, sf_dir, "documents").select(F.split("text", " ").alias("toks"))
    # split once; re-splitting inside the lambda is O(tokens^2) per doc
    bigrams = F.expr(
        "IF(size(toks) >= 2, "
        "transform(sequence(1, size(toks) - 1), "
        "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1))), "
        "CAST(array() AS ARRAY<STRING>))"
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(100)
    )


# PII patterns shared by both engines (Java regex and RE2 agree on this
# subset: character classes, bounded repetition, no lookaround)
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9][0-9 -]{7,}[0-9]"


@register(
    "text_pii_redact",
    sql=f"""
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{EMAIL_RE}', '[EMAIL]', 'g'),
                              '{PHONE_RE}', '[PHONE]', 'g') AS redacted,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INTEGER) AS n_phones
        FROM documents
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: replace email addresses and phone-number shapes with
    typed placeholders and count the hits — the pre-training redaction
    pass. Pure regexp expressions (narrow map, embarrassingly parallel;
    Spark's regexp_replace is global by default, DuckDB takes the 'g'
    flag). The synthetic corpus contains no PII, so the fixture result
    is an identity map with zero counts — the planted-PII behavior is
    pinned by tests/test_llm_ops.py."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
        ).alias("redacted"),
        F.regexp_count("text", F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(PHONE_RE)).alias("n_phones"),
    )


# Stopwords dropped by the normalization pass — mirrors the corpus's
# function words; real pipelines broadcast a full list the same way.
NORM_STOPWORDS = ("a", "the", "and", "of", "to")


@register(
    "text_normalize",
    sql=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(lower(trim(text)), ' '),
                               w -> w != '' AND w NOT IN
                                    {NORM_STOPWORDS!r}) AS toks
            FROM documents
        )
        SELECT doc_id,
               array_to_string(toks, ' ') AS norm_text,
               CAST(len(toks) AS INTEGER) AS n_tokens_norm
        FROM t
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pass: lowercase, trim, tokenize, drop empty
    tokens + stopwords, re-join — the standard pre-dedup canonicalizer
    (two docs differing only in case/stopwords collapse to one exact-
    dedup key downstream). Pure narrow array expressions (filter +
    array_join), no shuffle, no Python; the stopword set is a literal
    here and a broadcast lookup at production vocabulary sizes."""
    stop = F.array(*[F.lit(w) for w in NORM_STOPWORDS])
    d = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim("text")), " "),
        lambda w: (w != "") & ~F.array_contains(stop, w),
    )
    return d.select(
        "doc_id",
        F.array_join(toks, " ").alias("norm_text"),
        F.size(toks).alias("n_tokens_norm"),
    )


@register(
    "text_perplexity_proxy",
    sql="""
        WITH toks AS (
            SELECT doc_id, lang, string_split(text, ' ') AS ts
            FROM documents WHERE text <> ''
        ),
        bigrams AS (
            SELECT doc_id, lang,
                   ts[i] AS w1, ts[i + 1] AS w2
            FROM toks, LATERAL unnest(range(1, len(ts))) AS u(i)
        ),
        uni AS (
            SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
        ),
        bi AS (
            SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY w1, w2
        )
        SELECT b.lang,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(log2(bi.c2 * 1.0 / uni.c1)), 4) AS avg_log2_prob
        FROM bigrams b
        JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
        JOIN uni ON b.w1 = uni.w1
        GROUP BY b.lang
    """,
    eager=True,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality proxy (the KenLM-style filter signal
    every LLM data pipeline runs): a bigram model is TRAINED ON THE
    CORPUS ITSELF in one aggregate pass — P(w2|w1) = c(w1,w2)/c(w1) —
    then every bigram occurrence is scored against it and averaged per
    language (avg log2 probability ~ negative cross-entropy; gibberish
    scores low). ONE corpus-sized pass: the explode collapses straight
    into (lang, w1, w2) counts, and every later step — the bigram and
    unigram model tables, the score join, the per-lang weighted
    average sum(c*lp)/sum(c) — operates on vocabulary-sized inputs
    (quadratic in vocab, linear in nothing else), so at 100 TB the
    corpus is scanned and shuffled exactly once while the model math
    broadcasts or bucket-joins. (The naive form scores each occurrence
    individually, recomputing the corpus explode for BOTH model
    aggregates and the score join — three full corpus scans; grouping
    first is the same arithmetic, occurrence-weighted.) Per-LANG output
    (5 rows) keeps the float average off rounding boundaries; the MLE
    model needs no smoothing because every scored bigram was observed
    by construction."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = d.select("lang", F.split("text", " ").alias("ts"))
    bigram_expr = F.expr(
        "IF(size(ts) >= 2, "
        "transform(sequence(1, size(ts) - 1), "
        "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2)), "
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>))"
    )
    blw = (
        toks.select("lang", F.explode(bigram_expr).alias("b"))
        .groupBy("lang", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .agg(F.count("*").alias("c_lw"))
        # materialize ONCE: three consumers (bi, uni, score join) would
        # otherwise each recompute the corpus explode — Catalyst does
        # not common-up a shared aggregate subtree across branches.
        # The checkpointed relation is distinct-bigram-sized (bounded
        # by vocabulary structure, orders of magnitude below corpus
        # occurrences) and stays partitioned on executors — the same
        # bounded-intermediate pattern as pagerank's iteration state.
        .localCheckpoint(eager=True)
    )
    bi = blw.groupBy("w1", "w2").agg(F.sum("c_lw").alias("c2"))
    uni = bi.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = (
        blw.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .select("lang", "c_lw", F.log2(F.col("c2") / F.col("c1")).alias("lp"))
    )
    return scored.groupBy("lang").agg(
        F.sum("c_lw").cast("long").alias("n_bigrams"),
        F.round(
            F.sum(F.col("c_lw") * F.col("lp")) / F.sum("c_lw"), 4
        ).alias("avg_log2_prob"),
    )


#: Decontamination geometry: 5-token shingles, >= 2 distinct shared
#: shingles marks a document contaminated. The "benchmark" is a
#: deterministic ~1% slice of the corpus (doc_id % 97 == 0) standing in
#: for a held-out eval set.
DECON_SHINGLE_K = 5
DECON_OVERLAP_MIN = 2
DECON_BENCH_MOD = 97


@register(
    "text_decontaminate",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        shingles AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(ts) - {DECON_SHINGLE_K} + 2),
                       i -> array_to_string(ts[i:i + {DECON_SHINGLE_K} - 1], ' ')
                   )) AS sh
            FROM toks
            WHERE len(ts) >= {DECON_SHINGLE_K}
        ),
        bench AS (
            SELECT DISTINCT sh FROM shingles
            WHERE doc_id % {DECON_BENCH_MOD} = 0
        ),
        hits AS (
            SELECT s.doc_id, CAST(count(DISTINCT s.sh) AS BIGINT) AS n_shared
            FROM shingles s JOIN bench b ON s.sh = b.sh
            WHERE s.doc_id % {DECON_BENCH_MOD} != 0
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
               coalesce(h.n_shared, 0) >= {DECON_OVERLAP_MIN} AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {DECON_BENCH_MOD} != 0
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the pre-training hygiene step every
    LLM pipeline runs before the eval set means anything: flag corpus
    documents sharing >= 2 distinct 5-token shingles with a benchmark
    set. The benchmark here is a deterministic ~1% corpus slice; in
    production it is the eval suite itself. Scale shape is the REAL
    decontamination design: the benchmark shingle set is tiny relative
    to the corpus (eval suites are MBs against 100 TB), so it
    broadcasts and the corpus side is ONE explode -> broadcast-semi
    match -> per-doc count — no corpus-vs-corpus join, no shuffle of
    the big side beyond its own per-doc aggregate. A production run
    swaps the broadcast join for a bloom filter over benchmark
    shingles; semantics identical, candidate-exact here."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts")).filter(
        F.size("ts") >= DECON_SHINGLE_K
    )
    shingle_expr = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - DECON_SHINGLE_K + 1),
            lambda i: F.array_join(F.slice("ts", i, DECON_SHINGLE_K), " "),
        )
    )
    shingles = toks.select("doc_id", shingle_expr.alias("sh"))
    bench = (
        shingles.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("sh")
        .distinct()
    )
    hits = (
        shingles.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )
    return (
        d.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= DECON_OVERLAP_MIN).alias(
                "contaminated"
            ),
        )
    )


#: Repetition-filter geometry (the Gopher/RefinedWeb quality rule):
#: fraction of duplicate 3-token shingles above this => drop.
REP_SHINGLE_K = 3
REP_MAX_DUP_RATIO = 0.2


@register(
    "text_repetition_filter",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   list_transform(
                       range(1, len(ts) - {REP_SHINGLE_K} + 2),
                       i -> array_to_string(ts[i:i + {REP_SHINGLE_K} - 1], ' ')
                   ) AS gs
            FROM toks
            WHERE len(ts) >= {REP_SHINGLE_K}
        )
        SELECT doc_id,
               CAST(len(gs) AS BIGINT) AS n_grams,
               CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
               round(1.0 - len(list_distinct(gs)) * 1.0 / len(gs), 4)
                   AS dup_ratio,
               (1.0 - len(list_distinct(gs)) * 1.0 / len(gs))
                   <= {REP_MAX_DUP_RATIO} AS keep
        FROM grams
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition scoring — the Gopher-rule quality
    filter (drop docs whose duplicate 3-gram fraction exceeds 20%:
    boilerplate, keyword stuffing, degenerate generations). Entirely
    per-row higher-order expressions (transform -> array_distinct),
    zero shuffle, embarrassingly parallel at any scale — the cheapest
    of the quality signals and the first one a 100 TB curation pass
    should run, ahead of any pairwise dedup."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("ts")).filter(
        F.size("ts") >= REP_SHINGLE_K
    )
    grams = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - REP_SHINGLE_K + 1),
            lambda i: F.array_join(F.slice("ts", i, REP_SHINGLE_K), " "),
        ).alias("gs"),
    )
    n_g = F.size("gs").cast("long")
    n_d = F.size(F.array_distinct("gs")).cast("long")
    dup = F.lit(1.0) - n_d.cast("double") / n_g.cast("double")
    return grams.select(
        "doc_id",
        n_g.alias("n_grams"),
        n_d.alias("n_distinct"),
        F.round(dup, 4).alias("dup_ratio"),
        (dup <= F.lit(REP_MAX_DUP_RATIO)).alias("keep"),
    )


@register(
    "text_source_terms",
    sql="""
        WITH tok AS (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        src AS (
            SELECT source, token, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY source, token
        ),
        stot AS (
            SELECT source, CAST(sum(tf) AS BIGINT) AS s_total
            FROM src GROUP BY source
        ),
        corpus AS (
            SELECT token, CAST(sum(tf) AS BIGINT) AS ctf
            FROM src GROUP BY token
        ),
        ctot AS (SELECT CAST(sum(tf) AS BIGINT) AS c_total FROM src),
        scored AS (
            SELECT s.source, s.token, s.tf,
                   round((s.tf * 1.0 / t.s_total)
                         / (c.ctf * 1.0 / n.c_total), 6) AS lift
            FROM src s
            JOIN stot t USING (source)
            JOIN corpus c USING (token)
            CROSS JOIN ctot n
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY lift DESC, token) AS rk
            FROM scored
        )
        SELECT source, token, tf, lift, CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 5
    """,
)
def text_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per SOURCE by lift — the corpus-audit twin of
    per-document TF-IDF (`text_tfidf`): lift(source, term) =
    rate-in-source / rate-in-corpus, top 5 per source with a token
    tie-break. This is the 'what characterizes this domain' report a
    mixture audit prints next to `agg_entropy`'s diversity score.
    Cross-engine exactness: every rate is a ratio of exact integer
    sums, and the lift divides the two identically-associated doubles
    in both engines before one round(6).

    Scale shape: the data-sized work is the explode -> (source, token)
    pre-aggregate, map-side combined. Everything downstream is
    vocabulary-sized: per-source totals and corpus term counts
    broadcast back onto the counts relation, and the top-5 window runs
    WindowGroupLimit over vocab-sized groups. The lazy plan re-runs
    that pre-aggregate once per consumer (4 document scans); a
    checkpoint of it measured slower at sf0.1 (+0.25 s) and no clear
    win at x100 (SCALING.md, r16 adjudication 2)."""
    d = table(spark, sf_dir, "documents")
    src = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
    )
    stot = src.groupBy("source").agg(F.sum("tf").alias("s_total"))
    corpus = src.groupBy("token").agg(F.sum("tf").alias("ctf"))
    ctot = src.agg(F.sum("tf").alias("c_total"))
    scored = (
        src.join(F.broadcast(stot), "source")
        .join(F.broadcast(corpus), "token")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            "token",
            "tf",
            F.round(
                (F.col("tf") * 1.0 / F.col("s_total"))
                / (F.col("ctf") * 1.0 / F.col("c_total")),
                6,
            ).alias("lift"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift"), F.asc("token"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= 5
    )


@register(
    "text_readability",
    sql="""
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
                   AS n_syllables,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS n_sentences,
               206.835
                   - 1.015 * (len(string_split(text, ' '))
                              / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
                   - 84.6 * (len(regexp_extract_all(text, '[aeiouy]+'))
                             / len(string_split(text, ' '))) AS flesch
        FROM documents
        WHERE len(string_split(text, ' ')) > 0
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable
    heuristic (a syllable ~= one maximal [aeiouy]+ run — the standard
    dictionary-free approximation) and [.!?]+ runs as sentence breaks
    (clamped to >= 1 so period-free corpora stay defined). The score is
    the classic 206.835 - 1.015*(words/sentences) - 84.6*(syll/word).
    Everything is counting regexes over one row — pure JVM expressions,
    zero shuffle, trivially parallel at 100 TB. Counts are integers, so
    the score is a per-row deterministic double emitted UNROUNDED
    (identical IEEE arithmetic in both engines — the repo's per-row
    float discipline)."""
    d = table(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_syll = F.expr("regexp_count(text, '[aeiouy]+')")
    n_sent = F.greatest(F.expr("regexp_count(text, '[.!?]+')"), F.lit(1))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words / n_sent)
        - F.lit(84.6) * (n_syll / n_words)
    )
    return d.filter(n_words > 0).select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllables"),
        n_sent.cast("long").alias("n_sentences"),
        flesch.alias("flesch"),
    )


#: Zipf audit depth: ranks reported.
ZIPF_TOP_K = 50


@register(
    "text_zipf",
    sql=f"""
        WITH tokens AS (
            SELECT unnest(string_split(text, ' ')) AS token
            FROM documents
        ),
        freqs AS (
            SELECT token, CAST(count(*) AS BIGINT) AS freq
            FROM tokens WHERE token <> '' GROUP BY token
        ),
        ranked AS (
            SELECT token, freq,
                   CAST(row_number() OVER (ORDER BY freq DESC, token)
                        AS BIGINT) AS rank
            FROM freqs
        ),
        top AS (SELECT * FROM ranked WHERE rank <= {ZIPF_TOP_K}),
        top1 AS (SELECT freq AS f1 FROM top WHERE rank = 1)
        SELECT rank, token, freq,
               1.0 * freq * rank / t1.f1 AS zipf_dev
        FROM top, top1 t1
        ORDER BY rank
    """,
)
def text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus vocabulary: the top-K tokens by
    frequency with their rank and the deviation ratio freq*rank/freq_1
    (exactly 1.0 for an ideal Zipf corpus at every rank — systematic
    drift above/below flags templated or truncated text, the corpus-
    health check a pretraining pipeline runs next to the perplexity
    proxy). The vocabulary count is the only data-sized shuffle; the
    global top-K is TakeOrderedAndProject on (freq DESC, token) — no
    full vocabulary sort — and the rank-1 frequency is a one-row
    broadcast. The rank window is unpartitioned BY DESIGN: it runs on
    the K-row result of the top-K, a constant-size relation at any
    corpus scale (the single-partition warning it logs is about this
    50-row frame, not the data). Frequencies and ranks are integers; the deviation is a
    per-row division emitted UNROUNDED (identical IEEE both sides)."""
    d = table(spark, sf_dir, "documents")
    freqs = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    top = (
        freqs.orderBy(F.col("freq").desc(), "token")
        .limit(ZIPF_TOP_K)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "token"))
            .cast("long"),
        )
    )
    f1 = top.filter(F.col("rank") == 1).select(
        F.col("freq").alias("f1")
    )
    return (
        top.crossJoin(F.broadcast(f1))
        .select(
            "rank",
            "token",
            "freq",
            (F.lit(1.0) * F.col("freq") * F.col("rank") / F.col("f1")).alias(
                "zipf_dev"
            ),
        )
        .orderBy("rank")
    )


#: Gopher-rule quality gate bounds (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", §A1.1 —
#: public paper).  Word-count floor is adapted to the fixture corpus
#: (docs are 10-99 tokens; the published 50 floor would still
#: discriminate but 30 keeps both classes well-populated at sf0.001).
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_RATIO = 0.8
GOPHER_MIN_STOP_HITS = 2
#: the rule's "contains >= 2 of a short English stopword list"
_GOPHER_STOPS = ("the", "a", "is")


@register(
    "quality_gopher_rules",
    sql=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(ts) AS n_words,
                   list_sum(list_transform(ts, w -> length(w))) * 1.0
                       / len(ts) AS mwl,
                   len(list_filter(ts, w -> regexp_full_match(w, '[a-z]+')))
                       * 1.0 / len(ts) AS ar,
                   len(list_filter(ts, w -> w IN ('the', 'a', 'is'))) AS ns
            FROM t
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(mwl, 4) AS mean_word_len,
               round(ar, 4) AS alpha_ratio,
               CAST(ns AS BIGINT) AS n_stop_hits,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mwl BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                            AND {GOPHER_MAX_MEAN_WORD_LEN}
                AND ar >= {GOPHER_MIN_ALPHA_RATIO}
                AND ns >= {GOPHER_MIN_STOP_HITS}) AS keep
        FROM m
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule bundle (Rae et al. 2021 §A1.1) as one
    per-document gate: word-count bounds, mean-word-length bounds,
    alphabetic-word ratio, and a minimum stopword-hit count — the
    standard pre-dedup heuristic pass of a web-corpus curation
    pipeline (the batch generalization of the reference's only quality
    gate, the keyword filter at streamer.py:48).

    All four signals are per-row higher-order array expressions
    (aggregate / filter / rlike) inside whole-stage codegen: zero
    shuffle, embarrassingly parallel, linear at 100 TB.  Ratios are
    integer-over-integer divisions so the keep flag compares
    identically across engines; only the displayed columns are
    rounded.  spread() re-splits a sub-row-group scan so the four HOF
    kernels parallelize (r15 x100 finding, same as text_langid)."""
    d = spread(table(spark, sf_dir, "documents"))
    ts = F.split("text", " ")
    m = d.select(
        "doc_id",
        F.size(ts).alias("n_words"),
        (
            F.aggregate(ts, F.lit(0), lambda acc, w: acc + F.length(w)).cast(
                "double"
            )
            / F.size(ts)
        ).alias("mwl"),
        (
            # \A..\z anchors, not ^..$: Java's $ matches before a final
            # line terminator, so 'abc\n' would count as alphabetic on
            # Spark but not under DuckDB's regexp_full_match — the one
            # latent cross-engine divergence review found in this gate
            F.size(F.filter(ts, lambda w: w.rlike(r"\A[a-z]+\z"))).cast(
                "double"
            )
            / F.size(ts)
        ).alias("ar"),
        F.size(
            F.filter(ts, lambda w: w.isin(*_GOPHER_STOPS))
        ).alias("ns"),
    )
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mwl").between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("ar") >= GOPHER_MIN_ALPHA_RATIO)
        & (F.col("ns") >= GOPHER_MIN_STOP_HITS)
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mwl", 4).alias("mean_word_len"),
        F.round("ar", 4).alias("alpha_ratio"),
        F.col("ns").cast("long").alias("n_stop_hits"),
        keep.alias("keep"),
    )


#: Fixed BPE merge table (ordered, as a trained tokenizer ships it —
#: Sennrich et al. 2016, "Neural Machine Translation of Rare Words
#: with Subword Units", public paper).  Applying a FROZEN merge list
#: is the deterministic half of BPE (training learns the list; here
#: it is a constant, exactly like shipping a tokenizer.json).
_BPE_MERGES = (
    ("t", "h"),
    ("th", "e"),
    ("t", "a"),
    ("ta", "b"),
    ("l", "e"),
    ("r", "o"),
    ("a", "s"),
    ("h", "as"),
)


def _bpe_sql_word(w: str) -> str:
    """DuckDB expression: BPE token count of one word expression.

    Each merge is applied as TWO replace passes: a single left-to-right
    replace pass under-merges consecutive sites that share a separator
    space (' a b a b ' -> ' ab a b '), but after one pass every
    remaining site is isolated (its neighbor site merged), so a second
    pass reaches the exact list-scan non-overlapping fixpoint — the
    reference BPE semantics (property-tested against a pure list-scan
    twin in tests/test_properties.py)."""
    s = f"' ' || array_to_string(string_split({w}, ''), ' ') || ' '"
    for a, b in _BPE_MERGES:
        for _ in range(2):
            s = f"replace({s}, ' {a} {b} ', ' {a}{b} ')"
    return f"len(string_split(trim({s}), ' '))"


@register(
    "text_bpe_tokens",
    sql=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        )
        SELECT doc_id,
               CAST(len(ts) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(ts, w -> length(w)))
                    AS BIGINT) AS n_chars_sum,
               CAST(list_sum(list_transform(ts, w -> {_bpe_sql_word('w')}))
                    AS BIGINT) AS n_bpe,
               round(list_sum(list_transform(ts, w -> length(w))) * 1.0
                     / list_sum(list_transform(ts, w -> {_bpe_sql_word('w')})),
                     4) AS chars_per_token
        FROM t
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True BPE token counting with a frozen merge table: each word is
    exploded to characters and the ordered merge list is applied
    greedily left-to-right (replace-all per merge, the reference
    implementation's semantics), then surviving subword units are
    counted.  Upgrades `text_tokens`'s BPE-ish regex to the real
    algorithm; per-doc chars-per-token is the compression signal a
    token-budget planner needs.

    The merge arithmetic is per-row string/array expressions in
    whole-stage codegen — the merge loop unrolls into a fixed replace
    chain, so cost is O(merges x chars) per distinct document (the
    merge table broadcasts as literals).  Two scale moves on top of
    the plain map: (1) the unrolled chain is evaluated ONCE per row —
    the counts project in a first SELECT and `chars_per_token` derives
    from the aliased columns (CollapseProject keeps non-cheap
    higher-order expressions single-evaluated rather than re-inlining
    them); (2) the exact-dup pre-collapse (operators/collapse.py) —
    counts depend only on content, so the replace chain runs once per
    distinct text and re-joins to member doc_ids.  The collapse trades
    the pure map's zero shuffle for a partial-agg-collapsed content-key
    shuffle + 1:1 join-back; on a 30-50%-duplicate crawl that removes
    the majority of the tokenizer arithmetic, and on a dup-free corpus
    the overhead is the same modest constant the shingle family
    documents."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    grp = content_groups(d, "doc_id", "text", carry=("text",))
    ts = F.split("text", " ")

    def bpe_count(w: Column) -> Column:
        s = F.concat(F.lit(" "), F.array_join(F.split(w, ""), " "), F.lit(" "))
        for a, b in _BPE_MERGES:
            # two passes per merge = exact list-scan fixpoint (see
            # _bpe_sql_word; consecutive sites share a separator space)
            for _ in range(2):
                s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        return F.size(F.split(F.trim(s), " "))

    n_chars = F.aggregate(ts, F.lit(0), lambda acc, w: acc + F.length(w))
    n_bpe = F.aggregate(ts, F.lit(0), lambda acc, w: acc + bpe_count(w))
    per = grp.select(
        "gh",
        F.size(ts).cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars_sum"),
        n_bpe.cast("long").alias("n_bpe"),
    )
    members = d.select("doc_id", content_key(d, "text").alias("gh"))
    return members.join(per, "gh").select(
        "doc_id",
        "n_words",
        "n_chars_sum",
        "n_bpe",
        F.round(
            F.col("n_chars_sum").cast("double") / F.col("n_bpe"), 4
        ).alias("chars_per_token"),
    )


#: Bloom-prefilter geometry for the decontamination scale path: k
#: hash probes into a fixed 2^20 slot space.  FN-free by construction
#: (every benchmark shingle sets its k slots), FPs are removed by the
#: exact verify join, so results are bit-identical to
#: `text_decontaminate` — the oracle below is the SAME exact-overlap
#: SQL, which is the point.
DECON_BLOOM_BITS = 1 << 20
DECON_BLOOM_SEEDS = (42, 1337, 7777)


@register(
    "text_decontaminate_bloom",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        ),
        shingles AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(ts) - {DECON_SHINGLE_K} + 2),
                       i -> array_to_string(ts[i:i + {DECON_SHINGLE_K} - 1], ' ')
                   )) AS sh
            FROM toks
            WHERE len(ts) >= {DECON_SHINGLE_K}
        ),
        bench AS (
            SELECT DISTINCT sh FROM shingles
            WHERE doc_id % {DECON_BENCH_MOD} = 0
        ),
        hits AS (
            SELECT s.doc_id, CAST(count(DISTINCT s.sh) AS BIGINT) AS n_shared
            FROM shingles s JOIN bench b ON s.sh = b.sh
            WHERE s.doc_id % {DECON_BENCH_MOD} != 0
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
               coalesce(h.n_shared, 0) >= {DECON_OVERLAP_MIN} AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {DECON_BENCH_MOD} != 0
    """,
)
def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`text_decontaminate` with the production-scale prefilter its
    docstring promises: corpus shingles first pass a Bloom-style
    k-hash membership test against the benchmark set (k=3 probes into
    a fixed 2^20 slot space — the broadcast is a set of 8-byte slot
    ids, ~4x smaller than the shingle strings and CONSTANT-SIZE no
    matter how the benchmark grows), then only survivors hit the
    exact shingle-equality verify.  False negatives are impossible
    (every benchmark shingle sets its slots), false positives die in
    the verify join, so output is bit-identical to the exact operator
    and the oracle is the same exact-overlap SQL.

    Plan shape: three broadcast LEFT SEMI joins (one per probe) + one
    broadcast verify join on the corpus-shingle stream — no shuffle
    anywhere before the per-doc aggregate, same as the exact path;
    the semis just make the verify join's input a trickle at 100 TB.

    spread() (r15) re-splits the sub-row-group corpus scan: the x100
    fixture arrives as a 2-split file, so the 25M-shingle explode +
    3-hash probe chain — the operator's entire linear cost — ran on 2
    of 32 cores (107 s measured; 26 s after; SCALING.md r15 carries
    the before/after). The benchmark side is rebuilt per slot set (4
    subtrees) — measured irrelevant (each is a MOD-th of the corpus; a
    localCheckpoint-once variant A/B'd at x100 moved nothing and cost
    the final join its static broadcast, so it was rejected)."""
    d = spread(table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.split("text", " ").alias("ts")).filter(
        F.size("ts") >= DECON_SHINGLE_K
    )
    shingle_expr = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - DECON_SHINGLE_K + 1),
            lambda i: F.array_join(F.slice("ts", i, DECON_SHINGLE_K), " "),
        )
    )
    shingles = toks.select("doc_id", shingle_expr.alias("sh"))
    bench = (
        shingles.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("sh")
        .distinct()
    )

    def slot(col: Column, seed: int) -> Column:
        return F.pmod(
            F.xxhash64(F.concat(F.lit(str(seed)), col)), F.lit(DECON_BLOOM_BITS)
        )

    corpus_sh = shingles.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    for seed in DECON_BLOOM_SEEDS:
        slots = bench.select(slot(F.col("sh"), seed).alias("slot")).distinct()
        corpus_sh = corpus_sh.join(
            F.broadcast(slots),
            slot(F.col("sh"), seed) == F.col("slot"),
            "left_semi",
        )
    hits = (
        corpus_sh.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count_distinct("sh").alias("n_shared"))
    )
    return (
        d.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= DECON_OVERLAP_MIN).alias(
                "contaminated"
            ),
        )
    )


@register(
    "text_langid_confusion",
    sql="""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'is'))) AS s_en,
                   len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das'))) AS s_de,
                   len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'es'))) AS s_es,
                   len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'et'))) AS s_fr,
                   len(list_filter(string_split(text, ' '), t -> t IN ('de5', 'shi4', 'le5'))) AS s_zh
            FROM documents
        ),
        pred AS (
            SELECT lang,
                   CASE
                       WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                       WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                       WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es AND s_fr >= s_zh THEN 'fr'
                       WHEN s_zh > s_en AND s_zh > s_de AND s_zh > s_es AND s_zh > s_fr THEN 'zh'
                       ELSE 'en'
                   END AS predicted_lang
            FROM scored
        ),
        cells AS (
            SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
            FROM pred GROUP BY lang, predicted_lang
        )
        SELECT lang, predicted_lang, n,
               round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 4)
                   AS row_frac,
               lang = predicted_lang AS is_correct
        FROM cells
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation IN the engine: the confusion matrix of
    `text_langid`'s predictions against the labeled `lang` column,
    with per-true-language recall fractions — the eval artifact that
    tells a curation pipeline whether its language router is shipping
    Spanish docs to the French bucket before 100 TB of them are
    routed.  One data-sized aggregate collapses the corpus to the
    |langs|^2 confusion relation; the normalizing window then runs
    over that tiny relation.  Rates are integer-over-integer per cell
    => engine-exact.  Predictions come from calling `text_langid`
    itself, not a copy of its logic — the matrix always evaluates the
    classifier that ships, including any future marker or tie-break
    change."""
    cells = (
        text_langid(spark, sf_dir)
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 4).alias("row_frac"),
        (F.col("lang") == F.col("predicted_lang")).alias("is_correct"),
    )


#: Per-document fluency cut: documents whose smoothed bigram NLL (nats
#: per bigram, corpus-trained add-1 model) exceeds this are flagged for
#: the drop list. The comparison runs on the ROUNDED score, so the
#: flag is engine-exact wherever the score is.
LM_NLL_MAX = 6.5


@register(
    "text_lm_doc_nll",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents WHERE text <> ''
        ),
        occ AS (
            SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
            FROM toks, LATERAL unnest(range(1, len(ts))) AS u(i)
        ),
        doc_bi AS (
            SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c_doc
            FROM occ GROUP BY 1, 2, 3
        ),
        bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM occ GROUP BY 1, 2),
        uni AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bi GROUP BY 1),
        vocab AS (
            SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
                SELECT w1 AS w FROM bi UNION SELECT w2 FROM bi
            )
        )
        SELECT d.doc_id,
               CAST(sum(d.c_doc) AS BIGINT) AS n_bigrams,
               round(sum(d.c_doc * -ln((bi.c2 + 1.0) / (uni.c1 + vocab.v)))
                     / sum(d.c_doc), 4) AS nll,
               round(sum(d.c_doc * -ln((bi.c2 + 1.0) / (uni.c1 + vocab.v)))
                     / sum(d.c_doc), 4) <= {LM_NLL_MAX} AS is_fluent
        FROM doc_bi d
        JOIN bi ON d.w1 = bi.w1 AND d.w2 = bi.w2
        JOIN uni ON d.w1 = uni.w1
        CROSS JOIN vocab
        GROUP BY d.doc_id, vocab.v
    """,
    eager=True,
)
def text_lm_doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT language-model fluency score — the decision signal
    `text_perplexity_proxy` aggregates away: each document's mean
    negative log-likelihood (nats/bigram) under an add-1-smoothed
    bigram model trained on the corpus itself, plus the keep/drop flag
    a CCNet-style quality filter acts on. Smoothing matters here
    (unlike the per-lang proxy): a document is scored against bigrams
    the REST of the corpus made common, so unseen-continuation mass
    must be finite for the score to rank gibberish below prose.

    Scale shape: documents first collapse to one REPRESENTATIVE row
    per distinct content (operators/collapse.py; w = member count —
    identical contents score identically), then one explode of the
    collapsed relation yields per-rep distinct bigram counts; the model
    tables (bigram, unigram, vocab scalar) aggregate those counts
    WEIGHTED BY w, so corpus statistics count every copy exactly as the
    uncollapsed run would. Scores
    compute once per content and re-expand to members by a hash join.
    The NLL sum is occurrence-weighted over distinct bigrams (bounded
    terms per doc), rounded to 4 dp once, and the fluency flag
    compares the rounded score on both engines."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    grp = content_groups(d, "doc_id", "text", carry=("text",))
    toks = grp.select(
        F.col("gid").alias("rep_id"),
        F.col("m").alias("w"),
        F.split("text", " ").alias("ts"),
    )
    bigram_expr = F.expr(
        "IF(size(ts) >= 2, "
        "transform(sequence(1, size(ts) - 1), "
        "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2)), "
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>))"
    )
    rep_bi = (
        toks.select("rep_id", "w", F.explode(bigram_expr).alias("b"))
        .groupBy(
            "rep_id", "w", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
        )
        .agg(F.count("*").cast("long").alias("c_doc"))
        # three model consumers below — materialize the collapse once
        .localCheckpoint(eager=True)
    )
    bi = rep_bi.groupBy("w1", "w2").agg(
        F.sum(F.col("c_doc") * F.col("w")).cast("long").alias("c2")
    )
    uni = bi.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    vocab = (
        bi.select(F.col("w1").alias("w"))
        .union(bi.select(F.col("w2").alias("w")))
        .agg(F.count_distinct("w").cast("long").alias("v"))
    )
    nll_term = F.col("c_doc") * -F.log(
        (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("v"))
    )
    nll = F.round(F.sum(nll_term) / F.sum("c_doc"), 4)
    per_rep = (
        rep_bi.join(bi, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .groupBy("rep_id", "v")
        .agg(
            F.sum("c_doc").cast("long").alias("n_bigrams"),
            nll.alias("nll"),
            (nll <= LM_NLL_MAX).alias("is_fluent"),
        )
        .drop("v")
    )
    # re-expand the per-content score to every member document
    members = d.select("doc_id", content_key(d, "text").alias("gh")).join(
        grp.select("gh", F.col("gid").alias("rep_id")), "gh"
    )
    return members.join(per_rep, "rep_id").select(
        "doc_id", "n_bigrams", "nll", "is_fluent"
    )


#: Drift report size: the top tokens by absolute KL contribution. The
#: report is the TakeOrdered top slice of a vocabulary-sized relation.
DRIFT_TOP = 20


@register(
    "text_distribution_drift",
    sql=f"""
        WITH toks AS (
            SELECT doc_id % 2 AS snap, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE text <> ''
        ),
        counts AS (
            SELECT tok,
                   CAST(count(*) FILTER (snap = 0) AS BIGINT) AS c_a,
                   CAST(count(*) FILTER (snap = 1) AS BIGINT) AS c_b
            FROM toks GROUP BY tok
        ),
        tot AS (
            SELECT sum(c_a) AS t_a, sum(c_b) AS t_b,
                   count(*) AS v
            FROM counts
        )
        SELECT tok, c_a, c_b,
               round((c_a + 1.0) / (t_a + v), 8) AS p_a,
               round((c_b + 1.0) / (t_b + v), 8) AS p_b,
               round((c_a + 1.0) / (t_a + v)
                     * ln(((c_a + 1.0) / (t_a + v))
                          / ((c_b + 1.0) / (t_b + v))), 8) AS kl_term
        FROM counts, tot
        ORDER BY abs(round((c_a + 1.0) / (t_a + v)
                     * ln(((c_a + 1.0) / (t_a + v))
                          / ((c_b + 1.0) / (t_b + v))), 8)) DESC, tok
        LIMIT {DRIFT_TOP}
    """,
)
def text_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus snapshots — the
    monitoring readout a data-version bump gets before training
    restarts on it: per-token add-1-smoothed probabilities under
    snapshot A and B and each token's signed contribution to
    KL(A || B), top DRIFT_TOP by magnitude.  The deterministic
    doc_id-parity split stands in for the two corpus versions (the
    operator is a pure function of two tagged relations; swap the tag
    expression for a real snapshot column in production).

    Scale shape: one corpus-sized explode collapses into per-token
    paired counts (map-side combine, count FILTER — one pass, no
    self-join of snapshots); totals and vocab size are a 1-row
    aggregate OF that relation, broadcast back; the report is a
    TakeOrdered top slice.  Each KL term is scalar arithmetic on one
    row's integers (no cross-row float accumulation), rounded once to
    8 dp before ranking with a token tie-break — engine-exact."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = d.select(
        (F.col("doc_id") % 2).alias("snap"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(
        F.count_if(F.col("snap") == 0).cast("long").alias("c_a"),
        F.count_if(F.col("snap") == 1).cast("long").alias("c_b"),
    )
    tot = counts.agg(
        F.sum("c_a").alias("t_a"),
        F.sum("c_b").alias("t_b"),
        F.count("*").alias("v"),
    )
    p_a = (F.col("c_a") + F.lit(1.0)) / (F.col("t_a") + F.col("v"))
    p_b = (F.col("c_b") + F.lit(1.0)) / (F.col("t_b") + F.col("v"))
    kl = F.round(p_a * F.log(p_a / p_b), 8)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "c_a",
            "c_b",
            F.round(p_a, 8).alias("p_a"),
            F.round(p_b, 8).alias("p_b"),
            kl.alias("kl_term"),
        )
        .orderBy(F.abs(F.col("kl_term")).desc(), "tok")
        .limit(DRIFT_TOP)
    )


#: DSIR hashed-feature space size. 1024 buckets is the paper's regime
#: scaled to the fixture vocabulary (the method is insensitive to B as
#: long as collisions are spread; at 100 TB you'd raise it to 1e4-1e5,
#: which changes nothing structurally — the model stays a broadcastable
#: B-row table).
DSIR_BUCKETS = 1024


@register(
    "quality_dsir_importance",
    sql=f"""
        WITH docs AS (
            SELECT doc_id, text, lang,
                   md5(text) AS chash
            FROM documents WHERE text <> ''
        ),
        grp AS (
            SELECT chash,
                   min(text) AS text,
                   CAST(count(*) AS BIGINT) AS w_all,
                   CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS w_tgt
            FROM docs GROUP BY chash
        ),
        occ AS (
            SELECT chash, w_all, w_tgt,
                   CAST('0x' || substr(md5(u.tok), 1, 15) AS BIGINT)
                       % {DSIR_BUCKETS} AS bucket
            FROM grp, LATERAL unnest(string_split(text, ' ')) AS u(tok)
        ),
        rep_b AS (
            SELECT chash, w_all, w_tgt, bucket,
                   CAST(count(*) AS BIGINT) AS c
            FROM occ GROUP BY 1, 2, 3, 4
        ),
        model AS (
            SELECT bucket,
                   CAST(sum(c * w_tgt) AS BIGINT) AS ct,
                   CAST(sum(c * w_all) AS BIGINT) AS cr
            FROM rep_b GROUP BY bucket
        ),
        tot AS (
            SELECT CAST(sum(ct) AS BIGINT) AS tt,
                   CAST(sum(cr) AS BIGINT) AS tr
            FROM model
        ),
        scored AS (
            SELECT r.chash,
                   CAST(sum(r.c) AS BIGINT) AS n_tokens,
                   round(sum(r.c * (
                       ln((m.ct + 1.0) / (t.tt + {DSIR_BUCKETS}))
                     - ln((m.cr + 1.0) / (t.tr + {DSIR_BUCKETS}))
                   )) / sum(r.c), 4) AS logw
            FROM rep_b r JOIN model m USING (bucket) CROSS JOIN tot t
            GROUP BY r.chash
        ),
        thr AS (
            SELECT round(sum(g.w_all * s.logw) / sum(g.w_all), 4) AS t
            FROM scored s JOIN grp g USING (chash)
        )
        SELECT d.doc_id, s.n_tokens, s.logw, s.logw >= thr.t AS selected
        FROM docs d JOIN scored s USING (chash) CROSS JOIN thr
    """,
    eager=True,
)
def quality_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by its hashed-n-gram importance log-weight
    log p_target(x) - log p_raw(x) under two bag-of-hashed-features
    unigram models, then keep documents that lean toward the target
    distribution. The target here is the corpus's English slice (the
    stand-in for "looks like Wikipedia" in the paper); the raw model
    is the whole corpus. This is the principled replacement for
    hand-tuned quality rules (`quality_gopher_rules`) when you have
    target-domain EXAMPLES instead of target-domain heuristics — the
    third selection signal next to the bigram-fluency cut
    (`text_lm_doc_nll`) and the corpus-drift report
    (`text_distribution_drift`).

    Scale shape, all linear: exact-dup pre-collapse (md5(text)
    groups, member counts split into w_all / w_tgt so the two models
    weigh every COPY exactly as an uncollapsed run would — target
    membership lives on the member row's lang label, not the
    content); ONE explode of the collapsed reps into hashed buckets
    (portable md5-derived hash, same conv trick as `dedup_minhash`,
    so the bucketing replays bit-identically in the oracle); per-rep
    bucket counts; then BOTH models come from one B-row aggregate of
    those counts (ct = target-weighted, cr = all-weighted) with
    add-1 smoothing over B buckets. The model table is B rows —
    broadcastable at any corpus size, which is DSIR's whole point:
    selection over 100 TB is a map-side join against a dictionary
    that fits in L2. Scores compute once per distinct content and
    re-expand to members by hash join. The keep flag compares each
    4-dp-rounded score against the corpus-mean affinity (a broadcast
    scalar, itself rounded — the operational stand-in for the paper's
    importance-resampling acceptance band), on both engines."""
    d = (
        table(spark, sf_dir, "documents")
        .filter(F.col("text") != "")
        .select("doc_id", "text", "lang", F.md5("text").alias("chash"))
    )
    grp = d.groupBy("chash").agg(
        F.min("text").alias("text"),
        F.count("*").cast("long").alias("w_all"),
        F.count_if(F.col("lang") == "en").cast("long").alias("w_tgt"),
    )
    occ = grp.select(
        "chash",
        "w_all",
        "w_tgt",
        F.explode(F.split("text", " ")).alias("tok"),
    ).select(
        "chash",
        "w_all",
        "w_tgt",
        (
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    rep_b = (
        occ.groupBy("chash", "w_all", "w_tgt", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
        # consumed twice below (model aggregate + per-rep score join),
        # and model/tot nest inside scored, so the lazy plan re-runs
        # this tokenize-explode-aggregate subtree ~6x. UNCONDITIONAL
        # checkpoint: unlike the size-gated subtrees, the recompute
        # dominates even at fixture scale (r16 A/B, gate forced both
        # ways: lazy 3.25 s vs checkpointed 1.70 s min-of-4 at sf0.1).
        .localCheckpoint(eager=True)
    )
    model = rep_b.groupBy("bucket").agg(
        F.sum(F.col("c") * F.col("w_tgt")).cast("long").alias("ct"),
        F.sum(F.col("c") * F.col("w_all")).cast("long").alias("cr"),
    )
    tot = model.agg(
        F.sum("ct").cast("long").alias("tt"),
        F.sum("cr").cast("long").alias("tr"),
    )
    term = F.col("c") * (
        F.log((F.col("ct") + F.lit(1.0)) / (F.col("tt") + F.lit(float(DSIR_BUCKETS))))
        - F.log((F.col("cr") + F.lit(1.0)) / (F.col("tr") + F.lit(float(DSIR_BUCKETS))))
    )
    scored = (
        rep_b.join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(tot))
        .groupBy("chash", "w_all")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(F.sum(term) / F.sum("c"), 4).alias("logw"),
        )
        # consumed twice (threshold scalar + final join): one content-
        # sized relation, materialized once (same A/B as rep_b)
        .localCheckpoint(eager=True)
    )
    # selection cut = the corpus-mean affinity (per-DOC mean, so the
    # scalar weights each content by its copy count) — the operational
    # stand-in for the paper's resampling acceptance band
    thr = scored.agg(
        F.round(
            F.sum(F.col("w_all") * F.col("logw")) / F.sum("w_all"), 4
        ).alias("t")
    )
    return (
        d.select("doc_id", "chash")
        .join(scored, "chash")
        .crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "n_tokens",
            "logw",
            (F.col("logw") >= F.col("t")).alias("selected"),
        )
    )


@register(
    "text_collocation_pmi",
    sql="""
        WITH toks AS (
            SELECT string_split(text, ' ') AS ts FROM documents
        ),
        uni AS (
            SELECT u.tok, CAST(count(*) AS BIGINT) AS c_tok
            FROM toks, unnest(ts) AS u(tok)
            WHERE u.tok <> '' GROUP BY 1
        ),
        bi AS (
            SELECT ts[CAST(i AS INT)] AS w1, ts[CAST(i + 1 AS INT)] AS w2,
                   CAST(count(*) AS BIGINT) AS c_pair
            FROM toks, unnest(range(1, len(ts))) AS u(i)
            WHERE len(ts) >= 2 AND ts[CAST(i AS INT)] <> ''
              AND ts[CAST(i + 1 AS INT)] <> ''
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT (SELECT CAST(sum(c_tok) AS BIGINT) FROM uni) AS t_uni,
                   (SELECT CAST(sum(c_pair) AS BIGINT) FROM bi) AS t_bi
        )
        SELECT w1, w2, c_pair,
               CAST(c_pair AS DOUBLE) * CAST(t_uni AS DOUBLE)
                   * CAST(t_uni AS DOUBLE)
               / (CAST(u1.c_tok AS DOUBLE) * CAST(u2.c_tok AS DOUBLE)
                  * CAST(t_bi AS DOUBLE)) AS pmi_lift
        FROM bi
        JOIN uni u1 ON bi.w1 = u1.tok
        JOIN uni u2 ON bi.w2 = u2.tok
        CROSS JOIN tot
        WHERE c_pair >= 5
        ORDER BY pmi_lift DESC, w1, w2
        LIMIT 50
    """,
)
def text_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by pointwise mutual information — the
    corpus phrase-mining pass (feature extraction for tokenizer merge
    rules, stop-phrase lists, entity candidates). Reported as
    ``pmi_lift`` = p(xy) / (p(x)p(y)) = exp(PMI): the identical
    ranking with NO transcendental call — library log differs in the
    last ulp across engines, a ratio of integer counts in one fixed
    double expression does not, so the lift is emitted UNROUNDED.

    Scale shape: unigram and bigram counts are two map-side-combined
    token-key aggregates (vocabulary-sized results); the lift join is
    vocab-row x 2 equi-joins; top-50 is TakeOrderedAndProject over a
    vocab^2-bounded relation (the same vocab-top-K bound text_zipf
    documents), with (w1, w2) as the deterministic tie-break. A
    min-count floor of 5 is applied BEFORE ranking so rare-pair noise
    (the classic PMI failure mode) never reaches the shortlist. The
    lazy plan recomputes the unigram counts for each of their three
    consumers and the bigram counts for each of their two (5 document
    scans); checkpointing both measured slower at sf0.1 (+0.25 s) and
    no clear win at x100 (SCALING.md, r16 adjudication 2)."""
    toks = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("ts")
    )
    uni = (
        toks.select(F.explode("ts").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c_tok"))
    )
    bigrams = F.expr(
        "IF(size(ts) >= 2, "
        "transform(sequence(1, size(ts) - 1), "
        "i -> struct(element_at(ts, i) AS w1, element_at(ts, i+1) AS w2)), "
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>))"
    )
    bi = (
        toks.select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_pair"))
    )
    tot = uni.agg(F.sum("c_tok").cast("long").alias("t_uni")).crossJoin(
        bi.agg(F.sum("c_pair").cast("long").alias("t_bi"))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c_tok").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c_tok").alias("c2"))
    lift = (
        F.col("c_pair").cast("double")
        * F.col("t_uni").cast("double")
        * F.col("t_uni").cast("double")
        / (
            F.col("c1").cast("double")
            * F.col("c2").cast("double")
            * F.col("t_bi").cast("double")
        )
    )
    return (
        bi.filter(F.col("c_pair") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c_pair", lift.alias("pmi_lift"))
        .orderBy(F.desc("pmi_lift"), "w1", "w2")
        .limit(50)
    )


#: CCNet-style bucketing: documents ranked by a corpus-trained
#: commonness score, split head / middle / tail at the 1/3 and 2/3
#: cumulative thresholds. Score = average corpus frequency of the
#: document's bigrams, carried as exact integer milli-units
#: ((sum_c2 * 1000) DIV n_bigrams) so thresholds and bucket
#: membership are integer-deterministic on both engines.
CCNET_SCALE = 1000


@register(
    "text_ccnet_bucket",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                   string_split(text, ' ') AS ts
            FROM documents WHERE text <> ''
        ),
        bigrams AS (
            SELECT doc_id, n_tokens, ts[i] AS w1, ts[i + 1] AS w2
            FROM toks, LATERAL unnest(range(1, len(ts))) AS u(i)
        ),
        bi AS (SELECT w1, w2, count(*) AS c2 FROM bigrams GROUP BY 1, 2),
        per_doc AS (
            SELECT b.doc_id,
                   CAST(max(b.n_tokens) AS BIGINT) AS n_tokens,
                   CAST((sum(bi.c2) * {CCNET_SCALE}) // count(*) AS BIGINT)
                       AS score_milli
            FROM bigrams b JOIN bi ON b.w1 = bi.w1 AND b.w2 = bi.w2
            GROUP BY b.doc_id
        ),
        n AS (SELECT count(*) AS n_docs FROM per_doc),
        dist AS (
            SELECT score_milli, count(*) AS cnt FROM per_doc GROUP BY 1
        ),
        cum AS (
            SELECT score_milli,
                   sum(cnt) OVER (ORDER BY score_milli DESC) AS cum_ge
            FROM dist
        ),
        thresholds AS (
            SELECT max(CASE WHEN cum_ge >= CAST(ceil(n_docs / 3.0) AS BIGINT)
                            THEN score_milli END) AS t1,
                   max(CASE WHEN cum_ge >= CAST(ceil(2 * n_docs / 3.0) AS BIGINT)
                            THEN score_milli END) AS t2
            FROM cum, n
        )
        SELECT CASE WHEN score_milli >= t1 THEN 'head'
                    WHEN score_milli >= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               CAST(min(score_milli) AS BIGINT) AS min_score_milli,
               CAST(max(score_milli) AS BIGINT) AS max_score_milli
        FROM per_doc, thresholds
        GROUP BY 1
    """,
    # r15: the single-pass distinct-score census is localCheckpointed
    # at plan time (score-grid-bounded), so fn() performs a plan-time
    # job.
    eager=True,
)
def text_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: every document gets a
    corpus-trained commonness score (mean corpus frequency of its
    bigrams — the frequency leg of the perplexity family; low = rare
    or gibberish, high = boilerplate-common), and the corpus splits at
    the 1/3 and 2/3 cumulative thresholds. CCNet keeps head+middle
    for LM training and routes tail to inspection; this operator
    emits the per-bucket census that decision reads.

    Scale discipline: there is NO global sort of the corpus. Scores
    quantize to exact integer milli-units, the threshold scan runs
    over the collapsed DISTINCT-SCORE relation (bounded by the score
    grid, not the corpus), and bucket assignment is a broadcast of
    two integers compared map-side. Ties at a threshold land whole —
    both engines agree exactly because every comparison is integer.
    Documents with no bigrams (< 2 tokens) are out of scope, as in
    text_perplexity_proxy."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = d.select(
        "doc_id",
        F.split("text", " ").alias("ts"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    bigram_expr = F.expr(
        "IF(size(ts) >= 2, "
        "transform(sequence(1, size(ts) - 1), "
        "i -> struct(element_at(ts, i) AS w1, element_at(ts, i + 1) AS w2)), "
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>))"
    )
    bg = toks.select(
        "doc_id", "n_tokens", F.explode(bigram_expr).alias("b")
    ).select("doc_id", "n_tokens", "b.w1", "b.w2")
    bi = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    per_doc = (
        bg.join(bi, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").cast("long").alias("n_tokens"),
            F.expr(f"CAST(sum(c2) * {CCNET_SCALE} DIV count(*) AS BIGINT)")
            .alias("score_milli"),
        )
    )
    # Per-DISTINCT-SCORE stats, computed in ONE pass over per_doc and
    # checkpointed (r15): the threshold scan, the doc count, AND the
    # final census all derive from this score-grid-bounded relation,
    # so the bigram explode + corpus-frequency join + per-doc
    # aggregate subtree runs exactly once (it previously re-ran per
    # consumer, 3x). All regrouped quantities are exact long sums —
    # reassociation cannot change them — and min/max per bucket over
    # distinct scores equal min/max over docs.
    stats = (
        per_doc.groupBy("score_milli")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tokens").cast("long").alias("tok_sum"),
        )
        .localCheckpoint(eager=True)
    )
    cum = stats.select(
        "score_milli",
        F.sum("cnt")
        .over(Window.orderBy(F.desc("score_milli")))
        .alias("cum_ge"),
    )
    n = stats.agg(F.sum("cnt").cast("long").alias("n_docs"))
    thresholds = cum.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.when(
                F.col("cum_ge")
                >= F.ceil(F.col("n_docs") / 3.0).cast("long"),
                F.col("score_milli"),
            )
        ).alias("t1"),
        F.max(
            F.when(
                F.col("cum_ge")
                >= F.ceil(2 * F.col("n_docs") / 3.0).cast("long"),
                F.col("score_milli"),
            )
        ).alias("t2"),
    )
    return (
        stats.crossJoin(F.broadcast(thresholds))
        .select(
            F.when(F.col("score_milli") >= F.col("t1"), "head")
            .when(F.col("score_milli") >= F.col("t2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
            "cnt",
            "tok_sum",
            "score_milli",
        )
        .groupBy("bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.sum("tok_sum").cast("long").alias("total_tokens"),
            F.min("score_milli").cast("long").alias("min_score_milli"),
            F.max("score_milli").cast("long").alias("max_score_milli"),
        )
    )


#: KWIC geometry: the fixed target term and the context radius.
KWIC_TERM = "spark"
KWIC_RADIUS = 3


@register(
    "text_kwic",
    sql=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts
            FROM documents WHERE text <> ''
        )
        SELECT doc_id,
               CAST(u.i AS BIGINT) AS pos,
               coalesce(array_to_string(
                   ts[greatest(1, u.i - {KWIC_RADIUS}):u.i - 1], ' '), '')
                   AS left_ctx,
               coalesce(array_to_string(
                   ts[u.i + 1:least(len(ts), u.i + {KWIC_RADIUS})], ' '), '')
                   AS right_ctx
        FROM toks, LATERAL unnest(range(1, len(ts) + 1)) AS u(i)
        WHERE ts[u.i] = '{KWIC_TERM}'
    """,
)
def text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) concordance: every occurrence of the
    tracked term with its N-token left/right context — the corpus-
    linguistics view behind 'how is this term actually used', and the
    drill-down the reference's keyword-track filter (R2,
    streamer.py:48) begs for once matches exist. One row per
    OCCURRENCE (not per doc), positions 1-based.

    Implementation is pure array algebra — posexplode to get
    (position, token), slice for the context windows, no regex and no
    Python — so the scan stays in codegen and the explode fan-out is
    the token count, collapsed immediately by the term filter (which
    Catalyst pushes against the exploded relation). At 100 TB: narrow
    map + filter, output proportional to term frequency only."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = d.select("doc_id", F.split("text", " ").alias("ts"))
    ex = toks.select(
        "doc_id", "ts", F.posexplode("ts").alias("pos0", "tok")
    ).filter(F.col("tok") == KWIC_TERM)
    pos = F.col("pos0") + 1  # 1-based
    left = F.slice(
        "ts",
        F.greatest(F.lit(1), pos - KWIC_RADIUS),
        F.greatest(F.lit(0), pos - F.greatest(F.lit(1), pos - KWIC_RADIUS)),
    )
    right = F.slice(
        "ts",
        pos + 1,
        F.greatest(
            F.lit(0),
            F.least(F.size("ts"), pos + KWIC_RADIUS) - pos,
        ),
    )
    return ex.select(
        "doc_id",
        pos.cast("long").alias("pos"),
        F.array_join(left, " ").alias("left_ctx"),
        F.array_join(right, " ").alias("right_ctx"),
    )


#: Paragraph granularity for cross-document paragraph dedup: fixed
#: 16-token chunks (the fixture corpus is single-line word soup, so a
#: deterministic fixed-width chunking plays the role real paragraph
#: boundaries play on a crawl).
PARA_CHUNK_TOKENS = 16


@register(
    "text_paragraph_dedup",
    eager=True,
    sql=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        chunks AS (
            SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
                   array_to_string(
                       w[ci * {PARA_CHUNK_TOKENS} + 1 :
                         ci * {PARA_CHUNK_TOKENS} + {PARA_CHUNK_TOKENS}],
                       ' ') AS chunk
            FROM toks,
                 LATERAL unnest(range(0,
                     (len(w) + {PARA_CHUNK_TOKENS} - 1)
                         // {PARA_CHUNK_TOKENS})) t(ci)
        ),
        ranked AS (
            SELECT doc_id, chunk_idx, chunk,
                   row_number() OVER (
                       PARTITION BY chunk
                       ORDER BY doc_id, chunk_idx) AS rn
            FROM chunks
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
               coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                            FILTER (WHERE rn = 1), '') AS dedup_text
        FROM ranked
        GROUP BY doc_id
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-granularity exact dedup with document reassembly —
    the Lee et al. ("Deduplicating Training Data Makes Language Models
    Better") move that document-level dedup misses: boilerplate
    paragraphs repeated across otherwise-distinct pages (headers,
    license blocks, navigation) survive doc-hash dedup but still get
    memorized. Each document is split into fixed PARA_CHUNK_TOKENS
    chunks; the FIRST occurrence of each distinct chunk corpus-wide
    (ordered by doc_id, chunk_idx — deterministic, engine-free) is
    kept, every repeat is dropped, and documents are reassembled from
    their surviving chunks in order. Output per doc: chunk counts and
    the deduplicated text ('' when every chunk was boilerplate).

    Scale shape: tokenize -> posexplode chunks (linear) -> ONE shuffle
    partitioned by chunk content for the first-occurrence window ->
    one groupBy(doc_id) to reassemble. No pair generation at all —
    paragraph dedup is embarrassingly shuffle-shaped, which is why
    production crawls run it at full corpus size where MinHash needs
    banding. The window's per-chunk ordering (doc_id, chunk_idx) is a
    total order, so keeper choice is deterministic on both engines.

    EXACT-DUPLICATE PRE-COLLAPSE (operators/collapse.py; the x25
    replication stress showed this key at 2.52x wall for 25x data
    before it): a non-representative copy d of text T can never keep a
    chunk, because its group's representative rep(d) = min(doc_id)
    carries the identical chunk at the identical chunk_idx, and
    (rep(d), idx) < (d, idx) in the window's total order. Hence on a
    duplicate-heavy corpus the chunk window runs over ONE
    representative per distinct text and the expansion is exact:
      (a) the global keeper of any chunk c is always attained AT a
          representative (any non-rep occurrence (d, i) is dominated
          by its rep's (rep(d), i)), so the rep-only window computes
          the same rn=1 set as the full window restricted to reps;
      (b) a rep's output row is therefore byte-identical to its row
          in the direct chain;
      (c) every non-rep copy emits (n_chunks(T), 0, '') — n_chunks is
          a pure function of T, shared via the rep.
    No per-group id list is ever collected (membership flows through a
    slim (doc_id, content-hash) join), so the collapse is safe at ANY
    copy multiplicity — a viral million-copy document costs one rep
    row plus a broadcast-joinable group relation. Dup-free corpora
    (the sf fixtures) skip the bookkeeping after one cheap count pair;
    the duplicated regime is pinned by a planted copy-level-reference
    equality test (tests/test_llm_ops.py)."""
    raw = table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")

    def chunk_dedup(rel: DataFrame) -> DataFrame:
        """The direct chain: per-doc chunk explode -> first-occurrence
        window -> reassembly. Runs over whatever (doc_id, text)
        relation it is given — the whole corpus on the dup-free path,
        representatives only on the collapsed path."""
        chunks = rel.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.floor(
                            (F.size(w) + PARA_CHUNK_TOKENS - 1)
                            / PARA_CHUNK_TOKENS
                        ).cast("int")
                        - 1,
                    ),
                    lambda ci: F.array_join(
                        F.slice(
                            w, ci * PARA_CHUNK_TOKENS + 1, PARA_CHUNK_TOKENS
                        ),
                        " ",
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        ).select(
            "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk"
        )
        win = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
        ranked = chunks.withColumn("rn", F.row_number().over(win))
        kept_struct = F.when(
            F.col("rn") == 1, F.struct("chunk_idx", "chunk")
        )  # NULL (dropped by collect_list) when not kept
        return ranked.groupBy("doc_id").agg(
            F.count("*").alias("n_chunks"),
            F.count_if(F.col("rn") == 1).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("dedup_text"),
        )

    if not dup_heavy(raw, "text"):
        return chunk_dedup(spread(raw))

    # --- collapsed path: the only corpus-wide work is the slim
    # (doc_id, gh) projection, its group aggregate, and two hash joins
    # expanding group results back to members — the chunk explode and
    # window run on n_distinct rows, not n_docs. Only the rep relation
    # feeding the chunk window is spread(): the slim projection's
    # groupBy supplies its own exchange, and repartitioning the full
    # duplicated text payload would be pure shuffle waste.
    slim = raw.select("doc_id", content_key(raw, "text").alias("gh"))
    groups = content_groups(raw, "doc_id", "text").select("gh", "gid")
    reps = spread(
        raw.join(groups.select(F.col("gid").alias("doc_id")), "doc_id")
    )
    rep_out = chunk_dedup(reps).withColumnRenamed("doc_id", "gid")
    return (
        slim.join(groups, "gh")
        .join(rep_out, "gid")
        .select(
            "doc_id",
            "n_chunks",
            F.when(F.col("doc_id") == F.col("gid"), F.col("n_kept"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.when(F.col("doc_id") == F.col("gid"), F.col("dedup_text"))
            .otherwise(F.lit(""))
            .alias("dedup_text"),
        )
    )


@register(
    "text_tokenizer_fertility",
    sql=f"""
        WITH t AS (
            SELECT lang, string_split(text, ' ') AS ts FROM documents
        ),
        per_doc AS (
            SELECT lang,
                   len(ts) AS n_words,
                   list_sum(list_transform(ts, w -> length(w))) AS n_chars,
                   list_sum(list_transform(ts, w -> {_bpe_sql_word('w')}))
                       AS n_bpe,
                   len(list_filter(ts, w -> {_bpe_sql_word('w')} = 1))
                       AS n_single
            FROM t
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
               CAST(sum(n_bpe) AS DOUBLE) / sum(n_words) AS fertility,
               CAST(sum(n_chars) AS DOUBLE) / sum(n_bpe) AS chars_per_token,
               CAST(sum(n_single) AS DOUBLE) / sum(n_words)
                   AS single_token_word_rate
        FROM per_doc
        GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY panel per language — the standard tokenizer
    eval (tokens-per-word, chars-per-token, fraction of words kept
    whole) that decides whether a tokenizer under-serves a language: a
    lang with fertility 2x the corpus mean pays double the sequence
    length for the same content, which skews both training cost and
    effective context. Reuses the frozen `_BPE_MERGES` table of
    `text_bpe_tokens`, so the two operators describe the SAME
    tokenizer at doc and corpus granularity.

    Exactness: all sums are exact integers; each ratio is ONE IEEE
    division of two exact longs, bit-identical on both engines, so the
    ratios ship UNROUNDED (the repo's per-row-double discipline).
    Scale shape: one narrow map (the unrolled merge chain, evaluated
    once per word via a single transform) into one map-side-combined
    groupBy(lang) — no join, no second pass; at 100 TB this is a
    single corpus scan with a 5-row result."""
    # spread(): a sub-row-group parquet file arrives as ONE split and
    # would serialize the per-word merge chain onto one core
    d = spread(table(spark, sf_dir, "documents").select("lang", "text"))
    ts = F.split("text", " ")

    def bpe_count(w: Column) -> Column:
        s = F.concat(F.lit(" "), F.array_join(F.split(w, ""), " "), F.lit(" "))
        for a, b in _BPE_MERGES:
            for _ in range(2):
                s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        return F.size(F.split(F.trim(s), " "))

    cnts = F.transform(ts, bpe_count)
    per = d.select(
        "lang",
        F.size(ts).alias("n_words"),
        F.aggregate(ts, F.lit(0), lambda acc, w: acc + F.length(w)).alias(
            "n_chars"
        ),
        F.aggregate(cnts, F.lit(0), lambda acc, c: acc + c).alias("n_bpe"),
        F.size(F.filter(cnts, lambda c: c == 1)).alias("n_single"),
    )
    agg = per.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_bpe").cast("long").alias("n_bpe"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.sum("n_single").cast("long").alias("n_single"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe",
        (F.col("n_bpe").cast("double") / F.col("n_words")).alias("fertility"),
        (F.col("n_chars").cast("double") / F.col("n_bpe")).alias(
            "chars_per_token"
        ),
        (F.col("n_single").cast("double") / F.col("n_words")).alias(
            "single_token_word_rate"
        ),
    )


#: Split-contamination audit geometry: shingle width, the train-side
#: document-frequency cap that bounds join fanout (boilerplate
#: shingles carry no leakage signal), and the flag threshold.
SPLITCON_K = 5
SPLITCON_DF_CAP = 64
SPLITCON_MIN = 2
# hex-prefix split thresholds, content-keyed (same geometry as
# sampling.sample_split_by_content: ~80% train)
SPLITCON_TRAIN_HI = "cd"


@register(
    "quality_split_contamination",
    sql=f"""
        WITH labeled AS (
            SELECT doc_id, text,
                   substr(md5(sha256(text)), 1, 2) < '{SPLITCON_TRAIN_HI}'
                       AS is_train
            FROM documents
        ),
        toks AS (
            SELECT doc_id, is_train, string_split(text, ' ') AS ts
            FROM labeled
        ),
        shingles AS (
            SELECT doc_id, is_train,
                   unnest(list_transform(
                       range(1, len(ts) - {SPLITCON_K} + 2),
                       i -> array_to_string(ts[i:i + {SPLITCON_K} - 1], ' ')
                   )) AS sh
            FROM toks
            WHERE len(ts) >= {SPLITCON_K}
        ),
        train_idx AS (
            SELECT sh FROM shingles WHERE is_train
            GROUP BY sh
            HAVING count(DISTINCT doc_id) <= {SPLITCON_DF_CAP}
        ),
        hits AS (
            SELECT s.doc_id, CAST(count(DISTINCT s.sh) AS BIGINT) AS n_shared
            FROM shingles s JOIN train_idx t ON s.sh = t.sh
            WHERE NOT s.is_train
            GROUP BY s.doc_id
        )
        SELECT l.doc_id,
               CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
               coalesce(h.n_shared, 0) >= {SPLITCON_MIN} AS contaminated
        FROM labeled l LEFT JOIN hits h ON l.doc_id = h.doc_id
        WHERE NOT l.is_train
    """,
)
def quality_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONTAMINATION audit: for every EVAL document (the ~20%
    outside the content-keyed train split), count distinct
    SPLITCON_K-gram shingles that also occur in ANY train document —
    the n-gram leakage metric (GPT-3 appendix-C style) that catches
    what content-keyed splitting alone cannot: near-duplicates and
    shared passages leaking eval answers into training. Exact
    duplicates already co-locate by construction (the split key is
    sha256 of the text — sample_split_by_content), so every hit here
    is a PARTIAL overlap, the kind worth human review.

    Scale shape: the dedup-family inverted-index discipline — shingle
    both sides once, collapse the train side to a DISTINCT shingle
    index with a document-frequency cap (a shingle in > CAP train docs
    is boilerplate: it carries no leakage signal and only fanout), and
    one equi-join eval-shingles x index with per-key fanout <= CAP.
    Linear in corpus size, never pairwise."""
    d = spread(table(spark, sf_dir, "documents").select("doc_id", "text"))
    labeled = d.select(
        "doc_id",
        "text",
        (
            F.substring(F.md5(F.sha2("text", 256)), 1, 2) < SPLITCON_TRAIN_HI
        ).alias("is_train"),
    )
    ts = F.split("text", " ")
    sh = labeled.filter(F.size(ts) >= SPLITCON_K).select(
        "doc_id",
        "is_train",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - SPLITCON_K + 1),
                lambda i: F.array_join(F.slice(ts, i, SPLITCON_K), " "),
            )
        ).alias("sh"),
    )
    # The shingle relation feeds BOTH sides (train index + eval probe),
    # so the lazy plan tokenizes twice. A localCheckpoint here was
    # measured and REJECTED on both axes (r16): the subtree is
    # explode-AMPLIFIED — its output (~50 K-gram strings per doc) is
    # orders of magnitude larger than its source, so materializing it
    # costs more than recomputing from the scan (sf0.1: 1.54 s lazy vs
    # 1.63 s checkpointed; x100: 19.4 s vs 24.8 s min-of-3, first
    # checkpointed run 109 s under memory pressure). The §5 truncation
    # rule only pays when the reused subtree is SMALLER than the work
    # that rebuilds it — the inverse of this shape.
    train_idx = (
        sh.filter("is_train")
        .groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= SPLITCON_DF_CAP)
        .select("sh")
    )
    hits = (
        sh.filter(~F.col("is_train"))
        .join(train_idx, "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_shared"))
    )
    return (
        labeled.filter(~F.col("is_train"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= SPLITCON_MIN).alias(
                "contaminated"
            ),
        )
    )


@register(
    "text_html_strip",
    sql="""
        WITH wrapped AS (
            SELECT doc_id,
                   '<html><body><nav>menu home about</nav><p id="main">'
                       || replace(text, ' the ', ' <b>the</b> ')
                       || '</p><script>var x = 1;</script>'
                       || '<footer>&copy; 2024 &amp; co</footer></body></html>'
                       AS html
            FROM documents
        ),
        stripped AS (
            SELECT doc_id,
                   trim(regexp_replace(
                       regexp_replace(
                           regexp_replace(
                               regexp_replace(
                                   regexp_replace(
                                       regexp_replace(
                                           regexp_replace(html,
                                               '<script[^>]*>.*?</script>',
                                               ' ', 'gs'),
                                           '<style[^>]*>.*?</style>',
                                           ' ', 'gs'),
                                       '<nav[^>]*>.*?</nav>', ' ', 'gs'),
                                   '<footer[^>]*>.*?</footer>', ' ', 'gs'),
                               '<[^>]+>', ' ', 'g'),
                           '&amp;', '&', 'g'),
                       ' +', ' ', 'g')) AS clean
            FROM wrapped
        )
        SELECT doc_id,
               CAST(length(clean) AS BIGINT) AS n_chars,
               md5(clean) AS clean_md5
        FROM stripped
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate stripping — the first stage of every crawl
    pipeline (CCNet / RefinedWeb "extract text"): drop
    non-content ELEMENTS wholesale (script/style/nav/footer, tag AND
    body via per-element non-greedy DOTALL patterns — one pattern per
    element because DuckDB's RE2 has no backreferences, so the single
    <(a|b)>.*?</\1> form would silently never match there; measured,
    not assumed), flatten remaining tags to spaces, decode entities,
    collapse whitespace. The fixture corpus has no markup, so a
    deterministic wrapper plants a realistic page around each document
    (nav menu, bold mid-text markup, a script, an entity-bearing
    footer) and the oracle recomputes the identical strip — any
    divergence in regex semantics (greediness, DOTALL) across engines
    fails the hash.

    Scale shape: pure narrow-map regex chain inside codegen, zero
    shuffle — crawl-scale HTML stripping is embarrassingly parallel,
    and the regex-chain form (vs a DOM parse) is the standard
    trade at 100 TB: no per-row parser allocation, bounded memory,
    splittable files. A DOM-fidelity pass would swap in a pandas UDF
    via the same seam as the sentiment scorer."""
    d = spread(table(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit('<html><body><nav>menu home about</nav><p id="main">'),
        F.replace(F.col("text"), F.lit(" the "), F.lit(" <b>the</b> ")),
        F.lit("</p><script>var x = 1;</script>"),
        F.lit("<footer>&copy; 2024 &amp; co</footer></body></html>"),
    )
    stripped = html
    # per-element literal patterns: DuckDB's RE2 has no backreferences,
    # so <(a|b)>.*?</\1> silently never matches there — one pattern per
    # boilerplate element keeps both engines on the same regex subset
    for el in ("script", "style", "nav", "footer"):
        stripped = F.regexp_replace(
            stripped, rf"(?s)<{el}[^>]*>.*?</{el}>", " "
        )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(stripped, "<[^>]+>", " "),
                "&amp;",
                "&",
            ),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length(clean).cast("long").alias("n_chars"),
        F.md5(clean).alias("clean_md5"),
    )


_NGRAM_LM_TRAIN_SQL = """
    WITH toks AS (SELECT string_split(text, ' ') AS ts FROM documents),
    bi AS (
        SELECT ts[CAST(i AS INT)] AS x, ts[CAST(i + 1 AS INT)] AS y
        FROM toks, unnest(range(1, len(ts))) AS u(i)
        WHERE len(ts) >= 2 AND ts[CAST(i AS INT)] <> ''
          AND ts[CAST(i + 1 AS INT)] <> ''
    ),
    big AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM bi GROUP BY x, y
    ),
    pre AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM big GROUP BY x),
    vocab AS (
        SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        FROM (SELECT x AS tok FROM big UNION ALL SELECT y FROM big)
    ),
    top_pre AS (SELECT x, c_x FROM pre ORDER BY c_x DESC, x ASC LIMIT 20),
    ranked AS (
        SELECT t.x AS prefix, b.y AS next_tok, b.c_xy, t.c_x,
               row_number() OVER (
                   PARTITION BY t.x ORDER BY b.c_xy DESC, b.y ASC
               ) AS rn
        FROM top_pre t JOIN big b ON b.x = t.x
    )
    SELECT prefix, next_tok, c_xy,
           round((c_xy + 0.5) / (c_x + 0.5 * v.v), 6) AS p_smoothed
    FROM ranked, vocab v
    WHERE rn <= 3
"""


@register("text_ngram_lm_train", sql=_NGRAM_LM_TRAIN_SQL, eager=True)
def text_ngram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the corpus bigram language model that text_lm_doc_nll
    only consumes: bigram counts + add-k smoothing (k = 0.5) over the
    documents table, reported as the top-3 continuations for the 20
    most frequent prefix tokens (bounded, inspection-sized output —
    the full conditional table is the intermediate `big` relation a
    deployment would sink instead). p(y|x) = (c_xy + k) / (c_x + k*V)
    with V the corpus vocabulary size. Scale shape: ONE bigram
    aggregation shuffle reused three ways off a localCheckpoint
    (conditional counts, prefix marginals, vocabulary size), the
    top-20 prefix selection is a global TakeOrderedAndProject (never
    a full sort), and the per-prefix top-3 window runs over a
    BROADCAST of those 20 prefixes joined back to the counts — so the
    row_number window sees 20 groups, not the vocabulary. The
    smoothing constant and both tie-breaks (count desc, token asc)
    are deterministic, giving an exact DuckDB oracle. Batch
    generalization of the reference's text surface (streamer.py:48
    keyword containment) toward the LM-training side of a data
    pipeline; complements text_collocation_pmi (association) and
    text_lm_doc_nll (scoring)."""
    d = spread(table(spark, sf_dir, "documents")).select(
        F.split("text", " ").alias("toks")
    )
    bigrams = F.expr(
        "IF(size(toks) >= 2, "
        "transform(sequence(1, size(toks) - 1), "
        "i -> struct(element_at(toks, i) AS x, element_at(toks, i+1) AS y)), "
        "CAST(array() AS ARRAY<STRUCT<x: STRING, y: STRING>>))"
    )
    big = (
        d.select(F.explode(bigrams).alias("e"))
        .select("e.x", "e.y")
        .filter((F.col("x") != "") & (F.col("y") != ""))
        .groupBy("x", "y")
        .agg(F.count("*").alias("c_xy"))
        .localCheckpoint(eager=True)  # built once, read three ways
    )
    pre = big.groupBy("x").agg(F.sum("c_xy").alias("c_x"))
    vocab = (
        big.select(F.col("x").alias("tok"))
        .union(big.select("y"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    top_pre = pre.orderBy(F.col("c_x").desc(), F.col("x").asc()).limit(20)
    argtop = Window.partitionBy("x").orderBy(
        F.col("c_xy").desc(), F.col("y").asc()
    )
    ranked = (
        big.join(F.broadcast(top_pre), "x")
        .withColumn("rn", F.row_number().over(argtop))
        .filter(F.col("rn") <= 3)
    )
    return ranked.crossJoin(F.broadcast(vocab)).select(
        F.col("x").alias("prefix"),
        F.col("y").alias("next_tok"),
        "c_xy",
        F.round(
            (F.col("c_xy") + F.lit(0.5))
            / (F.col("c_x") + F.lit(0.5) * F.col("v")),
            6,
        ).alias("p_smoothed"),
    )
