"""Text / WordCount queries (SURVEY.md §2: S1, F8, A1/A2, O5 + text
extensions: token stats, fingerprints, quality scoring, language ID).

All run on the ``documents`` table; the hot path is pure Column
expressions (codegen), never Python UDFs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce511_spark.functions.text import (
    glyph_count,
    normalize_text,
    tokenize,
    word_ngrams,
)
from mapreduce511_spark.memo import session_memo
from mapreduce511_spark.operators.wordcount import word_count
from mapreduce511_spark.queries import norm0, register
from mapreduce511_spark.queries.oracle_sql import _SQL_TOKEN_POS, _SQL_TOKENS
from mapreduce511_spark.sources.tables import load_table, spread_scan


@register(
    "wordcount",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
    GROUP BY word
    """,
)
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full WordCount (map→combine→shuffle→reduce analog)."""
    return word_count(load_table(spark, sf_dir, "documents"))


@register(
    "wordcount_top20",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
    """,
)
def wordcount_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k words — at scale this is TakeOrderedAndProject (no global
    sort of the full counts table)."""
    return word_count(load_table(spark, sf_dir, "documents")).orderBy(
        F.desc("cnt"), F.asc("word")
    ).limit(20)


@register(
    "wordcount_skewed",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (
        SELECT unnest(list_filter(string_split_regex(
            text || ' ' || repeat('zipfhot ', CAST(doc_id % 199 AS INT)) ||
            repeat('zipfmid' || CAST(doc_id % 13 AS VARCHAR) || ' ', 7),
            '\\s+'), t -> t <> '')) AS word
        FROM documents
    )
    GROUP BY word
    """,
)
def wordcount_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCount over a synthetically Zipf-skewed corpus — the Spark
    answer to the reference's defining bottleneck (its single hot
    reducer processing the 'the' key, job_output.log:86).

    'zipfhot' is injected ~doc_count*99 times (one key dominating the
    corpus) plus a 13-key warm tier. The plan stays the same
    partial→final HashAggregate as plain wordcount: map-side combine
    collapses the hot key to ONE row per task before the shuffle, so
    the reduce side never sees the skew a Hadoop reducer chokes on
    (asserted in tests/test_plan_quality.py; AQE coalescing sizes the
    post-shuffle partitions)."""
    docs = load_table(spark, sf_dir, "documents")
    amplified = docs.select(
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.expr("repeat('zipfhot ', CAST(doc_id % 199 AS INT))"),
            F.expr(
                "repeat(concat('zipfmid', CAST(doc_id % 13 AS STRING), ' '), 7)"
            ),
        ).alias("text")
    )
    return word_count(amplified)


@register(
    "token_stats_by_lang",
    oracle=f"""
    SELECT lang,
           count(*)                                    AS n_docs,
           CAST(sum(len({_SQL_TOKENS})) AS BIGINT)     AS total_tokens,
           round(avg(len({_SQL_TOKENS})), 2)           AS avg_tokens,
           round(avg(n_chars), 2)                      AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def token_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token statistics (text-analysis extension)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokenize("text"))
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(n_tokens).cast("long").alias("total_tokens"),
        F.round(F.avg(n_tokens), 2).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           count(*)         AS n_docs,
           min(doc_id)      AS keep_doc_id
    FROM documents
    GROUP BY fingerprint
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 over normalized text. The groupBy is
    the exact-dedup primitive — ``keep_doc_id`` is the canonical
    survivor per duplicate class."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(normalize_text("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


@register(
    "exact_dedup",
    oracle="""
    SELECT doc_id, lang, source
    FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   ORDER BY doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn = 1
    """,
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per content fingerprint.

    Window-over-hash rather than ``dropDuplicates`` so the survivor is
    deterministic; at scale this is one hash-partitioned shuffle on the
    fingerprint (no skew: fingerprints are uniform)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        docs.withColumn("fingerprint", F.md5(normalize_text("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@register(
    "quality_score",
    oracle=f"""
    SELECT lang,
           round(avg(CASE WHEN n_tok > 0 THEN char_len * 1.0 / n_tok ELSE 0 END), 3)
               AS avg_token_len,
           round(avg(punct * 1.0 / greatest(char_len, 1)), 4) AS avg_punct_ratio,
           round(avg(least(n_tok / 50.0, 1.0)), 3)            AS avg_len_score
    FROM (
        SELECT lang,
               length(text)                                   AS char_len,
               len({_SQL_TOKENS})                             AS n_tok,
               length(text) - length(regexp_replace(text, '[^[:alnum:][:space:]]', '', 'g'))
                                                              AS punct
        FROM documents
    )
    GROUP BY lang
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics (length / punctuation ratios) —
    the pre-training filter primitive, aggregated per language."""
    docs = load_table(spark, sf_dir, "documents")
    char_len = F.length("text")
    n_tok = F.size(tokenize("text"))
    punct = char_len - F.length(
        F.regexp_replace("text", r"[^\p{Alnum}\p{Space}]", "")
    )
    scored = docs.select(
        "lang",
        char_len.alias("char_len"),
        n_tok.alias("n_tok"),
        punct.alias("punct"),
    )
    return scored.groupBy("lang").agg(
        F.round(
            F.avg(
                F.when(F.col("n_tok") > 0, F.col("char_len") / F.col("n_tok")).otherwise(
                    0.0
                )
            ),
            3,
        ).alias("avg_token_len"),
        F.round(F.avg(F.col("punct") / F.greatest(F.col("char_len"), F.lit(1))), 4).alias(
            "avg_punct_ratio"
        ),
        F.round(F.avg(F.least(F.col("n_tok") / F.lit(50.0), F.lit(1.0))), 3).alias(
            "avg_len_score"
        ),
    )


@register(
    "bigram_top20",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
    ), pos AS (
        SELECT doc_id, unnest(tokens) AS word, unnest(range(len(tokens))) AS p
        FROM toks
    )
    SELECT a.word || ' ' || b.word AS bigram, count(*) AS cnt
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    GROUP BY bigram
    ORDER BY cnt DESC, bigram
    LIMIT 20
    """,
)
def bigram_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequency via array expressions (no self-join, no
    UDF): n-grams are built per-row then exploded — at 100 TB this
    keeps the heavy lifting before the single count shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(tokenize("text").alias("toks"))
        .select(F.explode(word_ngrams(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bigram"))
        .limit(20)
    )


# English stopwords used by the n-gram language-ID heuristic.
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")


@register(
    "stopword_ratio",
    oracle=f"""
    SELECT lang,
           round(avg(sw * 1.0 / greatest(n_tok, 1)), 4) AS avg_stopword_ratio
    FROM (
        SELECT lang,
               len({_SQL_TOKENS}) AS n_tok,
               len(list_filter({_SQL_TOKENS},
                   t -> list_contains({list(_STOPWORDS)!r}, lower(t)))) AS sw
        FROM documents
    )
    GROUP BY lang
    """,
)
def stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID signal: fraction of tokens that are English
    stopwords, averaged per labeled language."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(stop, F.lower(t))))
    return (
        docs.select(
            "lang",
            F.size(toks).alias("n_tok"),
            n_sw.alias("sw"),
        )
        .groupBy("lang")
        .agg(
            F.round(
                F.avg(F.col("sw") / F.greatest(F.col("n_tok"), F.lit(1))), 4
            ).alias("avg_stopword_ratio")
        )
    )


# Per-language stopword lists for the language-ID heuristic (tiny,
# frozen, shared verbatim with the DuckDB oracle). Alphabetical lang
# order (de, en, es, fr) doubles as the deterministic tie-break.
_LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "en": ("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
    "es": ("el", "los", "las", "de", "y", "un", "una", "es", "del", "por"),
    "fr": ("le", "la", "les", "des", "et", "est", "que", "une", "dans", "pour"),
}
_CJK_RANGE = "[一-鿿]"
_CJK_T = 0.05  # CJK char fraction above which a doc is called 'zh'


def _lang_hits_sql(lang: str) -> str:
    words = list(_LANG_STOPWORDS[lang])
    return (
        f"len(list_filter(list_transform({_SQL_TOKENS}, t -> lower(t)), "
        f"t -> list_contains({words!r}, t)))"
    )


@register(
    "language_id",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               CASE
                 WHEN length(text) > 0
                      AND (length(text) -
                           length(regexp_replace(text, '{_CJK_RANGE}', '', 'g')))
                          * 1.0 / length(text) > {_CJK_T}
                   THEN 'zh'
                 WHEN greatest({_lang_hits_sql("de")}, {_lang_hits_sql("en")},
                               {_lang_hits_sql("es")}, {_lang_hits_sql("fr")}) = 0
                   THEN 'und'
                 WHEN {_lang_hits_sql("de")} = greatest({_lang_hits_sql("de")},
                       {_lang_hits_sql("en")}, {_lang_hits_sql("es")},
                       {_lang_hits_sql("fr")}) THEN 'de'
                 WHEN {_lang_hits_sql("en")} = greatest({_lang_hits_sql("de")},
                       {_lang_hits_sql("en")}, {_lang_hits_sql("es")},
                       {_lang_hits_sql("fr")}) THEN 'en'
                 WHEN {_lang_hits_sql("es")} = greatest({_lang_hits_sql("de")},
                       {_lang_hits_sql("en")}, {_lang_hits_sql("es")},
                       {_lang_hits_sql("fr")}) THEN 'es'
                 ELSE 'fr'
               END AS pred_lang
        FROM documents
    )
    SELECT lang, pred_lang, count(*) AS n_docs
    FROM scored GROUP BY lang, pred_lang
    """,
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic: CJK char-ratio gate for
    'zh', else argmax of per-language stopword hits (alphabetical
    tie-break, 'und' when no list matches). Output is the (true lang x
    predicted lang) confusion matrix.

    Note: the synthetic testdata's ``text`` is English-like for every
    ``lang`` label, so predictions concentrate on 'en'/'und' — the
    operator's contract is the deterministic heuristic itself (oracle-
    checked), not label recovery. One scan, pure Column expressions."""
    docs = load_table(spark, sf_dir, "documents")

    # Materialize tokens and per-language hit counts as projected
    # columns FIRST: lambda-heavy expressions are not CSE'd by
    # Catalyst, so referencing `hits` 3x inside the CASE chain would
    # otherwise re-tokenize every document ~12 times.
    def _hits(words: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(F.col("toks"), lambda t: F.array_contains(arr, t))
        )

    langs = sorted(_LANG_STOPWORDS)
    scored = docs.select(
        "lang", "text", F.transform(tokenize("text"), F.lower).alias("toks")
    ).select(
        "lang",
        "text",
        *[_hits(_LANG_STOPWORDS[lg]).alias(f"hits_{lg}") for lg in langs],
    )
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    cjk_frac = (
        F.length("text")
        - F.length(F.regexp_replace("text", _CJK_RANGE, ""))
    ) / F.length("text")
    pred = F.when(
        (F.length("text") > 0) & (cjk_frac > _CJK_T), F.lit("zh")
    ).when(best == 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"hits_{lg}") == best, F.lit(lg))
    return (
        scored.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# BPE-style pre-tokenizer: letter runs, digit runs, single
# non-alnum-non-space marks. Explicit ASCII classes so Java regex and
# RE2 agree byte-for-byte.
_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@register(
    "token_count_bpe",
    oracle=f"""
    SELECT source,
           count(*)                                       AS n_docs,
           CAST(sum(len({_SQL_TOKENS})) AS BIGINT)        AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT)
                                                          AS bpe_tokens,
           round(avg(len(regexp_extract_all(text, '{_BPE_PAT}'))), 2)
                                                          AS avg_bpe_tokens
    FROM documents
    GROUP BY source
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting with two tokenizers: whitespace (Hadoop
    StringTokenizer contract) vs a BPE-ish pre-tokenizer regex —
    the budget/billing primitive of a training-data pipeline,
    aggregated per source. regexp_extract_all stays JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.size(tokenize("text"))
    bpe = F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), F.lit(0)))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws).cast("long").alias("ws_tokens"),
        F.sum(bpe).cast("long").alias("bpe_tokens"),
        F.round(F.avg(bpe), 2).alias("avg_bpe_tokens"),
    )


_TFIDF_DOCS = 20  # probe sample: top terms for doc_id < 20
_TFIDF_TOPN = 3


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
    ), tf AS (
        SELECT doc_id, w, count(*) AS tf
        FROM (SELECT doc_id, unnest(tokens) AS w FROM toks)
        GROUP BY doc_id, w
    ), df AS (
        SELECT w, count(*) AS df FROM (SELECT DISTINCT doc_id, w FROM tf)
        GROUP BY w
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.w,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS score
        FROM tf JOIN df USING (w) CROSS JOIN n
        WHERE tf.doc_id < {_TFIDF_DOCS}
    )
    SELECT doc_id, rank, term, round(score, 4) AS tfidf
    FROM (
        SELECT doc_id, w AS term, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, w) AS rank
        FROM scored
    )
    WHERE rank <= {_TFIDF_TOPN}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF (sklearn-style idf = ln((N+1)/(df+1)) + 1), top
    terms per probe document.

    Plan: one tokenize scan feeds both TF (groupBy doc,term) and DF
    (distinct + groupBy term); N is a 1-row broadcast; probe filter is
    pushed below the TF aggregation so the per-doc ranking only sees
    the sample. DF/IDF stay corpus-wide (that's the semantics)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokenize("text")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = tf.groupBy("w").agg(F.count("*").alias("df"))  # tf rows are distinct (doc,w)
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < _TFIDF_DOCS)
        .join(df, "w")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("w"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOPN)
        .select(
            "doc_id", "rank", F.col("w").alias("term"),
            F.round("score", 4).alias("tfidf"),
        )
    )


@register("approx_distinct_tokens")
def approx_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality, exact vs HyperLogLog++ — the 100 TB
    path for vocabulary counting (the reference's 781,397 distinct
    words at 100MB would be billions at 100 TB; approx_count_distinct
    needs no giant shuffle of the full vocabulary). Rows-only: DuckDB's
    approx sketch differs by construction; tests/test_text_extra.py
    bounds the relative error instead."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize("text")).alias("w"))
    return words.agg(
        F.count("*").alias("total_tokens"),
        F.countDistinct("w").alias("exact_distinct"),
        F.approx_count_distinct("w", 0.01).alias("approx_distinct"),
    )


@register(
    "repetition_score",
    oracle=f"""
    WITH {_SQL_TOKEN_POS}, tri AS (
        SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
    ), stats AS (
        SELECT doc_id, count(*) AS n_tri, count(DISTINCT g) AS n_uniq
        FROM tri GROUP BY doc_id
    )
    SELECT doc_id,
           round((n_tri - n_uniq) * 10000.0 / n_tri) / 10000
               AS dup_trigram_frac
    FROM stats
    WHERE n_tri > 0
    """,
)
def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signal: fraction of word
    trigrams that are duplicates within the document. Per-doc array
    expressions only (n-grams built in-row, distinct via
    array_distinct) — zero shuffles before the final projection.
    Scale-before-divide rounding (see sessionize_events)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    # Always-true nondeterministic guard (the r12 BNLJ idiom, guide
    # §4.4's duplication hazard in pure-JVM form): without it,
    # CollapseProject inlines the trigram array into BOTH size()
    # references and the per-position transform then re-evaluates the
    # tokenize regex per element — O(len²) per row (measured 3.1 s ->
    # 1.0 s at sf0.1). The guard pins ONE evaluation of the array.
    grams = docs.select(
        "doc_id",
        F.when(
            F.spark_partition_id() >= 0,
            word_ngrams(tokenize("text"), 3),
        ).alias("grams"),
    ).select(
        "doc_id",
        F.size("grams").alias("n_tri"),
        F.size(F.array_distinct("grams")).alias("n_uniq"),
    )
    return grams.filter(F.col("n_tri") > 0).select(
        "doc_id",
        (
            F.round((F.col("n_tri") - F.col("n_uniq")) * 10000.0 / F.col("n_tri"))
            / 10000
        ).alias("dup_trigram_frac"),
    )


# Probe n-grams for contamination screening (stand-ins for benchmark
# strings; frozen, shared with the oracle).
_CONTAMINATION_PROBES = (
    "the small table",
    "spark join stream",
    "window merge spark",
    "batch window vector",
)


@register(
    "contamination_screen",
    oracle=f"""
    WITH {_SQL_TOKEN_POS}, tri AS (
        SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
    )
    SELECT g AS probe, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM tri
    WHERE g IN {_CONTAMINATION_PROBES!r}
    GROUP BY g
    """,
)
def contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screening: which probe n-grams (e.g.
    eval-set strings) appear in the corpus, in how many documents.
    The probe set is a broadcast IN-filter applied right after the
    in-row n-gram build — the corpus is scanned once, nothing but
    matches shuffles. At 100 TB with millions of probes this becomes
    a broadcast hash semi-join against a probe table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(F.array_distinct(word_ngrams(F.col("toks"), 3))).alias("g"),
    )
    return (
        grams.filter(F.col("g").isin(*_CONTAMINATION_PROBES))
        .groupBy(F.col("g").alias("probe"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@register(
    "deterministic_split",
    oracle="""
    WITH h AS (
        SELECT lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM h
    GROUP BY lang, split
    """,
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test assignment from a content-
    independent hash of the stable id (md5 % 100 buckets) — the
    training-pipeline split primitive. Unlike randomSplit/sampleBy,
    re-running on new hardware, a different partition layout, or a
    grown corpus keeps every existing doc's assignment stable. Output
    is the per-(lang, split) census."""
    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH survivors AS (
        SELECT doc_id, lang, text
        FROM (
            SELECT doc_id, lang, text,
                   row_number() OVER (
                       PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                       ORDER BY doc_id
                   ) AS rn
            FROM documents
        )
        WHERE rn = 1
    ), gated AS (
        SELECT doc_id, lang,
               len({_SQL_TOKENS}) AS n_tok
        FROM survivors
    ), assigned AS (
        SELECT lang, n_tok,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS bucket
        FROM gated
        WHERE n_tok >= 30
    )
    SELECT lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM assigned
    GROUP BY lang, split
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pipeline in ONE lazy plan:
    exact dedup (deterministic survivor per content fingerprint) →
    quality gate (>= 30 tokens) → reproducible hash split → per-(lang,
    split) census with token budgets. This is the composition the
    individual queries exist for; Catalyst fuses the whole thing into
    two shuffles (fingerprint window, final census aggregate) with the
    tokenize cost paid once."""
    from pyspark.sql.window import Window

    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    survivors = (
        docs.withColumn("fingerprint", F.md5(normalize_text("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", F.size(tokenize("text")).alias("n_tok"))
    )
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        survivors.filter(F.col("n_tok") >= 30)
        .select("lang", split.alias("split"), "n_tok")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
    )


@register(
    "stratified_sample",
    oracle="""
    WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    t AS (SELECT min(n) AS target FROM n),
    r AS (SELECT lang, CAST(target * 10000 // n AS BIGINT) AS rate_bp FROM n, t),
    h AS (
        SELECT lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10000 AS bucket
        FROM documents
    )
    SELECT h.lang, r.rate_bp, count(*) AS sampled_docs
    FROM h JOIN r ON h.lang = r.lang
    WHERE h.bucket < r.rate_bp
    GROUP BY h.lang, r.rate_bp
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: equalize language
    representation by sampling each stratum at rate target/n (target =
    rarest language's count), with membership decided by a stable
    content-independent hash (md5(doc_id) % 10000 < rate basis
    points), NOT rand()/sampleBy — re-runs, cluster moves, and corpus
    growth keep every doc's in/out decision. One corpus pass; the
    per-stratum rate table is an aggregate-then-broadcast join (rows =
    #languages). Integer basis-point rates keep both engines exact."""
    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    target = counts.agg(F.min("n").alias("target"))
    rates = counts.crossJoin(F.broadcast(target)).select(
        "lang",
        F.expr("CAST(target * 10000 DIV n AS BIGINT)").alias("rate_bp"),
    )
    bucket = hash60(F.col("doc_id").cast("string")) % 10000
    return (
        docs.select("lang", bucket.alias("bucket"))
        .join(F.broadcast(rates), "lang")
        .filter(F.col("bucket") < F.col("rate_bp"))
        .groupBy("lang", "rate_bp")
        .agg(F.count("*").alias("sampled_docs"))
    )


# The 8-token rolling span hash of th(doc_id, p, h0) over WINDOW win
# (PARTITION BY doc_id ORDER BY p): seven shift-xor folds of the next
# token hash, the oracle side of _span_hashes
_SQL_SPAN_HASH = reduce(
    lambda acc, i: f"xor((({acc}) % 36028797018963968) * 32,"
    f" lead(h0, {i}) OVER win)",
    range(1, 8),
    "h0",
)


def _span_hashes(th: DataFrame) -> DataFrame:
    """``th(doc_id, p, h0, ...)`` plus ``h``, the rolling hash of the
    8 tokens from ``p`` (``_SQL_SPAN_HASH``), and ``ok``, whether the
    doc has all 8 of them."""
    from pyspark.sql import Window

    wdoc = Window.partitionBy("doc_id").orderBy("p")
    acc = F.col("h0")
    for i in range(1, 8):
        acc = ((acc % F.lit(36028797018963968)) * 32).bitwiseXOR(
            F.lead("h0", i).over(wdoc)
        )
    return th.withColumn("h", acc).withColumn(
        "ok", F.lead("h0", 7).over(wdoc).isNotNull()
    )


@register(
    "repeated_span_screen",
    oracle=f"""
    WITH toklist AS (
        SELECT doc_id, lang, {_SQL_TOKENS} AS tokens FROM documents
    ), tok AS (
        SELECT doc_id, lang, unnest(tokens) AS w,
               unnest(range(len(tokens))) AS p
        FROM toklist
    ), th AS (
        SELECT doc_id, lang, p,
               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h0
        FROM tok
    ), sp AS (
        SELECT doc_id, lang,
               {_SQL_SPAN_HASH} AS h,
               lead(h0, 7) OVER win IS NOT NULL AS ok
        FROM th
        WINDOW win AS (PARTITION BY doc_id ORDER BY p)
    ), anchored AS (
        SELECT DISTINCT doc_id, lang, h FROM sp WHERE ok AND h % 4 = 0
    ), shared AS (
        SELECT h FROM anchored GROUP BY h HAVING count(*) >= 2
    )
    SELECT a.lang,
           count(DISTINCT a.doc_id) AS flagged_docs,
           count(*) AS shared_span_instances
    FROM anchored a JOIN shared s ON a.h = s.h
    GROUP BY a.lang
    """,
)
def repeated_span_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span detection (boilerplate / template
    screening): sliding 8-token windows, flag content-anchored spans
    appearing in >=2 distinct documents.

    100 TB design, in order of the plan:
    - tokens become ROWS (codegen'd posexplode) and are md5-hashed as
      a plain column — no interpreted higher-order-function lambdas
      anywhere (an earlier array-transform formulation spent its whole
      budget in interpreted per-element eval).
    - each position's span hash is a shift-xor fold of its token hash
      and the next 7 via lead() in ONE window pass per document —
      integer arithmetic only, never a span string.
    - winnowing-style CONTENT ANCHORING keeps spans with h % 4 == 0:
      a deterministic, alignment-independent 4x cut of every
      downstream shuffle (a fixed-stride sample would miss boilerplate
      whose alignment differs mod stride between documents).
    - anchored spans are materialized once (localCheckpoint), then
      shared-h counts come from a groupBy + join-back — measured
      faster than a count-over-window on the same input, and the
      checkpoint stops the expensive span stage from executing twice.
    Collisions at 60/55 bits are negligible and identical in the
    oracle, so parity is unaffected."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.posexplode(tokenize("text")).alias("p", "w")
    )
    from mapreduce511_spark.operators.dedup import hash60

    th = toks.select("doc_id", "lang", "p", hash60(F.col("w")).alias("h0"))
    spans = (
        _span_hashes(th)
        .filter(F.col("ok") & (F.col("h") % 4 == 0))
        .select("doc_id", "lang", "h")
        .distinct()
    )
    # eager: with a lazy checkpoint the join below has TWO stages
    # racing to compute the same uncached RDD — the expensive span
    # stage would execute twice in one action
    spans = spans.localCheckpoint(eager=True)
    shared = spans.groupBy("h").agg(F.count("*").alias("nd")).filter(
        F.col("nd") >= 2
    )
    return (
        spans.join(shared.select("h"), "h")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("flagged_docs"),
            F.count("*").alias("shared_span_instances"),
        )
    )


# Removal census over rem(doc_id, p, pe), the removed token ranges:
# overlapping ranges of a doc merge into islands, and the SELECT list
# reports removed occurrences and tokens against the caller's token
# list t(doc_id, tokens), which the caller joins after it
_SPAN_REMOVAL = """marked AS (
        SELECT doc_id, p, pe,
               CASE WHEN max(pe) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) >= p
                    THEN 0 ELSE 1 END AS new_island
        FROM rem
    ), islands AS (
        SELECT doc_id, p, pe,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS island
        FROM marked
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(n_occ) AS BIGINT) AS removed_occurrences,
               CAST(sum(width) AS BIGINT) AS tokens_removed
        FROM (
            SELECT doc_id, island,
                   count(*) AS n_occ,
                   max(pe) - min(p) + 1 AS width
            FROM islands GROUP BY doc_id, island
        ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(t.tokens) AS BIGINT) AS n_tokens,
           d.removed_occurrences,
           d.tokens_removed,
           CAST(len(t.tokens) - d.tokens_removed AS BIGINT) AS tokens_kept"""


def _span_removal(rem: DataFrame, docs: DataFrame, tokens: str) -> DataFrame:
    """The Spark side of ``_SPAN_REMOVAL``: the closed removal ranges
    ``rem(doc_id, p, pe)`` of a doc merge into islands where they
    overlap, and each doc of ``docs`` with a range gets its token count
    (the size of its ``tokens`` array), removed occurrences, removed
    and kept tokens."""
    from pyspark.sql import Window

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = rem.withColumn(
        "new_island",
        F.when(F.max("pe").over(w_prev) >= F.col("p"), 0).otherwise(1),
    ).withColumn("island", F.sum("new_island").over(w_run))
    per_doc = (
        islands.groupBy("doc_id", "island")
        .agg(
            F.count("*").alias("n_occ"),
            (F.max("pe") - F.min("p") + 1).alias("width"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").cast("long").alias("removed_occurrences"),
            F.sum("width").cast("long").alias("tokens_removed"),
        )
    )
    return per_doc.join(
        docs.select("doc_id", F.size(tokens).cast("long").alias("n_tokens")),
        "doc_id",
    ).select(
        "doc_id",
        "n_tokens",
        "removed_occurrences",
        "tokens_removed",
        (F.col("n_tokens") - F.col("tokens_removed")).alias("tokens_kept"),
    )


@register(
    "duplicate_span_removal",
    oracle=f"""
    WITH toklist AS (
        SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
    ), tok AS (
        SELECT doc_id, unnest(tokens) AS w,
               unnest(range(len(tokens))) AS p
        FROM toklist
    ), th AS (
        SELECT doc_id, p,
               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h0
        FROM tok
    ), sp AS (
        SELECT doc_id, p,
               {_SQL_SPAN_HASH} AS h,
               lead(h0, 7) OVER win IS NOT NULL AS ok
        FROM th
        WINDOW win AS (PARTITION BY doc_id ORDER BY p)
    ), spans AS (
        SELECT doc_id, p, h FROM sp WHERE ok
    ), dup AS (
        SELECT h, min(doc_id) AS keeper
        FROM (SELECT DISTINCT doc_id, h FROM spans)
        GROUP BY h HAVING count(*) >= 2
    ), rem AS (
        SELECT s.doc_id, s.p, s.p + 7 AS pe
        FROM spans s JOIN dup d ON s.h = d.h
        WHERE s.doc_id <> d.keeper
    ), {_SPAN_REMOVAL}
    FROM per_doc d JOIN toklist t ON d.doc_id = t.doc_id
    """,
)
def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level cross-document dedup census (the Lee et al.
    2022 'Deduplicating Training Data' removal step, after
    ``repeated_span_screen``'s cheap anchored DETECTION): every
    8-token span occurring in >=2 distinct documents is removed from
    all but the smallest doc_id holding it; overlapping removals in a
    document merge into islands (gaps-and-islands over [p, p+7]
    intervals) so a token is never counted twice. Emits, per affected
    document, the occurrence count, merged tokens removed, and tokens
    kept — the accounting a 100 TB pipeline audits before rewriting
    the corpus.

    100 TB shape, in plan order: span hashes are the screen's
    integer lead()-fold (never a span string); the duplicate table
    groups int64 hashes only (map-side partial min/count); the
    removal join is an int equi-join whose output is linear in
    duplicated occurrences; interval merging is two window passes
    per document partition. Unlike the anchored screen this keeps
    ALL spans (removal must be exact) — the screen remains the
    cheap first-pass filter, this the rewrite-accounting pass.
    Hash collisions at 60/55 bits are negligible and identical in
    the oracle (hash equality IS the defined dup relation)."""
    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    toklist = docs.select("doc_id", tokenize("text").alias("tokens"))
    toks = toklist.select(
        "doc_id", F.posexplode("tokens").alias("p", "w")
    )
    th = toks.select("doc_id", "p", hash60(F.col("w")).alias("h0"))
    spans = (
        _span_hashes(th)
        .filter("ok")
        .select("doc_id", "p", "h")
        .localCheckpoint(eager=True)
    )
    dup = (
        spans.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("nd"), F.min("doc_id").alias("keeper"))
        .filter(F.col("nd") >= 2)
        .select("h", "keeper")
    )
    rem = (
        spans.join(dup, "h")
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id", "p", (F.col("p") + 7).alias("pe"))
    )
    return _span_removal(rem, toklist, "tokens")


@register(
    "context_pack_stats",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, lang,
               len({_SQL_TOKENS}) AS n_tok
        FROM documents
    ), packed AS (
        SELECT lang, n_tok,
               CAST((sum(n_tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING
               ) - n_tok) // 2048 AS BIGINT) AS pack_id
        FROM lens
    )
    SELECT lang, pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM packed
    GROUP BY lang, pack_id
    """,
)
def context_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length packing for training-sequence assembly: stream
    documents in stable doc_id order per language, assign each doc to
    the 2048-token pack its start offset falls in (pack_id = previous
    cumulative tokens // 2048), and report per-pack document and token
    counts. Deterministic integer arithmetic on both engines. The
    running sum is windowed PER LANGUAGE, not globally — a global
    order-by window serializes onto one task at 100 TB, while
    per-stratum prefix sums parallelize across strata (for a single
    giant stratum, split on a coarse hash prefix and offset by
    per-split totals — same two-phase prefix-sum shape)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select(
        "doc_id", "lang", F.size(tokenize("text")).alias("n_tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # integer DIV, not float division: cumulative token offsets pass
    # 2^53 long before 100 TB does
    packed = lens.withColumn(
        "cum_prev", F.sum("n_tok").over(w) - F.col("n_tok")
    ).withColumn("pack_id", F.expr("CAST(cum_prev DIV 2048 AS BIGINT)"))
    return packed.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


@register(
    "incremental_dedup_admit",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM documents
    ), corpus AS (
        SELECT * FROM fp WHERE doc_id % 10 <> 0
    ), batch AS (
        SELECT * FROM fp WHERE doc_id % 10 = 0
    ), vs_corpus AS (
        SELECT b.* FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.f = b.f)
    ), admitted AS (
        SELECT * FROM (
            SELECT v.*, row_number() OVER (
                PARTITION BY f ORDER BY doc_id) AS rn
            FROM vs_corpus v
        ) WHERE rn = 1
    )
    SELECT b.lang,
           count(*) AS batch_docs,
           count(*) - (SELECT count(*) FROM vs_corpus v WHERE v.lang = b.lang)
               AS dropped_vs_corpus,
           (SELECT count(*) FROM vs_corpus v WHERE v.lang = b.lang)
             - (SELECT count(*) FROM admitted a WHERE a.lang = b.lang)
               AS dropped_within_batch,
           (SELECT count(*) FROM admitted a WHERE a.lang = b.lang)
               AS admitted_docs
    FROM batch b
    GROUP BY b.lang
    """,
)
def incremental_dedup_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup: a new batch of documents (here:
    doc_id % 10 == 0, simulating an arriving crawl shard) is admitted
    against the STANDING corpus — (1) an anti-join on content
    fingerprint drops docs already in the corpus, (2) a window dedup
    collapses within-batch duplicates, (3) the census reports the
    funnel per language. This is the production shape for a corpus
    that grows continuously: the corpus side is a fingerprint INDEX
    (one narrow md5 column, hash-partitioned), the anti-join is one
    hash shuffle per side, and nothing rescans old text. At 100 TB
    the fingerprint index would be a bucketed table so arriving
    batches join with zero corpus-side shuffle."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "lang", F.md5(normalize_text("text")).alias("f")
    )
    corpus = fp.filter(F.col("doc_id") % 10 != 0)
    batch = fp.filter(F.col("doc_id") % 10 == 0)
    vs_corpus = batch.join(corpus, "f", "left_anti")
    admitted = (
        vs_corpus.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("f").orderBy("doc_id")),
        )
        .filter(F.col("rn") == 1)
    )
    b = batch.groupBy("lang").agg(F.count("*").alias("batch_docs"))
    v = vs_corpus.groupBy("lang").agg(F.count("*").alias("n_vs"))
    a = admitted.groupBy("lang").agg(F.count("*").alias("admitted_docs"))
    return (
        b.join(v, "lang", "left")
        .join(a, "lang", "left")
        .select(
            "lang",
            "batch_docs",
            (F.col("batch_docs") - F.coalesce("n_vs", F.lit(0))).alias(
                "dropped_vs_corpus"
            ),
            (
                F.coalesce("n_vs", F.lit(0))
                - F.coalesce("admitted_docs", F.lit(0))
            ).alias("dropped_within_batch"),
            F.coalesce("admitted_docs", F.lit(0)).alias("admitted_docs"),
        )
    )


@register(
    "dup_class_histogram",
    oracle="""
    SELECT class_size, count(*) AS n_classes,
           CAST(class_size * count(*) AS BIGINT) AS docs_in_bucket
    FROM (
        SELECT count(*) AS class_size
        FROM documents
        GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    )
    GROUP BY class_size
    """,
)
def dup_class_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-class size histogram — the corpus-health metric that
    decides the dedup strategy: a long tail of small classes is normal
    crawl noise (LSH handles it); heavy buckets at high class sizes
    mean exact-dup replication that must be collapsed BEFORE fuzzy
    matching (see SCALING.md's duplication stress). Two cheap
    aggregations: fingerprint groupBy (one hash shuffle over uniform
    md5 keys), then a count-of-counts over one row per class."""
    docs = load_table(spark, sf_dir, "documents")
    classes = (
        docs.groupBy(F.md5(normalize_text("text")).alias("f"))
        .agg(F.count("*").alias("class_size"))
    )
    return classes.groupBy("class_size").agg(
        F.count("*").alias("n_classes"),
        (F.col("class_size") * F.count("*")).alias("docs_in_bucket"),
    )


@register(
    "source_mixture_weights",
    oracle="""
    WITH n AS (
        SELECT lang, source, count(*) AS n_ls
        FROM documents GROUP BY lang, source
    ), tot AS (
        SELECT lang, CAST(sum(n_ls) AS BIGINT) AS total_l,
               count(*) AS n_sources
        FROM n GROUP BY lang
    )
    SELECT n.lang, n.source, n.n_ls,
           CAST(round(t.total_l * 10000.0 / (t.n_sources * n.n_ls))
                AS BIGINT) AS weight_bp
    FROM n JOIN tot t ON n.lang = t.lang
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting: per-(lang, source) resampling weight (in
    basis points) that equalizes SOURCE shares within each language —
    weight = target_share / actual_share with a uniform target. The
    complement of ``stratified_sample`` (which equalizes languages):
    together they implement the two-level corpus-mixture control a
    training pipeline applies before packing. Two tiny aggregations;
    the weight table is dimension-sized and broadcasts into whatever
    sampler consumes it."""
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang", "source").agg(F.count("*").alias("n_ls"))
    tot = n.groupBy("lang").agg(
        F.sum("n_ls").alias("total_l"), F.count("*").alias("n_sources")
    )
    return n.join(tot, "lang").select(
        "lang",
        "source",
        "n_ls",
        F.round(
            F.col("total_l") * 10000.0 / (F.col("n_sources") * F.col("n_ls"))
        )
        .cast("long")
        .alias("weight_bp"),
    )


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest({_SQL_TOKENS}) AS word FROM documents
    ),
    counted AS (
        SELECT lang, word, count(*) AS cnt FROM tok GROUP BY lang, word
    ),
    totals AS (
        SELECT lang, sum(cnt) AS total FROM counted GROUP BY lang
    )
    SELECT c.lang, c.word, c.cnt,
           CAST(round(c.cnt * 1000000.0 / t.total) AS BIGINT) AS share_ppm
    FROM counted c JOIN totals t ON c.lang = t.lang
    WHERE c.cnt * 100 >= t.total
    """,
)
def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: tokens holding >=1% of a language's token
    mass, with parts-per-million share. Two aggregations over the
    token stream — both map-side combinable — then a broadcast join of
    the per-language totals (dimension-sized). The >=1% predicate
    bounds the output to <=100 rows per language regardless of corpus
    size; at 100 TB the same plan holds because the heavy-hitter set
    can't grow past the threshold's pigeonhole bound. The approximate
    cousin at scale is a count-min sketch; this exact form is the
    oracle-checkable spec.

    Reference basis: extension tier — WordCount (§2 A1/A2) upgraded
    with relative-mass thresholding."""
    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select("lang", F.explode(tokenize("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count("*").alias("cnt"))
    )
    totals = counted.groupBy("lang").agg(F.sum("cnt").alias("total"))
    return (
        counted.join(F.broadcast(totals), "lang")
        .filter(F.col("cnt") * 100 >= F.col("total"))
        .select(
            "lang",
            "word",
            "cnt",
            F.round(F.col("cnt") * 1000000.0 / F.col("total"))
            .cast("long")
            .alias("share_ppm"),
        )
    )


@register(
    "token_freq_histogram",
    oracle=f"""
    WITH counted AS (
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
        GROUP BY word
    )
    SELECT CAST(floor(log2(cnt)) AS BIGINT) AS freq_bucket,
           count(*)  AS n_types,
           CAST(sum(cnt) AS BIGINT) AS n_tokens
    FROM counted
    GROUP BY 1
    """,
)
def token_freq_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostic: log2-bucketed token-frequency histogram
    (bucket k holds types occurring [2^k, 2^(k+1)) times), with type
    and token mass per bucket. Two exact aggregations; the second's
    key space is ~40 buckets, so the final shuffle is constant-size.
    This is the corpus-health profile a data pipeline prints before
    choosing vocab / min-frequency cuts.

    Reference basis: extension tier — WordCount output folded into a
    distributional summary."""
    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counted.select(
            F.floor(F.log2("cnt")).cast("long").alias("freq_bucket"), "cnt"
        )
        .groupBy("freq_bucket")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("cnt").alias("n_tokens"),
        )
    )


@register(
    "bigram_novelty_rate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_SQL_TOKENS} AS tokens FROM documents
    ),
    pos AS (
        SELECT doc_id, lang, unnest(tokens) AS w,
               unnest(range(len(tokens))) AS p
        FROM toks
    ),
    bigrams AS (
        SELECT a.doc_id, a.lang, a.w || ' ' || b.w AS bg
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.p = a.p + 1
    ),
    per_doc AS (SELECT DISTINCT doc_id, lang, bg FROM bigrams),
    df AS (
        SELECT bg, count(*) AS docfreq FROM per_doc GROUP BY bg
    )
    SELECT p.lang,
           count(*) AS n_bigrams,
           CAST(sum(CAST(d.docfreq = 1 AS BIGINT)) AS BIGINT)
               AS unique_bigrams,
           CAST(round(sum(CAST(d.docfreq = 1 AS BIGINT)) * 10000.0
                / count(*)) AS BIGINT) AS novelty_bp
    FROM per_doc p JOIN df d ON p.bg = d.bg
    GROUP BY p.lang
    """,
)
def bigram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc novelty: per language, the share (basis points) of
    distinct per-doc bigrams that occur in exactly ONE document —
    high novelty means fresh text, low novelty means boilerplate or
    duplication. Bigrams form with one self-join-free window-less
    ``transform`` over the token array (no positional self-join on
    the Spark side — the SQL oracle's join is DuckDB's way to express
    the same zip), then one distinct and two aggregations, all keyed
    on the bigram hash — uniform by construction.

    Reference basis: extension tier — sits between repetition_score
    (intra-doc) and near-dup screens (whole-doc) in the text-quality
    family (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", tokenize("text").alias("t"))
    bigrams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.expr(
                    "transform(slice(t, 1, size(t)-1), (w, i) ->"
                    " concat(w, ' ', t[i+1]))"
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    )
    per_doc = bigrams.distinct()
    docfreq = per_doc.groupBy("bg").agg(F.count("*").alias("docfreq"))
    uniq = F.sum((F.col("docfreq") == 1).cast("long"))
    return (
        per_doc.join(docfreq, "bg")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_bigrams"),
            uniq.alias("unique_bigrams"),
            F.round(uniq * 10000.0 / F.count("*"))
            .cast("long")
            .alias("novelty_bp"),
        )
    )


@register(
    "unigram_logprob_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS w FROM documents
    ),
    freq AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
    total AS (SELECT count(*) AS n FROM tok),
    scored AS (
        SELECT t.doc_id, t.lang,
               avg(-ln(f.cnt * 1.0 / total.n)) AS nll
        FROM tok t JOIN freq f ON t.w = f.w CROSS JOIN total
        GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(nll), 4) AS mean_nll,
           round(min(nll), 4) AS min_nll,
           round(max(nll), 4) AS max_nll
    FROM scored GROUP BY lang
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document — the cheapest
    perplexity proxy a data pipeline runs to flag gibberish (high NLL)
    and boilerplate (low NLL) before spending real model inference.
    Token frequencies come from one aggregation; the corpus total is a
    1-row broadcast; each doc's mean negative log-likelihood then
    reduces per (doc, lang) and rolls up per language. All shuffles
    are keyed on token or doc id — uniform; the token→frequency join
    broadcasts only if the vocabulary is small, else it's a hash join
    on the token key (Zipf-headed but AQE-splittable; the same
    hot-key profile wordcount_skewed demonstrates).

    Reference basis: extension tier — text-quality family
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokenize("text")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    total = tok.count()
    scored = (
        tok.join(freq, "w")
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("cnt") / F.lit(float(total)))).alias("nll"))
    )
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("nll"), 4).alias("mean_nll"),
        F.round(F.min("nll"), 4).alias("min_nll"),
        F.round(F.max("nll"), 4).alias("max_nll"),
    )


@register(
    "shuffle_shard_census",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               len({_SQL_TOKENS})
                   AS n_tok,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 16 AS shard
        FROM documents
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM h GROUP BY shard
    """,
)
def shuffle_shard_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 16 training shards: each doc
    lands in shard md5(doc_id) % 16 — content-independent, stable
    under corpus growth and partition layout, and (unlike
    ``repartition``'s round-robin) reproducible across runs, which is
    what makes training-data order auditable. The census reports
    per-shard doc/token mass so balance is checkable: md5 uniformity
    bounds shard skew regardless of how doc_ids cluster. At scale the
    shard column becomes the write partition
    (``df.write.partitionBy('shard')``) and readers stream shards in
    any order.

    Reference basis: extension tier — the training-pipeline
    counterpart of deterministic_split (same hash primitive, §2
    extensions)."""
    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(tokenize("text")).alias("n_tok"),
            (hash60(F.col("doc_id").cast("string")) % 16).alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "snapshot_diff_census",
    oracle="""
    WITH v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 89 = 0 THEN text || ' [rev2]'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0
    ),
    d AS (
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
               CASE WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN a.text = b.text THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT status, count(*) AS n_docs FROM d GROUP BY status
    """,
)
def snapshot_diff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff: classify every doc as removed, changed,
    or unchanged between version 1 (the documents table) and a
    deterministically derived version 2 (docs with id % 97 dropped,
    text revised for id % 89). One full outer join on the stable id
    with a content equality check — the audit a versioned corpus
    store runs between ingests to quantify churn before retraining.
    The equality test runs on md5 content digests computed BEFORE the
    join (the oracle states it on raw text — same census, since md5
    equality is content equality up to negligible collisions), so the
    join shuffle carries 32-byte digests instead of documents; the id
    join key is uniform by construction. PROFILE.md records the
    resulting shuffle volume.

    Reference basis: extension tier — corpus lifecycle family
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.md5("text").alias("h1"))
    b = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 89 == 0, F.concat("text", F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("h2"),
    )
    joined = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") == F.col("h2"), "unchanged")
        .otherwise("changed")
    )
    return (
        joined.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "quality_weighted_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               len({_SQL_TOKENS}) AS n_tok,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10000 AS bucket
        FROM documents
    ),
    tiled AS (
        SELECT doc_id, lang, bucket,
               ntile(4) OVER (PARTITION BY lang
                              ORDER BY n_tok, doc_id) AS quartile
        FROM scored
    )
    SELECT lang, quartile,
           count(*) AS n_docs,
           CAST(sum(CAST(bucket < quartile * 2500 AS BIGINT)) AS BIGINT)
               AS n_accepted
    FROM tiled
    GROUP BY lang, quartile
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: docs are quartiled per language
    by a quality proxy (token count, id-tiebroken), and each quartile
    gets a deterministic acceptance rate proportional to its rank
    (q1: 25%, q2: 50%, q3: 75%, q4: 100% — bucket = md5(doc_id) %
    10000 < quartile*2500). This is the curriculum-mixture primitive:
    upweight high-quality text without discarding the tail entirely,
    reproducibly (same doc -> same verdict on every run and cluster).
    ntile runs per language partition; everything else is
    map-combinable aggregation.

    Reference basis: extension tier — composes quality scoring with
    the deterministic-hash sampling family (deterministic_split,
    stratified_sample)."""
    from pyspark.sql.window import Window

    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(tokenize("text")).alias("n_tok"),
        (hash60(F.col("doc_id").cast("string")) % 10000).alias("bucket"),
    )
    w = Window.partitionBy("lang").orderBy("n_tok", "doc_id")
    tiled = scored.withColumn("quartile", F.ntile(4).over(w))
    return tiled.groupBy("lang", "quartile").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("bucket") < F.col("quartile") * 2500).cast("long")).alias(
            "n_accepted"
        ),
    )


@register(
    "bpe_first_merge",
    oracle=f"""
    WITH wc AS (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest({_SQL_TOKENS}) AS w FROM documents)
        GROUP BY w
    ),
    chars AS (
        SELECT w, cnt, string_split(w, '') AS cs FROM wc
    ),
    pos AS (
        SELECT cnt, unnest(cs) AS c, unnest(range(len(cs))) AS p, w
        FROM chars
    ),
    pairs AS (
        SELECT a.c || b.c AS pair, a.cnt
        FROM pos a JOIN pos b ON a.w = b.w AND b.p = a.p + 1
    )
    SELECT pair, CAST(sum(cnt) AS BIGINT) AS freq
    FROM pairs
    GROUP BY pair
    ORDER BY freq DESC, pair
    LIMIT 20
    """,
)
def bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: count adjacent
    character pairs across the corpus, weighted by word frequency —
    the top pair is the first merge rule. Word TYPES aggregate first
    (one row per distinct word, carrying its corpus count), so the
    char-pair explode runs over the vocabulary, not the token stream
    — at 100 TB that's the difference between ~1M rows and ~10^12.
    Subsequent BPE iterations re-run the same count over re-segmented
    types; every step is this one map-combinable aggregate shape.

    Reference basis: extension tier — tokenizer-training primitive
    (text family, SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    chars = wc.select("cnt", F.split("w", "").alias("c"))
    pairs = chars.select(
        "cnt",
        F.explode(
            F.when(
                F.size("c") >= 2,
                F.expr(
                    "transform(slice(c, 1, size(c)-1), (x, i) ->"
                    " concat(x, c[i+1]))"
                ),
            ).otherwise(F.array())
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(20)
    )


@register("bpe_merge_rules")
def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merge rules learned from the corpus (rank, left,
    right, freq) — the registered surface of ``operators/bpe.py``'s
    iterative trainer. No SQL oracle (the merge loop is iterative —
    each round's input depends on the previous argmax), so the driver
    applies its rows-only check; exact parity against a pure-Python
    reference BPE is asserted in tests/test_bpe.py. ``bpe_first_merge``
    is iteration one of this loop under the full oracle gate."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mapreduce511_spark.operators.bpe import train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, 8)
    rows = [
        (i + 1, a, b, freq) for i, (a, b, freq) in enumerate(merges)
    ]
    # Explicit schema: a degenerate corpus (single-char words) yields
    # zero merges, and createDataFrame cannot infer types from an
    # empty list.  Matches the inferred schema of the non-empty case.
    schema = StructType(
        [
            StructField("rank", LongType()),
            StructField("left", StringType()),
            StructField("right", StringType()),
            StructField("freq", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register("bpe_merge_rules_batched")
def bpe_merge_rules_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 16 BPE merge rules from the BATCHED trainer
    (``operators/bpe.py::train_bpe_batched``, r4 VERDICT item 7):
    multiple provably-sequential-equivalent merges per distributed
    round — identical merge list to ``bpe_merge_rules``'s sequential
    loop (parity at depth 64 in tests/test_bpe.py), fewer pair-count
    jobs. Rows-only for the same reason as the sequential twin
    (iterative; each round's input depends on the previous argmax)."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mapreduce511_spark.operators.bpe import train_bpe_batched

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe_batched(docs, 16)
    rows = [(i + 1, a, b, freq) for i, (a, b, freq) in enumerate(merges)]
    schema = StructType(
        [
            StructField("rank", LongType()),
            StructField("left", StringType()),
            StructField("right", StringType()),
            StructField("freq", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register(
    "wordpiece_first_merge",
    oracle=f"""
    WITH wc AS (
        SELECT w, count(*) AS cnt
        FROM (SELECT unnest({_SQL_TOKENS}) AS w FROM documents)
        GROUP BY w
    ),
    chars AS (
        SELECT w, cnt, string_split(w, '') AS cs FROM wc
    ),
    pos AS (
        SELECT cnt, unnest(cs) AS c, unnest(range(len(cs))) AS p, w
        FROM chars
    ),
    uni AS (
        SELECT c, CAST(sum(cnt) AS BIGINT) AS fc FROM pos GROUP BY c
    ),
    pf AS (
        SELECT ca, cb, CAST(sum(cnt) AS BIGINT) AS freq FROM (
            SELECT a.c AS ca, b.c AS cb, a.cnt
            FROM pos a JOIN pos b ON a.w = b.w AND b.p = a.p + 1
        ) GROUP BY ca, cb
    )
    SELECT pf.ca || pf.cb AS pair, pf.freq,
           CAST(floor((1000000000.0 * pf.freq)
                      / (CAST(ua.fc AS DOUBLE) * ub.fc)) AS BIGINT)
               AS score_ppb
    FROM pf JOIN uni ua ON pf.ca = ua.c JOIN uni ub ON pf.cb = ub.c
    ORDER BY score_ppb DESC, pair
    LIMIT 20
    """,
)
def wordpiece_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iteration one of the WORDPIECE trainer under the full oracle
    gate (companion to ``bpe_first_merge``): top-20 adjacent character
    pairs by the LIKELIHOOD score freq(ab)/(freq(a)*freq(b)) — the
    objective that separates WordPiece from BPE (frequency alone).
    The score is floor-ppb of ONE double expression (multiply,
    divide, floor — identical IEEE ops in both engines, ties broken
    on the pair string): an all-integer 1e9*freq/(fa*fb) would
    overflow int64 once unigram counts pass ~3e9 — i.e. on exactly
    the corpus this engine targets — and Spark's non-ANSI mode would
    wrap silently. Doubles rank correctly to 1 ulp and the pair
    tie-break absorbs any equal-score ordering.

    At 100 TB: pair and unigram counts collapse to vocabulary size
    map-side; the score join is keyed on single characters (a tiny
    dimension); top-20 is a TakeOrdered heap."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(F.split("w", "").alias("seg"), "cnt")
    )
    uni = (
        wc.select(F.explode("seg").alias("t"), "cnt")
        .groupBy("t")
        .agg(F.sum("cnt").cast("long").alias("fc"))
    )
    pairs = wc.select(
        "cnt",
        F.explode(
            F.when(
                F.size("seg") >= 2,
                F.expr(
                    "transform(slice(seg, 1, size(seg)-1), (x, i) ->"
                    " struct(x AS a, seg[i+1] AS b))"
                ),
            ).otherwise(F.array())
        ).alias("p"),
    )
    pf = pairs.groupBy(
        F.col("p.a").alias("ca"), F.col("p.b").alias("cb")
    ).agg(F.sum("cnt").cast("long").alias("freq"))
    return (
        pf.join(
            F.broadcast(
                uni.select(F.col("t").alias("ca"), F.col("fc").alias("fa"))
            ),
            "ca",
        )
        .join(
            F.broadcast(
                uni.select(F.col("t").alias("cb"), F.col("fc").alias("fb"))
            ),
            "cb",
        )
        .select(
            F.concat("ca", "cb").alias("pair"),
            "freq",
            F.expr(
                "CAST(floor((1000000000.0 * freq)"
                " / (CAST(fa AS DOUBLE) * fb)) AS BIGINT)"
            ).alias("score_ppb"),
        )
        .orderBy(F.desc("score_ppb"), "pair")
        .limit(20)
    )


@register("wordpiece_merge_rules")
def wordpiece_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 WordPiece merge rules (rank, left, right, freq,
    score_ppb) from ``operators/bpe.py::train_wordpiece`` — the
    likelihood-objective sibling of ``bpe_merge_rules``. Rows-only
    for the same reason as the BPE twins (iterative: each round's
    input depends on the previous argmax); exact merge-for-merge
    parity against a pure-Python reference (same integer-ppb floors)
    is asserted in tests/test_bpe.py, and ``wordpiece_first_merge``
    is iteration one under the full oracle gate."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mapreduce511_spark.operators.bpe import train_wordpiece

    docs = load_table(spark, sf_dir, "documents")
    merges = train_wordpiece(docs, 8)
    rows = [
        (i + 1, a, b, freq, score)
        for i, (a, b, freq, score) in enumerate(merges)
    ]
    schema = StructType(
        [
            StructField("rank", LongType()),
            StructField("left", StringType()),
            StructField("right", StringType()),
            StructField("freq", LongType()),
            StructField("score_ppb", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


@register(
    "char_entropy_by_lang",
    oracle="""
    WITH chars AS (
        SELECT lang, unnest(string_split(text, '')) AS c FROM documents
    ),
    freq AS (
        SELECT lang, c, count(*) AS n FROM chars GROUP BY lang, c
    ),
    tot AS (
        SELECT lang, CAST(sum(n) AS BIGINT) AS total,
               count(*) AS alphabet
        FROM freq GROUP BY lang
    )
    SELECT f.lang, t.alphabet, t.total AS n_chars,
           round(-sum((f.n * 1.0 / t.total) * log2(f.n * 1.0 / t.total)), 4)
               AS entropy_bits
    FROM freq f JOIN tot t ON f.lang = t.lang
    GROUP BY f.lang, t.alphabet, t.total
    """,
)
def char_entropy_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per language — the compressibility
    proxy a corpus profile reports next to the Zipf histogram (low
    entropy flags repeated boilerplate or degenerate alphabets; ~4.1
    bits is typical English text with spaces). One char explode into
    a (lang, char) count — map-combinable, alphabet-sized output —
    then the entropy sum folds per language over at most a few
    hundred rows. The explode is the only corpus-sized step and it
    carries single characters.

    Reference basis: extension tier — text-quality family
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(F.split("text", "")).alias("c"))
        .groupBy("lang", "c")
        .agg(F.count("*").alias("n"))
    )
    tot = freq.groupBy("lang").agg(
        F.sum("n").alias("total"), F.count("*").alias("alphabet")
    )
    p = F.col("n") / F.col("total")
    return (
        freq.join(F.broadcast(tot), "lang")
        .groupBy("lang", "alphabet", F.col("total").alias("n_chars"))
        .agg(F.round(-F.sum(p * F.log2(p)), 4).alias("entropy_bits"))
    )


@register(
    "padding_waste_by_bucket",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, len({_SQL_TOKENS}) AS n_tok FROM documents
    ), bucketed AS (
        SELECT n_tok,
               CAST(CASE WHEN n_tok <= 16 THEN 16
                    ELSE power(2, ceil(log2(n_tok))) END AS BIGINT)
                   AS bucket
        FROM lens
    )
    SELECT bucket,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS real_tokens,
           CAST(bucket * count(*) AS BIGINT) AS padded_tokens,
           CAST(bucket * count(*) - sum(n_tok) AS BIGINT) AS wasted_tokens,
           CAST(sum(n_tok) * 10000 // (bucket * count(*)) AS BIGINT)
               AS efficiency_bp
    FROM bucketed
    GROUP BY bucket
    """,
)
def padding_waste_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-efficiency census for length-bucketed training batches:
    docs bucket to the next power-of-two token length (floor 16), and
    per bucket the query reports real vs padded token counts and the
    utilization in basis points — THE number that decides whether a
    batching scheme wastes accelerator FLOPs (unbucketed padding to a
    global max wastes 50-90% on real corpora; power-of-two bucketing
    caps waste at <50% per bucket by construction, asserted in
    tests/test_text_extra.py). One linear pass + a ~60-group
    aggregate; exact integer arithmetic end to end (floor-div basis
    points) so the oracle matches bit for bit.

    Reference basis: extension tier — training-batch prep family
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokenize("text"))
    bucket = F.when(n_tok <= 16, F.lit(16)).otherwise(
        F.pow(F.lit(2.0), F.ceil(F.log2(n_tok))).cast("long")
    )
    lens = docs.select(n_tok.alias("n_tok"), bucket.alias("bucket"))
    padded = F.col("bucket") * F.count("*")
    return lens.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("real_tokens"),
        padded.cast("long").alias("padded_tokens"),
        (padded - F.sum("n_tok")).cast("long").alias("wasted_tokens"),
        F.floor(F.sum("n_tok") * 10000 / padded)
        .cast("long")
        .alias("efficiency_bp"),
    )


@register(
    "doc_chunk_census",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, len({_SQL_TOKENS}) AS n_tok FROM documents
    ), chunks AS (
        -- chunk_size 512, stride 384 (128-token overlap): a doc of
        -- n tokens yields 1 chunk if n <= 512, else
        -- ceil((n - 512) / 384) + 1; the last chunk is short.
        SELECT doc_id, n_tok,
               CASE WHEN n_tok <= 512 THEN 1
                    ELSE CAST(ceil((n_tok - 512) / 384.0) AS BIGINT) + 1
               END AS n_chunks
        FROM lens
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS corpus_tokens,
           CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
           CAST(sum(CASE WHEN n_chunks > 1
                         THEN (n_chunks - 1) * 128 ELSE 0 END) AS BIGINT)
               AS overlap_tokens,
           CAST(max(n_chunks) AS BIGINT) AS max_chunks_per_doc
    FROM chunks
    """,
)
def doc_chunk_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking census (chunk 512, stride 384 → 128
    overlap): how many training chunks the corpus yields, how many
    duplicated overlap tokens the stride costs, and the per-doc
    maximum — the dimensioning numbers for a context-window prep job
    (cf. ``context_pack_stats`` for the packing-side twin). The chunk
    count is closed-form in the token length, so the census needs one
    linear pass and a scalar aggregate; the chunk EXPANSION itself
    (explode to one row per chunk) is the same arithmetic applied to
    ``sequence()``, shuffle-free.

    Reference basis: extension tier — training-batch prep family
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokenize("text"))
    n_chunks = F.when(n_tok <= 512, F.lit(1).cast("long")).otherwise(
        F.ceil((n_tok - 512) / F.lit(384.0)) + 1
    )
    lens = docs.select(
        n_tok.alias("n_tok"), n_chunks.alias("n_chunks")
    )
    return lens.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("corpus_tokens"),
        F.sum("n_chunks").cast("long").alias("total_chunks"),
        F.sum(
            F.when(
                F.col("n_chunks") > 1, (F.col("n_chunks") - 1) * 128
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("overlap_tokens"),
        F.max("n_chunks").cast("long").alias("max_chunks_per_doc"),
    )


@register(
    "vocab_coverage_curve",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKENS}) AS w FROM documents
    ), freq AS (
        SELECT w, count(*) AS c FROM toks GROUP BY w
    ), hist AS (
        SELECT c, count(*) AS nw FROM freq GROUP BY c
    ), cum AS (
        SELECT c, nw,
               sum(nw)     OVER (ORDER BY c DESC) AS w_cum,
               sum(nw * c) OVER (ORDER BY c DESC) AS m_cum
        FROM hist
    ), tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS nv
        FROM freq
    ), ks AS (
        SELECT unnest([10, 100, 1000, 10000]) AS k
    )
    SELECT CAST(k AS BIGINT) AS vocab_size,
           CAST(least(k, (SELECT nv FROM tot)) AS BIGINT) AS words_used,
           CAST(sum(CASE WHEN w_cum <= k THEN nw * c
                         WHEN w_cum - nw < k THEN (k - (w_cum - nw)) * c
                         ELSE 0 END) AS BIGINT) AS covered_tokens,
           CAST(sum(CASE WHEN w_cum <= k THEN nw * c
                         WHEN w_cum - nw < k THEN (k - (w_cum - nw)) * c
                         ELSE 0 END) * 10000
                // (SELECT t FROM tot) AS BIGINT) AS coverage_bp
    FROM cum, ks GROUP BY k
    """,
)
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage of the top-k vocabulary for k in {10, 100,
    1k, 10k} — the curve that sizes a tokenizer's vocab (where it
    flattens, extra entries buy nothing). Scale-honest formulation:
    NO global ranking of the vocabulary. Words with equal count
    contribute identically to top-k coverage, so the curve is exact
    from the COUNT-OF-COUNTS histogram alone: cumulate (words, mass)
    over descending count classes — a table of distinct count values,
    thousands of rows at any corpus size — and interpolate the class
    containing rank k. The corpus-sized work is one map-combinable
    word count; the window runs over the tiny histogram, never the
    vocabulary (a rank-based window over billions of vocab entries
    would be the single-reducer sort this avoids). The oracle states
    the identical histogram arithmetic, making the result tie-order
    independent by construction.

    Reference basis: extension tier — tokenizer-design family next to
    ``token_freq_histogram`` (same histogram, different readout) and
    ``operators/bpe.py``."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    hist = freq.groupBy("c").agg(F.count("*").alias("nw"))
    # window over the count-of-counts histogram: tiny by construction
    win = Window.orderBy(F.desc("c"))
    cum = hist.select(
        "c",
        "nw",
        F.sum("nw").over(win).alias("w_cum"),
        F.sum(F.col("nw") * F.col("c")).over(win).alias("m_cum"),
    )
    # totals from the HISTOGRAM, not a second pass over freq: t =
    # sum(c*nw), nv = sum(nw) — identical values, one corpus
    # aggregation instead of two (freq feeds only the hist branch).
    tot = hist.agg(
        F.sum(F.col("c") * F.col("nw")).cast("long").alias("t"),
        F.sum("nw").cast("long").alias("nv"),
    )
    ks = spark.range(0).sparkSession.createDataFrame(
        [(10,), (100,), (1000,), (10000,)], "k long"
    )
    part = F.when(
        F.col("w_cum") <= F.col("k"), F.col("nw") * F.col("c")
    ).when(
        F.col("w_cum") - F.col("nw") < F.col("k"),
        (F.col("k") - (F.col("w_cum") - F.col("nw"))) * F.col("c"),
    ).otherwise(F.lit(0))
    covered = F.sum(part).cast("long")
    return (
        cum.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy("k", "t", "nv")
        .agg(covered.alias("covered_tokens"))
        .select(
            F.col("k").cast("long").alias("vocab_size"),
            F.least("k", "nv").cast("long").alias("words_used"),
            "covered_tokens",
            F.floor(F.col("covered_tokens") * 10000 / F.col("t"))
            .cast("long")
            .alias("coverage_bp"),
        )
    )


@register(
    "doc_chunks_expanded",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, len({_SQL_TOKENS}) AS n_tok FROM documents
    ), counted AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok <= 512 THEN 1
                    ELSE CAST(ceil((n_tok - 512) / 384.0) AS BIGINT) + 1
               END AS n_chunks
        FROM lens
    ), expanded AS (
        SELECT doc_id, n_tok,
               unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
        FROM counted
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_idx * 384 AS BIGINT) AS start_tok,
           CAST(least(n_tok - chunk_idx * 384, 512) AS BIGINT) AS chunk_len
    FROM expanded
    """,
)
def doc_chunks_expanded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chunk EXPANSION twin of ``doc_chunk_census``: one row per
    training chunk (doc_id, chunk_idx, token offset, length) for
    chunk 512 / stride 384. ``sequence()`` + ``explode`` generate the
    schedule arithmetically from the token count — shuffle-free (the
    explode is a narrow transformation; output partitioning follows
    the input scan), and the slice boundaries are closed-form, so a
    downstream ``slice(tokens, start+1, len)`` materializes chunk
    text where the data lives. The last chunk of a long doc is short
    by construction (no padding here — padding policy is
    ``padding_waste_by_bucket``'s subject).

    Reference basis: extension tier — training-batch prep family
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokenize("text"))
    n_chunks = F.when(n_tok <= 512, F.lit(1).cast("long")).otherwise(
        F.ceil((n_tok - 512) / F.lit(384.0)) + 1
    )
    base = docs.select(
        "doc_id", n_tok.cast("long").alias("n_tok"), n_chunks.alias("n_chunks")
    )
    return base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
        ).alias("chunk_idx"),
        "n_tok",
    ).select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * 384).cast("long").alias("start_tok"),
        F.least(
            F.col("n_tok") - F.col("chunk_idx") * 384, F.lit(512).cast("long")
        )
        .cast("long")
        .alias("chunk_len"),
    )


@register(
    "bigram_logprob_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_SQL_TOKENS} AS tokens FROM documents
    ), pos AS (
        SELECT doc_id, lang, unnest(tokens) AS w,
               unnest(range(len(tokens))) AS p
        FROM toks
    ), big AS (
        SELECT a.doc_id, a.lang, a.w AS w1, b.w AS w2
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.p = a.p + 1
    ), bfreq AS (
        SELECT w1, w2, count(*) AS bc FROM big GROUP BY w1, w2
    ), ufreq AS (
        -- prefix occurrences = unigram count over non-final positions
        SELECT w1, CAST(sum(bc) AS BIGINT) AS uc FROM bfreq GROUP BY w1
    ), scored AS (
        SELECT g.doc_id, g.lang,
               avg(-ln(f.bc * 1.0 / u.uc)) AS nll
        FROM big g
        JOIN bfreq f ON g.w1 = f.w1 AND g.w2 = f.w2
        JOIN ufreq u ON g.w1 = u.w1
        GROUP BY g.doc_id, g.lang
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(nll), 4) AS mean_nll,
           round(min(nll), 4) AS min_nll,
           round(max(nll), 4) AS max_nll
    FROM scored GROUP BY lang
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram CONDITIONAL surprisal per document, rolled up per
    language — the next rung above ``unigram_logprob_score`` on the
    perplexity-proxy ladder: P(w2 | w1) = count(w1 w2) / count(w1 as
    a prefix), so predictable word ORDER (boilerplate, templates)
    scores low even when the unigram mix looks organic. Bigrams come
    from one array-transform pass (no positional self-join
    Spark-side); the bigram-frequency join is keyed on the bigram
    hash and the prefix totals derive from the bigram counts
    themselves (sum per w1 — no second corpus pass). Docs with fewer
    than two tokens drop out (no bigrams), same as the oracle's join
    semantics.

    Reference basis: extension tier — text-quality family
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", tokenize("text").alias("ts"))
    big = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("ts") >= 2,
                F.expr(
                    "transform(slice(ts, 1, size(ts)-1),"
                    " (x, i) -> struct(x AS w1, ts[i+1] AS w2))"
                ),
            ).otherwise(F.array())
        ).alias("g"),
    ).select("doc_id", "lang", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    bfreq = big.groupBy("w1", "w2").agg(F.count("*").alias("bc"))
    ufreq = bfreq.groupBy("w1").agg(F.sum("bc").cast("long").alias("uc"))
    scored = (
        big.join(bfreq, ["w1", "w2"])
        .join(ufreq, "w1")
        .groupBy("doc_id", "lang")
        .agg(F.avg(-F.log(F.col("bc") / F.col("uc"))).alias("nll"))
    )
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("nll"), 4).alias("mean_nll"),
        F.round(F.min("nll"), 4).alias("min_nll"),
        F.round(F.max("nll"), 4).alias("max_nll"),
    )


@register(
    "pii_screen_census",
    oracle="""
    WITH flags AS (
        SELECT doc_id, lang,
               CASE WHEN regexp_matches(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
                    THEN 1 ELSE 0 END AS has_email,
               CASE WHEN regexp_matches(text,
                    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')
                    THEN 1 ELSE 0 END AS has_ipv4,
               CASE WHEN regexp_matches(text, '\\b[0-9a-fA-F]{32,}\\b')
                    THEN 1 ELSE 0 END AS has_long_hex,
               CASE WHEN regexp_matches(text,
                    '\\b\\d{3}-\\d{2}-\\d{4}\\b')
                    THEN 1 ELSE 0 END AS has_ssn_shape
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(has_email) AS BIGINT) AS docs_with_email,
           CAST(sum(has_ipv4) AS BIGINT) AS docs_with_ipv4,
           CAST(sum(has_long_hex) AS BIGINT) AS docs_with_long_hex,
           CAST(sum(has_ssn_shape) AS BIGINT) AS docs_with_ssn_shape,
           CAST(sum(CASE WHEN has_email + has_ipv4 + has_long_hex
                              + has_ssn_shape > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged
    FROM flags GROUP BY lang
    """,
)
def pii_screen_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / secret-material screen per language — the redaction
    gate a training-data pipeline runs before anything ships: per-doc
    boolean flags for email addresses, dotted-quad IPs, >=32-char hex
    runs (token/credential-shaped), and SSN-shaped digit triples,
    rolled up per language. Pure JVM-side ``rlike`` (whole-stage
    codegen, no Python), one linear scan; the patterns are
    RE2-compatible so the DuckDB oracle states them verbatim. On the
    synthetic corpus every count is zero — exactly what the oracle
    asserts; the adversarial fixture test in
    tests/test_text_extra.py injects each PII shape into a scratch
    table and checks per-flag detection.

    At 100 TB the same predicate set drives the REDACTION pass
    (regexp_replace with the same patterns) and the flags become a
    partition column so reviewers can scan quarantined docs without
    touching the clean corpus.

    Reference basis: extension tier — corpus-hygiene family next to
    ``contamination_screen`` (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    email = F.col("text").rlike(
        "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    )
    ipv4 = F.col("text").rlike(
        "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    )
    long_hex = F.col("text").rlike("\\b[0-9a-fA-F]{32,}\\b")
    ssn = F.col("text").rlike("\\b\\d{3}-\\d{2}-\\d{4}\\b")
    one = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    flags = docs.select(
        "lang",
        one(email).alias("has_email"),
        one(ipv4).alias("has_ipv4"),
        one(long_hex).alias("has_long_hex"),
        one(ssn).alias("has_ssn_shape"),
    )
    flagged = (
        F.col("has_email")
        + F.col("has_ipv4")
        + F.col("has_long_hex")
        + F.col("has_ssn_shape")
        > 0
    )
    return flags.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("has_email").cast("long").alias("docs_with_email"),
        F.sum("has_ipv4").cast("long").alias("docs_with_ipv4"),
        F.sum("has_long_hex").cast("long").alias("docs_with_long_hex"),
        F.sum("has_ssn_shape").cast("long").alias("docs_with_ssn_shape"),
        F.sum(one(flagged)).cast("long").alias("docs_flagged"),
    )


@register(
    "weighted_reservoir_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               -ln(
                   (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                             || ':wrs'), 1, 13))
                         AS BIGINT) + 1.0) / 4503599627370497.0
               ) / n_chars AS k
        FROM documents
    )
    SELECT doc_id, n_chars, round(k * 1000000, 4) AS key_micro
    FROM keyed
    ORDER BY k, doc_id
    LIMIT 50
    """,
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sampling WITHOUT replacement (Efraimidis &
    Spirakis A-ES): each doc gets key -ln(u)/w with u a DETERMINISTIC
    hash-uniform in (0,1] and w = n_chars; the k smallest keys are an
    exact weighted sample without replacement — the standard way a
    training pipeline takes 'sample 1M docs proportional to quality
    weight' in ONE distributed pass: per-partition top-k heaps merge
    on the driver (TakeOrdered), no global sort, no rejection loop,
    and re-runs pick the identical sample at any parallelism because
    u comes from md5(doc_id), not rand(). u maps the first 13 md5 hex
    digits (52 bits, exact in a double) to (0, 1] via (h+1)/(2^52+1),
    so ln() never sees 0.

    Reference basis: extension tier — sampling family (companions:
    ``stratified_sample`` rate-based, ``quality_weighted_sample``
    acceptance-based; this one is exact-size weight-proportional)."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        + 1.0
    ) / F.lit(4503599627370497.0)
    keyed = docs.select(
        "doc_id",
        "n_chars",
        (-F.log(u) / F.col("n_chars")).alias("k"),
    )
    return (
        keyed.orderBy("k", "doc_id")
        .limit(50)
        .select(
            "doc_id",
            "n_chars",
            F.round(F.col("k") * 1_000_000, 4).alias("key_micro"),
        )
    )


@register(
    "token_kl_by_lang",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest({_SQL_TOKENS}) AS word FROM documents
    ), lc AS (
        SELECT lang, word, count(*) AS cnt FROM toks GROUP BY lang, word
    ), lt AS (
        SELECT lang, sum(cnt) AS tot FROM lc GROUP BY lang
    ), cc AS (
        SELECT word, sum(cnt) AS ccnt FROM lc GROUP BY word
    ), ct AS (
        SELECT sum(ccnt) AS ctot FROM cc
    )
    SELECT lc.lang,
           CAST(max(lt.tot) AS BIGINT) AS n_tokens,
           round(sum(
               (lc.cnt / CAST(lt.tot AS DOUBLE))
               * ln((lc.cnt / CAST(lt.tot AS DOUBLE))
                    / (cc.ccnt / CAST(ct.ctot AS DOUBLE)))
           ), 6) AS kl_nats
    FROM lc
    JOIN lt ON lc.lang = lt.lang
    JOIN cc ON lc.word = cc.word
    CROSS JOIN ct
    GROUP BY lc.lang
    ORDER BY lc.lang
    """,
)
def token_kl_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence KL(P_lang || P_corpus) of each language's token
    distribution from the pooled corpus distribution — the drift
    metric a mixture-training pipeline alarms on ("is this source's
    unigram distribution diverging from the blend it was weighted
    for?"). Every term's support is guaranteed (a language's tokens
    are a subset of the corpus), so no smoothing is needed.

    Plan: one token explode feeding a (lang, word) count, then two
    tiny rollups (per-lang totals, per-word corpus counts) that join
    back BROADCAST — the only full-data shuffle is the first count,
    whose map-side combine collapses to vocabulary size. At 100 TB
    the joined sides stay vocabulary-sized (≤ millions of rows), so
    the whole divergence costs one aggregation pass.

    Reference basis: extension tier — corpus-statistics family
    (companions: ``unigram_logprob_score`` per-doc NLL,
    ``source_mixture_weights`` the blend this monitors)."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(tokenize("text")).alias("word"))
    )
    lc = toks.groupBy("lang", "word").agg(F.count("*").alias("cnt"))
    lt = lc.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    cc = lc.groupBy("word").agg(F.sum("cnt").alias("ccnt"))
    ctot = cc.agg(F.sum("ccnt").alias("ctot"))
    p_l = F.col("cnt") / F.col("tot").cast("double")
    p_c = F.col("ccnt") / F.col("ctot").cast("double")
    return (
        # cc is one row per distinct word — vocabulary-sized, grows
        # with the corpus: no broadcast hint (AQE decides). lt is
        # per-language and ctot is 1 row: hints are safe.
        lc.join(F.broadcast(lt), "lang")
        .join(cc, "word")
        .crossJoin(F.broadcast(ctot))
        .groupBy("lang")
        .agg(
            F.max("tot").cast("long").alias("n_tokens"),
            F.round(F.sum(p_l * F.log(p_l / p_c)), 6).alias("kl_nats"),
        )
        .orderBy("lang")
    )


@register(
    "chi2_distinctive_terms",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest({_SQL_TOKENS}) AS word FROM documents
    ), lc AS (
        SELECT lang, word, count(*) AS a FROM toks GROUP BY lang, word
    ), lt AS (
        SELECT lang, sum(a) AS lang_tot FROM lc GROUP BY lang
    ), wt AS (
        SELECT word, sum(a) AS word_tot FROM lc GROUP BY word
    ), n AS (
        SELECT sum(a) AS n FROM lc
    ), cells AS (
        SELECT lc.lang, lc.word, lc.a,
               wt.word_tot - lc.a AS b,
               lt.lang_tot - lc.a AS c,
               n.n - wt.word_tot - lt.lang_tot + lc.a AS d,
               n.n AS n
        FROM lc JOIN lt ON lc.lang = lt.lang
                JOIN wt ON lc.word = wt.word
                CROSS JOIN n
    ), scored AS (
        SELECT lang, word,
               round(
                   (CAST(n AS DOUBLE)
                    * CAST(a * d - b * c AS DOUBLE)
                    * CAST(a * d - b * c AS DOUBLE))
                   / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)),
                   4) AS chi2,
               row_number() OVER (
                   PARTITION BY lang ORDER BY
                   (CAST(n AS DOUBLE)
                    * CAST(a * d - b * c AS DOUBLE)
                    * CAST(a * d - b * c AS DOUBLE))
                   / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d))
                   DESC, word) AS rank
        FROM cells
    )
    SELECT lang, word, chi2, rank FROM scored
    WHERE rank <= 3
    ORDER BY lang, rank
    """,
)
def chi2_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most DISTINCTIVE tokens per language by chi-square over
    the 2x2 contingency table (token-in-lang vs token-elsewhere) —
    the classic feature-selection / "what words characterize this
    source" statistic (Manning & Schütze ch. 5). The determinant
    a*d - b*c is computed as an exact BIGINT, cast to double ONCE,
    and the rest is a single mirrored float expression, so Spark and
    DuckDB agree bit-for-bit.

    Plan: same single token-count shuffle as ``token_kl_by_lang``
    with broadcast margins; the ranking window partitions by lang
    over vocabulary-sized input. Scales identically.

    Reference basis: extension tier — corpus-statistics family
    (companion: ``tfidf_top_terms``, which ranks within-document;
    this ranks within-language against the rest of the corpus)."""
    from pyspark.sql.window import Window

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("lang", F.explode(tokenize("text")).alias("word"))
    )
    lc = toks.groupBy("lang", "word").agg(F.count("*").alias("a"))
    lt = lc.groupBy("lang").agg(F.sum("a").alias("lang_tot"))
    wt = lc.groupBy("word").agg(F.sum("a").alias("word_tot"))
    n = lc.agg(F.sum("a").alias("n"))
    cells = (
        # wt is one row per distinct word — vocabulary-sized, grows
        # with the corpus: no broadcast hint. lt is per-language and
        # n is 1 row: hints are safe.
        lc.join(F.broadcast(lt), "lang")
        .join(wt, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "word",
            "a",
            (F.col("word_tot") - F.col("a")).alias("b"),
            (F.col("lang_tot") - F.col("a")).alias("c"),
            (F.col("n") - F.col("word_tot") - F.col("lang_tot") + F.col("a"))
            .alias("d"),
            "n",
        )
    )
    det = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    chi2 = (F.col("n").cast("double") * det * det) / (
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc(chi2), F.asc("word"))
    return (
        cells.select(
            "lang",
            "word",
            F.round(chi2, 4).alias("chi2"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3)
        .orderBy("lang", "rank")
    )


@register(
    "bigram_entropy_rate",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_SQL_TOKENS} AS tokens FROM documents
    ), pos AS (
        SELECT doc_id, lang, unnest(tokens) AS w,
               unnest(range(len(tokens))) AS p
        FROM toks
    ), uni AS (
        SELECT lang, w, count(*) AS c FROM pos GROUP BY lang, w
    ), ut AS (
        SELECT lang, sum(c) AS t FROM uni GROUP BY lang
    ), hu AS (
        SELECT uni.lang,
               -sum((uni.c / CAST(ut.t AS DOUBLE))
                    * ln(uni.c / CAST(ut.t AS DOUBLE))) AS h
        FROM uni JOIN ut ON uni.lang = ut.lang GROUP BY uni.lang
    ), bi AS (
        SELECT a.lang, a.w || ' ' || b.w AS g, count(*) AS c
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.p = a.p + 1
        GROUP BY a.lang, g
    ), bt AS (
        SELECT lang, sum(c) AS t FROM bi GROUP BY lang
    ), hb AS (
        SELECT bi.lang,
               -sum((bi.c / CAST(bt.t AS DOUBLE))
                    * ln(bi.c / CAST(bt.t AS DOUBLE))) AS h
        FROM bi JOIN bt ON bi.lang = bt.lang GROUP BY bi.lang
    )
    SELECT hu.lang,
           round(hu.h, 6) + 0.0 AS h_unigram,
           round(hb.h, 6) + 0.0 AS h_bigram,
           round(hb.h - hu.h, 6) + 0.0 AS h_conditional
    FROM hu JOIN hb ON hu.lang = hb.lang
    ORDER BY hu.lang
    """,
)
def bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of each language's token process: H(next|prev) =
    H(bigram) - H(unigram) (chain rule, plug-in estimator over the
    observed distributions) — the corpus-statistics complement of
    ``char_entropy_by_lang`` (characters) and
    ``bigram_logprob_score`` (per-document surprisal): low
    conditional entropy = predictable/templated text, flagging
    machine-generated or boilerplate-heavy sources.

    Two vocabulary-keyed count shuffles (unigram, bigram), entropies
    reduced per language over vocabulary-sized inputs; float appears
    only inside the final -Σ p ln p sums (rounded 6dp — term-order
    float noise is ~1e-15 of magnitude). Scales like the wordcount
    family: map-side combine collapses the token stream to vocabulary
    size before anything shuffles.

    Reference basis: extension tier — corpus statistics
    (companions: ``token_kl_by_lang``, ``chi2_distinctive_terms``)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", "lang", tokenize("text").alias("toks"))

    def entropy(counts: DataFrame, key: str) -> DataFrame:
        tot = counts.groupBy("lang").agg(F.sum("c").alias("t"))
        p = F.col("c") / F.col("t").cast("double")
        return (
            counts.join(F.broadcast(tot), "lang")
            .groupBy("lang")
            .agg((-F.sum(p * F.log(p))).alias(key))
        )

    # One corpus scan, not two (r12, guide §2.2): the dsir gram-stream
    # trick — explode unigrams and bigrams together (tokens are
    # whitespace-split, so 'contains a space' separates the two
    # exactly), one map-side-combinable count, checkpoint the
    # vocabulary-sized table for its four consumers.
    counts = (
        toks.select(
            "lang",
            F.explode(
                F.concat(F.col("toks"), word_ngrams(F.col("toks"), 2))
            ).alias("g"),
        )
        .groupBy("lang", "g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    uni = counts.filter(~F.col("g").contains(" "))
    bi = counts.filter(F.col("g").contains(" "))
    hu = entropy(uni, "hu")
    hb = entropy(bi, "hb")
    return (
        hu.join(hb, "lang")
        .select(
            "lang",
            norm0(F.round("hu", 6)).alias("h_unigram"),
            norm0(F.round("hb", 6)).alias("h_bigram"),
            norm0(F.round(F.col("hb") - F.col("hu"), 6)).alias("h_conditional"),
        )
        .orderBy("lang")
    )


@register(
    "collocation_pmi_top20",
    oracle=f"""
    WITH {_SQL_TOKEN_POS}, uni AS (
        SELECT w, count(*) AS c FROM pos GROUP BY w
    ), ut AS (SELECT sum(c) AS t FROM uni),
    allbi AS (
        SELECT a.w AS w1, b.w AS w2, count(*) AS c
        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        GROUP BY w1, w2
    ), bt AS (SELECT sum(c) AS t FROM allbi),
    bi AS (SELECT * FROM allbi WHERE c >= 5)
    SELECT bi.w1 AS word_1, bi.w2 AS word_2, bi.c AS n_occurrences,
           round(ln((bi.c / CAST(bt.t AS DOUBLE))
                    / ((u1.c / CAST(ut.t AS DOUBLE))
                       * (u2.c / CAST(ut.t AS DOUBLE)))), 4) AS pmi
    FROM bi
    JOIN uni u1 ON bi.w1 = u1.w
    JOIN uni u2 ON bi.w2 = u2.w
    CROSS JOIN ut CROSS JOIN bt
    ORDER BY pmi DESC, word_1, word_2
    LIMIT 20
    """,
)
def collocation_pmi_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: top-20
    adjacent word pairs whose co-occurrence most exceeds independence
    (PMI = ln p(w1,w2)/(p(w1)p(w2)), Church & Hanks 1990), with a
    min-count 5 floor (raw PMI's known failure mode is promoting
    hapax pairs — the floor is the standard fix). Completes the
    association-statistics family: ``chi2_distinctive_terms`` ranks
    terms AGAINST a group, ``bigram_novelty_rate`` measures unseen
    mass, this ranks pairs BY mutual attraction — the phrase/named-
    entity candidate generator of a tokenizer pipeline.

    Same scale shape as every corpus statistic here: unigram and
    bigram counts collapse to vocabulary size map-side before
    anything shuffles; the totals ride 1-row broadcasts, the margins
    broadcast joins, and top-20 is TakeOrdered.

    Reference basis: extension tier — corpus statistics
    (SURVEY.md §7 M7 text-analysis family)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    # One corpus scan, not two (r12, guide §2.2): explode unigrams and
    # bigrams together (the dsir gram-stream trick — tokens are
    # whitespace-split, so 'contains a space' separates the classes
    # exactly) into ONE vocabulary-sized count table; its consumers
    # (uni -> total + two margin broadcasts; allbi -> total + floored
    # pairs) read the single checkpointed materialization, so the
    # corpus tokenize+count runs once per invocation, not ~5x.
    counts = (
        toks.select(
            F.explode(
                F.concat(F.col("toks"), word_ngrams(F.col("toks"), 2))
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    uni = counts.filter(~F.col("g").contains(" ")).select(
        F.col("g").alias("w"), "c"
    )
    ut = uni.agg(F.sum("c").alias("ut"))
    allbi = counts.filter(F.col("g").contains(" "))
    bt = allbi.agg(F.sum("c").alias("bt"))
    bi = allbi.filter(F.col("c") >= 5).select(
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        "c",
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.log(
        (F.col("c") / F.col("bt").cast("double"))
        / (
            (F.col("c1") / F.col("ut").cast("double"))
            * (F.col("c2") / F.col("ut").cast("double"))
        )
    )
    return (
        # u1/u2 are one row per distinct unigram — vocabulary-sized,
        # grows with the corpus: no broadcast hints. ut/bt are 1-row
        # totals: hints are safe.
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(ut))
        .crossJoin(F.broadcast(bt))
        .select(
            F.col("w1").alias("word_1"),
            F.col("w2").alias("word_2"),
            F.col("c").alias("n_occurrences"),
            F.round(pmi, 4).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "word_1", "word_2")
        .limit(20)
    )


@register(
    "good_turing_unseen_mass",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_SQL_TOKENS} AS tokens FROM documents
    ), pos AS (
        SELECT doc_id, lang, unnest(tokens) AS w,
               unnest(range(len(tokens))) AS p
        FROM toks
    ), wc AS (
        SELECT a.lang, a.w || ' ' || b.w || ' ' || c.w AS gram,
               count(*) AS cnt
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
        GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(cnt) AS BIGINT)                          AS n_grams,
           count(*)                                          AS vocab_size,
           CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                                                             AS hapax_count,
           CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT)
                                                             AS dis_count,
           CAST((1000000 * CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)
                                AS BIGINT))
                // CAST(sum(cnt) AS BIGINT) AS BIGINT)       AS unseen_mass_ppm
    FROM wc
    GROUP BY lang
    ORDER BY lang
    """,
)
def good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-probability mass per language: the chance
    the NEXT word trigram is one never seen in the corpus, estimated
    by N1/N (the hapax share — Good 1953, the estimator behind every
    smoothed LM and the 'how much tail am I missing' answer for
    corpus coverage planning). Computed over trigrams, where this
    corpus actually has a tail (its unigram vocabulary is tiny and
    fully saturated — N1 would be 0). Alongside: trigram vocabulary
    size and dis-legomena count (the inputs to the
    r* = (r+1)N_{{r+1}}/N_r adjusted counts).

    All arithmetic is integer (floor-divided ppm), so the oracle hash
    cannot drift on rounding modes. Scale shape: the only shuffle is
    the vocabulary-sized (lang, gram) count — partial aggregation
    collapses the gram stream map-side; the per-language rollup is
    five combinable sums over the vocabulary.

    Reference basis: extension tier — corpus statistics
    (SURVEY.md §7 M7 text-analysis family)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    wc = (
        docs.select(
            "lang",
            F.explode(word_ngrams(tokenize("text"), 3)).alias("gram"),
        )
        .groupBy("lang", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    one = F.when(F.col("cnt") == 1, 1).otherwise(0)
    two = F.when(F.col("cnt") == 2, 1).otherwise(0)
    return (
        wc.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count("*").alias("vocab_size"),
            F.sum(one).alias("hapax_count"),
            F.sum(two).alias("dis_count"),
        )
        .select(
            "lang",
            "n_grams",
            "vocab_size",
            "hapax_count",
            "dis_count",
            # Integer DIV, not floor(double /): the exact-quotient case
            # (1e6*N1 a multiple of N) must not land one ulp below.
            F.expr("(1000000 * hapax_count) DIV n_grams").alias(
                "unseen_mass_ppm"
            ),
        )
        .orderBy("lang")
    )


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH d AS (
        SELECT lang,
               len({_SQL_TOKENS})                                AS n_words,
               length(regexp_replace(text, '\\s', '', 'g'))      AS n_glyph,
               length(regexp_replace(text, '[^A-Z]', '', 'g'))   AS n_upper,
               length(regexp_replace(text, '[^0-9]', '', 'g'))   AS n_digit
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN n_words < 20 THEN 1 ELSE 0 END) AS BIGINT)
               AS fail_short,
           CAST(sum(CASE WHEN n_glyph < 3 * n_words
                           OR n_glyph > 12 * n_words THEN 1 ELSE 0 END)
                AS BIGINT) AS fail_wordlen,
           CAST(sum(CASE WHEN 2 * n_upper > n_glyph THEN 1 ELSE 0 END)
                AS BIGINT) AS fail_caps,
           CAST(sum(CASE WHEN 5 * n_digit > n_glyph THEN 1 ELSE 0 END)
                AS BIGINT) AS fail_digit,
           CAST(sum(CASE WHEN n_words >= 20
                          AND n_glyph >= 3 * n_words
                          AND n_glyph <= 12 * n_words
                          AND 2 * n_upper <= n_glyph
                          AND 5 * n_digit <= n_glyph
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM d
    GROUP BY lang
    ORDER BY lang
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based quality filter census in the Gopher/C4 style (Rae et
    al. 2021 §A1): per language, how many documents each named rule
    would remove — too few words (<20), mean word length outside
    [3,12] glyphs, majority-uppercase, digit-heavy (>20% of glyphs) —
    plus the docs passing every rule. Rule thresholds are stated as
    integer cross-multiplications (``n_glyph < 3*n_words``, never
    ``n_glyph/n_words < 3.0``), so the census is float-free and the
    boundary doc lands on the same side in both engines.

    This is the screening companion to the continuous
    ``quality_score``: production pipelines run the cheap rule gate
    first (pure per-row codegen expressions, no shuffle until the
    per-language rollup — at 100 TB this is a map-only pass emitting
    |langs| rows).

    Reference basis: extension tier — text quality scoring
    (SURVEY.md §7 M7)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok, n_glyph, n_upper, n_digit = _quality_features()
    d = docs.select(
        "lang",
        n_tok.alias("n_words"),
        n_glyph.alias("n_glyph"),
        n_upper.alias("n_upper"),
        n_digit.alias("n_digit"),
    )
    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    short = F.col("n_words") < 20
    wordlen = (F.col("n_glyph") < 3 * F.col("n_words")) | (
        F.col("n_glyph") > 12 * F.col("n_words")
    )
    caps = 2 * F.col("n_upper") > F.col("n_glyph")
    digit = 5 * F.col("n_digit") > F.col("n_glyph")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            cnt(short).alias("fail_short"),
            cnt(wordlen).alias("fail_wordlen"),
            cnt(caps).alias("fail_caps"),
            cnt(digit).alias("fail_digit"),
            cnt(~short & ~wordlen & ~caps & ~digit).alias("pass_all"),
        )
        .orderBy("lang")
    )


@register(
    "temperature_mixture_sample",
    oracle="""
    WITH n AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ), mn AS (
        SELECT min(n_docs) AS n_min FROM n
    ), r AS (
        SELECT n.lang, n.n_docs,
               CAST(floor(sqrt(CAST(m.n_min AS DOUBLE) / n.n_docs) * 10000)
                    AS BIGINT) AS rate_bp
        FROM n, mn m
    ), h AS (
        SELECT lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10000 AS bucket
        FROM documents
    )
    SELECT r.lang, r.n_docs, r.rate_bp,
           CAST(sum(CASE WHEN h.bucket < r.rate_bp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM h JOIN r ON h.lang = r.lang
    GROUP BY r.lang, r.n_docs, r.rate_bp
    """,
)
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (alpha = 0.5): each
    language's acceptance rate is proportional to p_l^(alpha-1) —
    i.e. sqrt(n_min / n_l), normalized so the rarest language keeps
    100% — the multilingual-mixture primitive (mBERT/XLM-R style)
    that upsamples tails without the uniform target of
    ``source_mixture_weights``. Admission is the deterministic
    md5-bucket test (same doc -> same verdict at any parallelism);
    rates come from an exact integer ratio -> sqrt -> floor, so Spark
    and the oracle compute the identical basis-point threshold.

    100 TB design: the rate table is language-dimension-sized and
    broadcasts; admission is a map-side predicate on a hash of the
    stable id; the census is a map-combinable aggregate. One corpus
    scan total.

    Reference basis: extension tier — deterministic-hash sampling
    family (deterministic_split, stratified_sample,
    quality_weighted_sample)."""
    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    n_min = n.agg(F.min("n_docs").alias("n_min"))
    rates = n.crossJoin(F.broadcast(n_min)).select(
        "lang",
        "n_docs",
        F.floor(
            F.sqrt(F.col("n_min").cast("double") / F.col("n_docs")) * 10000
        )
        .cast("long")
        .alias("rate_bp"),
    )
    bucket = hash60(F.col("doc_id").cast("string")) % 10000
    return (
        docs.select("lang", bucket.alias("bucket"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "rate_bp")
        .agg(
            F.sum((F.col("bucket") < F.col("rate_bp")).cast("long")).alias(
                "n_kept"
            )
        )
    )


@register("bpe_encode_census")
def bpe_encode_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a trained BPE tokenizer to the corpus (the encode side of
    ``train_bpe`` — together they complete the tokenizer story: learn
    merges, then measure the encoded corpus). 16 merges are learned
    from the corpus itself, then every DISTINCT word is encoded once
    by replaying the merge rules in rank order with the trainer's own
    greedy left-to-right fold; per-language token totals come from
    joining the encoded vocabulary back to (lang, word) frequencies.

    No DuckDB oracle: the merge table is data-dependent (an iterative
    argmax, not SQL-expressible); exact parity vs a pure-Python
    train+encode reference is asserted in tests/test_bpe.py instead
    (the same treatment as bpe_merge_rules).

    100 TB design: encoding cost is paid per word TYPE, not per token
    — the vocabulary is orders of magnitude smaller than the stream
    at any scale, and the 16 interpreted folds run over it in one
    fused projection. The (lang, word) frequency table joins the
    encoded vocab on the word key (AQE picks broadcast when the vocab
    fits); the census is a map-combinable aggregate.

    Reference basis: extension tier — tokenizer primitive for the LLM
    data pipeline (no analog in /root/reference)."""
    from mapreduce511_spark.operators.bpe import _MERGE_FOLD, _sql_str, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, 16)
    freqs = (
        docs.select("lang", F.explode(tokenize("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )
    enc = freqs.select("w").distinct().select("w", F.split("w", "").alias("seg"))
    for a, b, _ in merges:
        enc = enc.select(
            "w", F.expr(_MERGE_FOLD.format(a=_sql_str(a), b=_sql_str(b))).alias("seg")
        )
    enc = enc.select("w", F.size("seg").alias("n_tok"))
    return (
        freqs.join(enc, "w")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("stream_words"),
            F.sum(F.col("cnt") * F.col("n_tok")).cast("long").alias("bpe_tokens"),
            F.sum(F.col("cnt") * F.length("w")).cast("long").alias("stream_chars"),
        )
        .withColumn(
            "chars_per_token_milli",
            F.round(F.col("stream_chars") * 1000.0 / F.col("bpe_tokens"))
            .cast("long"),
        )
    )


_HELDOUT_HIST_MEMO: dict = {}


def _heldout_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (lang, tr, w1, w2, c) bigram count table over the
    deterministic md5 train/val split — the standing relation BOTH
    held-out perplexity queries (``heldout_bigram_ppl`` /
    ``heldout_kneser_ney_ppl``) score against, session-memoized."""
    import os

    return session_memo(
        _HELDOUT_HIST_MEMO,
        spark,
        [os.path.join(sf_dir, "documents.parquet")],
        lambda: _build_heldout_hist(spark, sf_dir),
    )


def _build_heldout_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    big = (
        spread_scan(docs)
        .select(
            "lang",
            bucket.alias("b"),
            F.explode(word_ngrams(tokenize("text"), 2)).alias("g"),
        )
        .select(
            "lang",
            "b",
            F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
        )
    )
    # One corpus scan (r12, guide §2.2): the single count table serves
    # as train bigram counts AND val type stream — Σ count·nll over
    # val types equals Σ nll over val occurrences in exact integer
    # micro-nats. Checkpointed once (the r6 fan-out rule).
    hist = (
        big.filter(F.col("b") < 90)
        .groupBy("lang", (F.col("b") < 80).alias("tr"), "w1", "w2")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    return hist



# Bigrams big(lang, b, w1, w2) with the doc's md5 bucket b (< 80
# train, 80-89 validation) and the train counts bfreq(lang, w1, w2,
# bc); the per-lang perplexity of scored(lang, nll_micro). Shared by
# the add-one and Kneser-Ney held-out models
_HELDOUT_BIGRAMS = f"""split AS (
        SELECT doc_id, lang, {_SQL_TOKENS} AS tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS b
        FROM documents
    ), pos AS (
        SELECT doc_id, lang, b, unnest(tokens) AS w,
               unnest(range(len(tokens))) AS p
        FROM split
    ), big AS (
        SELECT a.lang, a.b, a.w AS w1, x.w AS w2
        FROM pos a JOIN pos x
          ON a.doc_id = x.doc_id AND x.p = a.p + 1
    ), bfreq AS (
        SELECT lang, w1, w2, count(*) AS bc
        FROM big WHERE b < 80 GROUP BY lang, w1, w2
    )"""
_PPL_BY_LANG = """
    SELECT lang,
           count(*) AS n_val_bigrams,
           round(CAST(sum(nll_micro) AS DOUBLE)
                 / (1000000.0 * count(*)), 4) AS cross_entropy,
           round(exp(CAST(sum(nll_micro) AS DOUBLE)
                 / (1000000.0 * count(*))), 2) AS perplexity
    FROM scored GROUP BY lang
    """


def _heldout_counts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(bfreq, val): the train bigram counts ``(lang, w1, w2, bc)`` and
    the validation bigram types ``(lang, w1, w2, vc)`` of the
    session-shared count table (see ``_heldout_hist``)."""
    hist = _heldout_hist(spark, sf_dir)
    bfreq = hist.filter(F.col("tr")).select(
        "lang", "w1", "w2", F.col("c").alias("bc")
    )
    val = hist.filter(~F.col("tr")).select(
        "lang", "w1", "w2", F.col("c").alias("vc")
    )
    return bfreq, val


def _ppl_by_lang(scored: DataFrame, prob: Column) -> DataFrame:
    """The Spark side of ``_PPL_BY_LANG``: per-language held-out
    cross-entropy and perplexity of the validation bigram types
    ``scored(lang, vc, ...)`` under the model probability ``prob``."""
    # per-bigram NLL quantized to FLOORED integer micro-nats before
    # the aggregate: integer sums are order-independent, so Spark's
    # nondeterministic partial-sum order can never move a rounding-
    # boundary value (ADVICE r4); the double division happens once,
    # on the exact integer total, identically in the oracle.
    nll_micro = F.floor(-1_000_000 * F.log(prob)).cast("long")
    n_val = F.sum("vc")
    ce = F.sum(F.col("vc") * F.col("nll_micro")).cast("double") / (
        1_000_000.0 * n_val
    )
    return (
        scored.select("lang", "vc", nll_micro.alias("nll_micro"))
        .groupBy("lang")
        .agg(
            n_val.alias("n_val_bigrams"),
            F.round(ce, 4).alias("cross_entropy"),
            F.round(F.exp(ce), 2).alias("perplexity"),
        )
    )


@register(
    "heldout_bigram_ppl",
    oracle=f"""
    WITH {_HELDOUT_BIGRAMS}, ufreq AS (
        SELECT lang, w1, CAST(sum(bc) AS BIGINT) AS uc
        FROM bfreq GROUP BY lang, w1
    ), vocab AS (
        SELECT lang, count(DISTINCT w1) AS v FROM bfreq GROUP BY lang
    ), scored AS (
        SELECT g.lang,
               CAST(floor(-1000000 * ln((COALESCE(f.bc, 0) + 1) * 1.0
                   / (COALESCE(u.uc, 0) + vo.v))) AS BIGINT) AS nll_micro
        FROM (SELECT * FROM big WHERE b >= 80 AND b < 90) g
        LEFT JOIN bfreq f
          ON g.lang = f.lang AND g.w1 = f.w1 AND g.w2 = f.w2
        LEFT JOIN ufreq u ON g.lang = u.lang AND g.w1 = u.w1
        JOIN vocab vo ON g.lang = vo.lang
    ){_PPL_BY_LANG}""",
)
def heldout_bigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT perplexity per language: a Laplace-smoothed bigram LM
    is trained on the hash-split train shard (md5 bucket < 80) and
    scored on the val shard (bucket 80-89) — the LM-based quality
    measurement of the CCNet/Wikipedia-LM filtering recipe, and the
    honest-evaluation twin of ``bigram_logprob_score`` (which scores
    the corpus under a model trained on itself and therefore never
    sees an unseen bigram; this one must smooth: P(w2|w1) =
    (c(w1,w2)+1) / (c(w1)+V), V = train prefix vocabulary).

    100 TB design: train counts collapse to vocabulary size map-side
    before shuffling; the val stream LEFT-joins the count tables on
    (lang, w1[, w2]) — vocabulary-keyed equi-joins, broadcast for the
    language-dimension vocab census; one avg at the end. The split is
    the same deterministic md5 bucket every sampler here uses, so
    train/val membership is reproducible at any parallelism.

    Reference basis: extension tier — corpus statistics / quality
    family (companions: bigram_logprob_score, gopher_quality_rules,
    quality_weighted_sample)."""
    bfreq, val = _heldout_counts(spark, sf_dir)
    ufreq = bfreq.groupBy("lang", "w1").agg(F.sum("bc").alias("uc"))
    vocab = bfreq.select("lang", "w1").distinct().groupBy("lang").agg(
        F.count("*").alias("v")
    )
    prob = (F.coalesce(F.col("bc"), F.lit(0)) + 1) * 1.0 / (
        F.coalesce(F.col("uc"), F.lit(0)) + F.col("v")
    )
    return _ppl_by_lang(
        val.join(bfreq, ["lang", "w1", "w2"], "left")
        .join(ufreq, ["lang", "w1"], "left")
        .join(F.broadcast(vocab), "lang"),
        prob,
    )


@register(
    "heldout_kneser_ney_ppl",
    oracle=f"""
    WITH {_HELDOUT_BIGRAMS}, pref AS (
        SELECT lang, w1, CAST(sum(bc) AS BIGINT) AS uc,
               count(*) AS f1
        FROM bfreq GROUP BY lang, w1
    ), cont AS (
        SELECT lang, w2, count(*) AS cc FROM bfreq GROUP BY lang, w2
    ), tot AS (
        SELECT lang, count(*) AS tc, count(DISTINCT w2) AS v2
        FROM bfreq GROUP BY lang
    ), scored AS (
        SELECT g.lang,
               CAST(floor(-1000000 * ln(
                   CASE WHEN p.uc IS NULL THEN
                       (COALESCE(c.cc, 0) + 1.0) / (t.tc + t.v2 + 1.0)
                   ELSE
                       greatest(COALESCE(f.bc, 0) - 0.75, 0.0) / p.uc
                       + (0.75 * p.f1 / p.uc)
                         * ((COALESCE(c.cc, 0) + 1.0)
                            / (t.tc + t.v2 + 1.0))
                   END)) AS BIGINT) AS nll_micro
        FROM (SELECT * FROM big WHERE b >= 80 AND b < 90) g
        LEFT JOIN bfreq f
          ON g.lang = f.lang AND g.w1 = f.w1 AND g.w2 = f.w2
        LEFT JOIN pref p ON g.lang = p.lang AND g.w1 = p.w1
        LEFT JOIN cont c ON g.lang = c.lang AND g.w2 = c.w2
        JOIN tot t ON g.lang = t.lang
    ){_PPL_BY_LANG}""",
)
def heldout_kneser_ney_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram perplexity on the held-out shard
    — the KenLM/CCNet-standard estimator, upgrading the Laplace twin
    ``heldout_bigram_ppl``: P(w2|w1) = max(c(w1,w2)−D, 0)/c(w1) +
    (D·N1+(w1,·)/c(w1))·P_cont(w2), with the continuation probability
    P_cont(w2) = (N1+(·,w2)+1)/(N1+(·,·)+V₂+1) carrying an add-one
    open-vocabulary floor (a plain KN continuation assigns unseen
    heldout words zero mass; the +1 floor keeps every NLL finite and
    is stated rather than hidden). Unseen prefixes back off entirely
    to P_cont. D = 0.75 (Kneser & Ney 1995; Chen & Goodman 1999's
    recommended fixed discount). Same deterministic md5 train/val
    split (bucket <80 / 80–89) as the Laplace twin, so the two
    perplexities are directly comparable per language. (Measured
    honestly: on THIS synthetic near-uniform corpus KN reads ~1–3 ppl
    ABOVE Laplace — continuation counts only pay off under a Zipfian
    type/token split like natural text; the estimator, not the
    corpus, is what's being shipped.)

    100 TB design: continuation counts N1+ are COUNTS OF DISTINCT
    TYPES, so every statistic here collapses to vocabulary size
    map-side before any shuffle; the val stream resolves through
    three vocabulary-keyed LEFT equi-joins (bigram, prefix,
    continuation) plus a language-dimension broadcast of the
    (tc, v2) totals. Per-bigram NLL floors to integer micro-nats
    BEFORE the aggregate — integer sums are partial-order
    independent, identical to the oracle's arithmetic."""
    bfreq, val = _heldout_counts(spark, sf_dir)
    pref = bfreq.groupBy("lang", "w1").agg(
        F.sum("bc").alias("uc"), F.count("*").alias("f1")
    )
    cont = bfreq.groupBy("lang", "w2").agg(F.count("*").alias("cc"))
    tot = bfreq.groupBy("lang").agg(
        F.count("*").alias("tc"), F.countDistinct("w2").alias("v2")
    )
    pcont = (F.coalesce(F.col("cc"), F.lit(0)) + 1.0) / (
        F.col("tc") + F.col("v2") + 1.0
    )
    prob = F.when(F.col("uc").isNull(), pcont).otherwise(
        F.greatest(
            F.coalesce(F.col("bc"), F.lit(0)) - 0.75, F.lit(0.0)
        )
        / F.col("uc")
        + (0.75 * F.col("f1") / F.col("uc")) * pcont
    )
    return _ppl_by_lang(
        val.join(bfreq, ["lang", "w1", "w2"], "left")
        .join(pref, ["lang", "w1"], "left")
        .join(cont, ["lang", "w2"], "left")
        .join(F.broadcast(tot), "lang"),
        prob,
    )


@register(
    "doc_quality_features",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
               AS n_glyph,
           CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT)
               AS n_upper,
           CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
               AS n_digit,
           CAST(CASE WHEN len({_SQL_TOKENS}) > 0
                     THEN round(length(regexp_replace(text, '\\s', '', 'g'))
                                * 1000.0 / len({_SQL_TOKENS}))
                     ELSE 0 END AS BIGINT) AS mean_word_len_milli
    FROM documents
    """,
)
def doc_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality FEATURE VECTOR export — the trainer input
    a learned quality classifier (fastText/logistic, the CCNet /
    FineWeb recipe) consumes, where ``quality_score`` and
    ``gopher_quality_rules`` are fixed-threshold consumers of the
    same signals. One narrow projection per document, all-integer
    features (counts and a milli-scaled ratio), no shuffle at all —
    at 100 TB this is a map-only pass whose output partitions
    inherit the input layout.

    Reference basis: extension tier — quality family (SURVEY.md §7
    M7)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok, n_glyph, n_upper, n_digit = (
        c.cast("long") for c in _quality_features()
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        n_glyph.alias("n_glyph"),
        n_upper.alias("n_upper"),
        n_digit.alias("n_digit"),
        F.when(n_tok > 0, F.round(n_glyph * 1000.0 / n_tok))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("mean_word_len_milli"),
    )


# Quality-classifier features of each document (n_tokens, n_glyph,
# n_upper, n_digit) and their fixed linear logit in milli units: the
# scorer, its calibration census and the curriculum manifest share both
_QUALITY_FEATURES = f"""len({_SQL_TOKENS}) AS n_tokens,
               length(regexp_replace(text, '\\s', '', 'g'))    AS n_glyph,
               length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
        FROM documents"""
_QUALITY_LOGIT = """5 * least(n_tokens, 300)
               - 2 * (CASE WHEN n_glyph > 0
                           THEN (1000 * n_upper) // n_glyph ELSE 1000 END)
               - 3 * (CASE WHEN n_glyph > 0
                           THEN (1000 * n_digit) // n_glyph ELSE 1000 END)
               + (CASE WHEN n_tokens > 0
                        AND n_glyph >= 3 * n_tokens
                        AND n_glyph <= 12 * n_tokens
                       THEN 500 ELSE -500 END)
               - 800 AS logit_milli"""


def _quality_features() -> tuple[Column, Column, Column, Column]:
    """The Spark side of ``_QUALITY_FEATURES``: (n_tokens, n_glyph,
    n_upper, n_digit) of the ``text`` column, as int columns."""
    return (
        F.size(tokenize("text")),
        glyph_count("text"),
        F.length(F.regexp_replace("text", "[^A-Z]", "")),
        F.length(F.regexp_replace("text", "[^0-9]", "")),
    )


def _quality_logit(
    n_tok: Column, n_glyph: Column, n_upper: Column, n_digit: Column
) -> Column:
    """The Spark side of ``_QUALITY_LOGIT``: the fixed linear quality
    logit in integer milli units over ``_quality_features()``."""
    # integer milli-ratios with the oracle's floor-division semantics
    um = F.when(n_glyph > 0, F.floor((1000 * n_upper) / n_glyph)).otherwise(
        F.lit(1000)
    )
    dm = F.when(n_glyph > 0, F.floor((1000 * n_digit) / n_glyph)).otherwise(
        F.lit(1000)
    )
    wordlen_ok = (
        (n_tok > 0) & (n_glyph >= 3 * n_tok) & (n_glyph <= 12 * n_tok)
    )
    return (
        5 * F.least(n_tok, F.lit(300))
        - 2 * um
        - 3 * dm
        + F.when(wordlen_ok, 500).otherwise(-500)
        - 800
    ).cast("long")


@register(
    "quality_classifier_score",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, lang,
               {_QUALITY_FEATURES}
    ), scored AS (
        SELECT lang,
               {_QUALITY_LOGIT}
        FROM feat
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN logit_milli >= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
           CAST((10000 * sum(CASE WHEN logit_milli >= 0 THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS pass_bp,
           CAST(sum(logit_milli) AS BIGINT) AS sum_logit_milli,
           CAST(min(logit_milli) AS BIGINT) AS min_logit_milli,
           CAST(max(logit_milli) AS BIGINT) AS max_logit_milli
    FROM scored GROUP BY lang ORDER BY lang
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED-quality-classifier INFERENCE census: a fixed-weight
    linear classifier over the ``doc_quality_features`` signals (the
    deployment step of the CCNet/FineWeb recipe — train offline on
    the exported features, ship integer-milli weights back into the
    engine as a pure map-side expression). The logit is float-free
    (integer milli-units, cross-multiplied ratio terms, floor
    division), so pass/fail at logit >= 0 is exact in both engines;
    the weights here are demonstration values wired for this corpus's
    feature ranges — production swaps the literals, not the plan.

    At 100 TB: zero-shuffle scoring pass emitting |langs| rows; runs
    fused with the Gopher rule gate in one scan (DEPLOY.md's layered
    filter ordering).

    Reference basis: extension tier — quality family closing the
    feature-export -> classifier -> filter loop (companions:
    ``doc_quality_features``, ``gopher_quality_rules``,
    ``quality_weighted_sample``)."""
    docs = load_table(spark, sf_dir, "documents")
    logit = _quality_logit(*_quality_features())
    scored = docs.select("lang", logit.alias("logit_milli"))
    passed = F.sum(F.when(F.col("logit_milli") >= 0, 1).otherwise(0)).cast(
        "long"
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            passed.alias("n_pass"),
            F.expr("CAST((10000 * sum(CASE WHEN logit_milli >= 0 THEN 1"
                   " ELSE 0 END)) DIV count(*) AS BIGINT)").alias("pass_bp"),
            F.sum("logit_milli").cast("long").alias("sum_logit_milli"),
            F.min("logit_milli").cast("long").alias("min_logit_milli"),
            F.max("logit_milli").cast("long").alias("max_logit_milli"),
        )
        .orderBy("lang")
    )


@register(
    "quality_calibration_census",
    oracle=f"""
    WITH feat AS (
        SELECT {_QUALITY_FEATURES}
    ), scored AS (
        SELECT {_QUALITY_LOGIT},
               CASE WHEN n_tokens >= 60
                     AND n_tokens > 0
                     AND abs(n_glyph * 1.0 / n_tokens - 4.5) <= 0.2
                    THEN 1 ELSE 0 END AS y
        FROM feat
    ), binned AS (
        SELECT greatest(least(CAST(floor(logit_milli / 250.0) AS BIGINT),
                              7), -8) AS bin, logit_milli, y
        FROM scored
    )
    SELECT bin,
           count(*) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST((10000 * sum(y)) // count(*) AS BIGINT) AS pos_bp,
           CAST(min(logit_milli) AS BIGINT) AS min_logit_milli,
           CAST(max(logit_milli) AS BIGINT) AS max_logit_milli
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def quality_calibration_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability) table for the frozen quality scorer:
    bin the integer-milli logit of ``quality_classifier_score`` into
    250-milli buckets (clamped to [-8, 7]) and report, per bucket,
    how often the weak gold label (the band+threshold rule
    ``quality_classifier_train`` learns against) actually fires. A
    monotone pos_bp column means the score ranks documents correctly;
    a bucket whose observed rate diverges from its score is where the
    frozen weights mislead a threshold picker — the audit run before
    anyone tunes a cut-off on the logit.

    Fully integer (floor-divided bins and basis points; the one float
    — the mean-word-length band — is a single comparison both engines
    evaluate identically), so the whole reliability table sits under
    the exact hash gate. At 100 TB: one map-only scoring scan into a
    16-bucket aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok, n_glyph, n_upper, n_digit = _quality_features()
    logit = _quality_logit(n_tok, n_glyph, n_upper, n_digit)
    y = (
        (n_tok >= 60)
        & (n_tok > 0)
        & (F.abs(n_glyph * 1.0 / n_tok - 4.5) <= 0.2)
    ).cast("int")
    binned = docs.select(
        F.greatest(
            F.least(F.floor(logit / 250.0).cast("long"), F.lit(7)),
            F.lit(-8),
        ).alias("bin"),
        logit.alias("logit_milli"),
        y.alias("y"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr(
                "CAST((10000 * sum(y)) DIV count(*) AS BIGINT)"
            ).alias("pos_bp"),
            F.min("logit_milli").cast("long").alias("min_logit_milli"),
            F.max("logit_milli").cast("long").alias("max_logit_milli"),
        )
        .orderBy("bin")
    )


_LOGREG_FEATURES = ["x_len", "x_mwl", "x_band", "x_vowel"]
_LOGREG_ITERS = 8
_LOGREG_RIDGE = 1.0


@register("quality_classifier_train")
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the learned quality classifier — the step between
    ``doc_quality_features`` (feature export) and
    ``quality_classifier_score`` (frozen-weight map-side inference):
    distributed IRLS logistic regression (``operators/logreg.py``)
    against weak rule labels (the CCNet/FineWeb recipe: label with a
    cheap heuristic, train a smooth classifier, deploy the weights as
    a pure expression).

    Weak label: n_tokens >= 60 AND |mean_word_len - 4.5| <= 0.2 — a
    length threshold plus a BAND, so the linear model must use the
    engineered squared term ``x_band`` to represent it (it does:
    trained accuracy 0.94 at sf0.1 vs 0.63 majority class).

    Rows-only by design (iterative training): 5 weight rows, each an
    exact integer-micro multiple, plus the training accuracy. Exact
    reproducibility — per-row integer-quantized partials make every
    iteration's Gram/gradient an order- and batch-invariant int64
    sum; ``tests/test_logreg.py`` matches a pure-numpy replica
    EXACTLY, not to a tolerance.

    100 TB shape: the feature projection is one narrow map-only scan
    (checkpointed); each of the 8 Newton iterations reduces it to
    d*(d+1)=30 integers on the driver — the same driver-sized abelian
    partials discipline as the PCA Gram. Nothing else leaves the
    executors."""
    from mapreduce511_spark.operators.logreg import irls_train

    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokenize("text"))
    n_glyph = glyph_count("text")
    n_vowel = F.length(F.regexp_replace("text", "[^aeiou]", ""))
    mwl = (
        F.when(n_tok > 0, n_glyph.cast("double") / n_tok)
        .otherwise(F.lit(0.0))
    )
    vr = (
        F.when(n_glyph > 0, n_vowel.cast("double") / n_glyph)
        .otherwise(F.lit(0.0))
    )
    label = ((n_tok >= 60) & (F.abs(mwl - 4.5) <= 0.2)).cast("int")
    feats = docs.select(
        (F.least(n_tok, F.lit(300)) / 100.0).alias("x_len"),
        (mwl - 4.5).alias("x_mwl"),
        ((mwl - 4.5) * (mwl - 4.5) * 10.0).alias("x_band"),
        vr.alias("x_vowel"),
        label.alias("y"),
    ).localCheckpoint(eager=True)
    w = irls_train(
        feats,
        _LOGREG_FEATURES,
        "y",
        iters=_LOGREG_ITERS,
        ridge=_LOGREG_RIDGE,
    )
    # train accuracy with the final weights: one more scan, one long
    logit = F.lit(float(w[0]))
    for wi, c in zip(w[1:], _LOGREG_FEATURES):
        logit = logit + F.lit(float(wi)) * F.col(c)
    acc_bp = feats.agg(
        F.floor(
            10000
            * F.sum(
                ((logit >= 0) == (F.col("y") == 1)).cast("long")
            )
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("bp")
    ).first()[0]
    rows = [
        (term, int(round(float(wi) * 1_000_000)), int(acc_bp))
        for term, wi in zip(["bias", *_LOGREG_FEATURES], w)
    ]
    return spark.createDataFrame(
        rows, "term string, weight_micro long, train_acc_bp long"
    )


@register(
    "token_fertility_census",
    oracle=f"""
    WITH d AS (
        SELECT lang,
               len({_SQL_TOKENS})                            AS n_tokens,
               length(text)                                  AS n_chars,
               octet_length(encode(text))                    AS n_bytes,
               length(regexp_replace(text, '\\s', '', 'g'))  AS n_glyph
        FROM documents
    )
    SELECT lang,
           count(*)                          AS n_docs,
           CAST(sum(n_tokens) AS BIGINT)     AS total_tokens,
           CAST(sum(n_bytes) AS BIGINT)      AS total_bytes,
           CAST((1000 * sum(n_bytes)) // sum(n_tokens) AS BIGINT)
               AS bytes_per_token_milli,
           CAST((1000 * sum(n_chars)) // sum(n_tokens) AS BIGINT)
               AS chars_per_token_milli,
           CAST((1000 * (sum(n_chars) - sum(n_glyph))) // sum(n_chars)
                AS BIGINT) AS whitespace_milli
    FROM d GROUP BY lang ORDER BY lang
    """,
)
def token_fertility_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY census per language: bytes/chars per
    whitespace token and the whitespace share — the capacity numbers
    a tokenizer/compute budget is planned from (fertility differences
    across languages are why token budgets != byte budgets; the
    Chinchilla-style planning input). Integer milli-ratios via floor
    division over exact sums, so the census is float-free.

    At 100 TB: one map-side pass, |langs| output rows; the
    ``octet_length(encode())`` / ``octet_length`` distinction (UTF-8
    bytes vs characters) is the one subtlety, stated identically in
    both engines.

    Reference basis: extension tier — corpus statistics family
    (companions: ``vocab_coverage_curve``, ``token_count_bpe``)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.size(tokenize("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.octet_length("text").alias("n_bytes"),
        glyph_count("text").alias("n_glyph"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.expr("CAST((1000 * sum(n_bytes)) DIV sum(n_tokens) AS BIGINT)")
            .alias("bytes_per_token_milli"),
            F.expr("CAST((1000 * sum(n_chars)) DIV sum(n_tokens) AS BIGINT)")
            .alias("chars_per_token_milli"),
            F.expr(
                "CAST((1000 * (sum(n_chars) - sum(n_glyph)))"
                " DIV sum(n_chars) AS BIGINT)"
            ).alias("whitespace_milli"),
        )
        .orderBy("lang")
    )


@register(
    "source_mixture_census",
    oracle=f"""
    WITH d AS (
        SELECT source, lang, len({_SQL_TOKENS}) AS n_tokens FROM documents
    ), per AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               count(DISTINCT lang) AS n_langs
        FROM d GROUP BY source
    ), tot AS (
        SELECT sum(total_tokens) AS t FROM per
    )
    SELECT source, n_docs, total_tokens, n_langs,
           CAST((1000000 * total_tokens) // tot.t AS BIGINT)
               AS token_share_ppm
    FROM per, tot ORDER BY source
    """,
)
def source_mixture_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture composition by SOURCE: per corpus source, doc
    and token volume, language spread, and the source's share of the
    total token budget in ppm — the table a data-mixing plan (weights
    per source, epoch budgets) is written against, and the
    drift monitor between corpus snapshots. Floor-divided ppm over
    exact token sums.

    At 100 TB: map-side token count, |sources| rows, the grand total
    rides a 1-row broadcast — no second scan.

    Reference basis: extension tier — mixture/sampling family
    (companions: ``temperature_mixture_sample``,
    ``stratified_sample_by_lang``)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", "lang", F.size(tokenize("text")).alias("n_tokens")
    )
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )
    tot = per.agg(F.sum("total_tokens").alias("t"))
    return (
        per.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_langs",
            F.expr("CAST((1000000 * total_tokens) DIV t AS BIGINT)").alias(
                "token_share_ppm"
            ),
        )
        .orderBy("source")
    )


@register(
    "mixture_epochs_plan",
    oracle=f"""
    WITH d AS (
        SELECT source, len({_SQL_TOKENS}) AS n_tokens FROM documents
    ), per AS (
        SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tok
        FROM d GROUP BY source
    ), sq AS (
        SELECT source, tok,
               CAST(floor(sqrt(tok) * 1000) AS BIGINT) AS sq_milli
        FROM per
    ), tot AS (
        SELECT CAST(sum(sq_milli) AS BIGINT) AS s,
               CAST(sum(tok) AS BIGINT) AS t
        FROM sq
    ), weighted AS (
        -- drawn = floor(2*t*w/1e6) via t = q*1e6 + r: equals
        -- 2*q*w + floor(2*r*w/1e6) EXACTLY, and no intermediate
        -- exceeds ~5e13 — the naive 2*t*w product overflows int64
        -- once the corpus passes ~4.6e12 tokens (Spark's non-ANSI
        -- mode would wrap silently; DuckDB would error)
        SELECT source, tok,
               CAST((1000000 * sq_milli) // tot.s AS BIGINT) AS w_ppm,
               CAST(2 * (tot.t // 1000000)
                      * ((1000000 * sq_milli) // tot.s)
                    + (2 * (tot.t % 1000000)
                         * ((1000000 * sq_milli) // tot.s)) // 1000000
                    AS BIGINT) AS drawn
        FROM sq, tot
    )
    SELECT source,
           tok AS available_tokens,
           w_ppm AS weight_ppm,
           drawn AS drawn_tokens,
           CAST((1000 * drawn) // tok AS BIGINT) AS epochs_milli,
           ((1000 * drawn) // tok) > 1000 AS oversampled
    FROM weighted ORDER BY source
    """,
)
def mixture_epochs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing PLAN on top of ``source_mixture_census``: smooth
    the per-source token shares with a square-root temperature (the
    multilingual-sampling trick — tau=0.5 upweights small sources
    without letting any source dominate), normalize to ppm weights,
    and for a training budget of 2x the corpus compute each source's
    drawn tokens and epoch count in milli-epochs. ``oversampled``
    flags sources the plan repeats beyond one epoch — the signal that
    budget or weights need revisiting before a run wastes compute on
    memorized data.

    Exactness: sqrt() of an exact integer is one IEEE op, floored to
    integer milli units BEFORE the cross-source sum, so weights are
    pure integer arithmetic in both engines — no partial-sum-order
    wobble can move a floor boundary. The drawn-token multiply is
    overflow-split (t = q*1e6 + r, so drawn = 2*q*w +
    (2*r*w) DIV 1e6, identical to floor(2*t*w/1e6)): the naive
    product exceeds int64 past ~4.6e12 corpus tokens, which Spark's
    non-ANSI mode would WRAP silently at exactly the scale this
    engine targets.

    At 100 TB: one map-side token count, |sources| rows, two 1-row
    broadcast totals — same scan shape as the census it extends."""
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.size(tokenize("text")).alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("tok"))
    )
    sq = per.withColumn(
        "sq_milli", F.floor(F.sqrt(F.col("tok")) * 1000).cast("long")
    )
    tot = sq.agg(
        F.sum("sq_milli").cast("long").alias("s"),
        F.sum("tok").cast("long").alias("t"),
    )
    w_ppm = F.expr("CAST((1000000 * sq_milli) DIV s AS BIGINT)")
    drawn = F.expr(
        "CAST(2 * (t DIV 1000000) * ((1000000 * sq_milli) DIV s)"
        " + (2 * (t % 1000000) * ((1000000 * sq_milli) DIV s))"
        " DIV 1000000 AS BIGINT)"
    )
    weighted = (
        sq.join(F.broadcast(tot))
        .select(
            "source",
            "tok",
            w_ppm.alias("weight_ppm"),
            drawn.alias("drawn"),
        )
    )
    epochs = F.expr("CAST((1000 * drawn) DIV tok AS BIGINT)")
    return (
        weighted.select(
            "source",
            F.col("tok").alias("available_tokens"),
            "weight_ppm",
            F.col("drawn").alias("drawn_tokens"),
            epochs.alias("epochs_milli"),
            (epochs > 1000).alias("oversampled"),
        )
        .orderBy("source")
    )


@register(
    "curriculum_order_manifest",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id,
               {_QUALITY_FEATURES}
    ), scored AS (
        SELECT doc_id,
               {_QUALITY_LOGIT}
        FROM feat
    ), ranked AS (
        SELECT doc_id, logit_milli,
               row_number() OVER (
                   ORDER BY logit_milli DESC,
                            md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS train_rank,
               count(*) OVER () AS n
        FROM scored
    )
    SELECT doc_id, logit_milli, train_rank,
           CAST(((train_rank - 1) * 8) // n AS BIGINT) AS shard
    FROM ranked
    """,
)
def curriculum_order_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM training-order manifest: every document's global
    rank in a quality-descending training order (easy/clean first —
    the anti-curriculum flips one sort key) plus its assignment to 8
    contiguous shards — the final artifact a training run consumes
    from this engine. Ordering is fully deterministic: quality logit
    (the ``quality_classifier_score`` integer-milli linear model),
    md5 tiebreak, doc_id.

    100 TB shape — NO single-partition window: the global rank is the
    classic two-pass split. Per-logit-value counts (vocabulary-sized)
    take a cumulative offset on ONE tiny aggregated table; each doc's
    rank = its logit's offset + a row_number PARTITIONED BY logit
    (parallel, key-bounded). The oracle states the same rank as one
    ORDER BY window, which DuckDB can afford at oracle scale.

    Reference basis: extension tier — sampling/ordering family
    (companions: ``quality_weighted_sample``, ``context_pack_stats``;
    consumes ``quality_classifier_score``'s model)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    logit = _quality_logit(*_quality_features())
    scored = docs.select(
        "doc_id", logit.alias("logit_milli")
    ).localCheckpoint(eager=True)
    # pass 1: per-logit counts -> cumulative offset (tiny table; the
    # single-partition window runs over |distinct logits| rows only)
    w_off = Window.orderBy(F.desc("logit_milli")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        scored.groupBy("logit_milli")
        .agg(F.count("*").alias("c"))
        .withColumn("off", F.coalesce(F.sum("c").over(w_off), F.lit(0)))
        .drop("c")
    )
    # pass 2: parallel row_number within each logit value
    w_in = Window.partitionBy("logit_milli").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    n = scored.agg(F.count("*").alias("n"))
    return (
        scored.join(F.broadcast(offsets), "logit_milli")
        .withColumn("train_rank", F.col("off") + F.row_number().over(w_in))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "logit_milli",
            F.col("train_rank").cast("long").alias("train_rank"),
            F.expr("CAST(((train_rank - 1) * 8) DIV n AS BIGINT)").alias(
                "shard"
            ),
        )
    )


@register("unigram_lm_vocab")
def unigram_lm_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top pieces of a trained UNIGRAM-LM tokenizer (SentencePiece-
    style hard-EM, ``operators/unigram_lm.py``) — the probabilistic
    tokenizer family next to BPE's greedy merges; real pipelines ship
    both. Rows-only (EM + prune is iterative); the whole train
    pipeline is re-derived independently and matched EXACTLY in
    tests/test_unigram_lm.py.

    Scale shape: per-word work runs over WORD TYPES via Arrow-batched
    kernels with the vocab-sized score table in the closure; the only
    corpus-sized steps are the word count and the bounded substring
    seed explode."""
    from mapreduce511_spark.operators.unigram_lm import train_unigram_lm

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    counts = train_unigram_lm(docs)
    top = sorted(counts.items(), key=lambda pc: (-pc[1], pc[0]))[:64]
    rows = [(i + 1, p, c) for i, (p, c) in enumerate(top)]
    return spark.createDataFrame(rows, "rank long, piece string, cnt long")


@register("unigram_lm_encode_census")
def unigram_lm_encode_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encoded under the trained unigram-LM vocabulary: per
    language, total words, total pieces, and pieces-per-word in milli
    — the fertility number that decides whether the trained vocab is
    worth shipping (compare against ``token_fertility_census``'s
    whitespace baseline). Encoding segments word TYPES once and joins
    the per-(lang, word) frequencies — the token stream is never
    re-segmented. Rows-only (depends on the EM-trained vocab)."""
    import pandas as pd

    from mapreduce511_spark.operators.unigram_lm import (
        MAX_PIECE_LEN,
        _scores_from_counts,
        train_unigram_lm,
        viterbi_segment,
    )

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    counts = train_unigram_lm(docs)
    scores = _scores_from_counts(counts)

    lang_words = (
        docs.select("lang", F.explode(tokenize("text")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count("*").alias("cnt"))
    )

    def kernel(it):
        for pdf in it:
            rows = []
            for lang, w, c in zip(pdf["lang"], pdf["w"], pdf["cnt"]):
                n = len(viterbi_segment(str(w), scores, MAX_PIECE_LEN))
                rows.append((lang, int(c), n * int(c)))
            yield pd.DataFrame(
                rows, columns=["lang", "n_words", "n_pieces"]
            )

    seg = lang_words.mapInPandas(
        kernel, schema="lang string, n_words long, n_pieces long"
    )
    return (
        seg.groupBy("lang")
        .agg(
            F.sum("n_words").alias("total_words"),
            F.sum("n_pieces").alias("total_pieces"),
            F.expr(
                "CAST((1000 * sum(n_pieces)) DIV sum(n_words) AS BIGINT)"
            ).alias("pieces_per_word_milli"),
        )
        .orderBy("lang")
    )


_DECON_N = 8  # n-gram width (PaLM/Llama-class decontamination uses 8-13)
_DECON_EVAL_BUCKETS = 10  # md5 bucket 0 of 10 = the held-out eval split


# Token lists with their doc's eval bucket b (b = 0 is the held-out
# eval split), and pos(doc_id, b, i, tokens): the 1-based start i of
# every _DECON_N-gram
_DECON_TOKS = f"""toks AS (
        SELECT doc_id,
               {_SQL_TOKENS}
                   AS tokens,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {_DECON_EVAL_BUCKETS} AS b
        FROM documents
    ), pos AS (
        SELECT doc_id, b,
               unnest(range(1, len(tokens) - {_DECON_N - 2})) AS i,
               tokens
        FROM toks WHERE len(tokens) >= {_DECON_N}
    )"""


def _decon_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side of ``_DECON_TOKS``'s ``toks``: each document's
    tokens ``toks`` and its md5 split bucket ``b`` (0 = eval)."""
    from mapreduce511_spark.operators.dedup import hash60

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        tokenize("text").alias("toks"),
        (
            hash60(F.col("doc_id").cast("string")) % _DECON_EVAL_BUCKETS
        ).alias("b"),
    )


@register(
    "decontamination_census",
    oracle=f"""
    WITH {_DECON_TOKS}, g AS (
        SELECT DISTINCT doc_id, b,
               array_to_string(tokens[i : i + {_DECON_N - 1}], ' ') AS g
        FROM pos
    ), ev AS (SELECT doc_id, g FROM g WHERE b = 0),
    tr AS (SELECT doc_id, g FROM g WHERE b <> 0),
    sizes AS (
        SELECT sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS n_eval_docs,
               sum(CASE WHEN b <> 0 THEN 1 ELSE 0 END) AS n_train_docs
        FROM toks
    ), hits AS (
        SELECT count(DISTINCT tr.doc_id) AS contaminated_train_docs,
               count(DISTINCT ev.doc_id) AS leaked_eval_docs,
               count(DISTINCT tr.g) AS shared_ngrams
        FROM tr JOIN ev USING (g)
    )
    SELECT CAST(n_eval_docs AS BIGINT) AS n_eval_docs,
           CAST(n_train_docs AS BIGINT) AS n_train_docs,
           contaminated_train_docs, leaked_eval_docs, shared_ngrams,
           CAST((10000 * contaminated_train_docs) // n_train_docs
                AS BIGINT) AS removal_bp
    FROM sizes, hits
    """,
)
def decontamination_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN-vs-EVAL DECONTAMINATION — the op the GPT-3/PaLM/Llama
    reports run before training: any training document sharing an
    n-gram (n = 8 here; the published pipelines use 8-13) with a
    held-out evaluation document is flagged for removal. Distinct
    from ``contamination_screen`` (a fixed probe list IN-filter) and
    from the dedup family (symmetric near-dup pairs): decontamination
    is an ASYMMETRIC join between two corpora where the eval side is
    tiny and the verdict is per-train-document. The census reports
    split sizes, contaminated train docs, leaked eval docs, distinct
    shared n-grams, and the removal rate in basis points. The eval
    split is the deterministic md5 doc_id bucket 0/10, so both
    engines derive the identical split.

    100 TB shape: the eval side is benchmark-sized (thousands of
    docs), so its distinct n-gram set BROADCASTS and the whole screen
    is one map-side semi-join over the training scan — no shuffle of
    the training n-grams at all; here both sides ride a hash
    equi-join on the gram (the same plan AQE picks when the eval side
    is small). Nothing is quadratic: cost ~ train n-gram volume +
    matches.

    Reference basis: extension tier — LLM-pipeline data hygiene
    (companions: ``contamination_screen`` probe screening,
    ``duplicate_span_removal`` substring dedup,
    ``deterministic_split`` the split machinery)."""
    toks = _decon_tokens(spark, sf_dir)
    grams = (
        toks.filter(F.size("toks") >= _DECON_N)
        .select(
            "doc_id",
            "b",
            F.explode(
                F.array_distinct(word_ngrams(F.col("toks"), _DECON_N))
            ).alias("g"),
        )
    )
    ev = grams.filter(F.col("b") == 0).select(
        F.col("doc_id").alias("eval_doc"), "g"
    )
    tr = grams.filter(F.col("b") != 0).select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    hits = tr.join(ev, "g").agg(
        F.countDistinct("train_doc").alias("contaminated_train_docs"),
        F.countDistinct("eval_doc").alias("leaked_eval_docs"),
        F.countDistinct("g").alias("shared_ngrams"),
    )
    sizes = toks.agg(
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_eval_docs"),
        F.sum(F.when(F.col("b") != 0, 1).otherwise(0))
        .cast("long")
        .alias("n_train_docs"),
    )
    return (
        sizes.crossJoin(F.broadcast(hits))
        .select(
            "n_eval_docs",
            "n_train_docs",
            "contaminated_train_docs",
            "leaked_eval_docs",
            "shared_ngrams",
            F.expr(
                "(10000 * contaminated_train_docs) div n_train_docs"
            ).alias("removal_bp"),
        )
    )


@register(
    "decontamination_span_removal",
    oracle=f"""
    WITH {_DECON_TOKS}, g AS (
        SELECT doc_id, b, i,
               array_to_string(tokens[i : i + {_DECON_N - 1}], ' ') AS g
        FROM pos
    ), ev AS (
        SELECT DISTINCT g FROM g WHERE b = 0
    ), rem AS (
        SELECT g.doc_id, g.i AS p, g.i + {_DECON_N - 1} AS pe
        FROM g JOIN ev USING (g)
        WHERE g.b <> 0
    ), {_SPAN_REMOVAL}
    FROM per_doc d JOIN toks t ON d.doc_id = t.doc_id
    """,
)
def decontamination_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL decontamination (r8, r7 VERDICT item 8):
    ``decontamination_census`` flags whole training documents; the
    published pipelines (PaLM, Llama) also EXCISE the contaminated
    spans rather than drop whole documents. This composes the
    census's asymmetric train-vs-eval 8-gram equi-join with
    ``duplicate_span_removal``'s gaps-and-islands interval merging:
    every train-side position whose 8-gram occurs in any eval
    document becomes a removal interval [p, p+7]; overlapping
    intervals merge into islands so a token is never counted twice;
    the per-document accounting (matched occurrences, merged tokens
    removed, tokens kept) is what the pipeline audits before
    rewriting the corpus. The eval split is the same deterministic
    md5 doc_id bucket 0/10 as the census, so both engines derive the
    identical split and the identical islands.

    100 TB shape: the eval n-gram set is benchmark-sized and
    BROADCASTS, making the removal join one map-side pass over the
    positional train grams (cost ~ train gram volume + matches —
    nothing quadratic); island merging is two window passes per
    train-document partition, exactly the ``duplicate_span_removal``
    recipe.

    Reference basis: extension tier — LLM-pipeline data hygiene
    (companions: ``decontamination_census`` doc-level flagging,
    ``duplicate_span_removal`` the island machinery)."""
    toks = _decon_tokens(spark, sf_dir)
    pos_grams = toks.filter(F.size("toks") >= _DECON_N).select(
        "doc_id",
        "b",
        F.posexplode(word_ngrams(F.col("toks"), _DECON_N)).alias("p", "g"),
    )
    ev = pos_grams.filter(F.col("b") == 0).select("g").distinct()
    rem = (
        pos_grams.filter(F.col("b") != 0)
        .join(ev, "g")
        .select("doc_id", "p", (F.col("p") + _DECON_N - 1).alias("pe"))
    )
    return _span_removal(rem, toks, "toks")


# ---------------------------------------------------------------------------
# DoReMi-style iterative domain reweighting
# ---------------------------------------------------------------------------

_DOREMI_T = 4  # exponentiated-gradient iterations
_DOREMI_ETA = 1.0  # EG step size
_DOREMI_C = 0.01  # uniform smoothing mass


def _doremi_oracle() -> str:
    """Unrolled-CTE restatement of the T EG iterations: each round is
    three CTEs (apply exp(eta*excess), normalize+smooth, accumulate
    cum weight) over the K-row domain table."""
    steps = []
    prev = "t0"
    for t in range(1, _DOREMI_T + 1):
        steps.append(
            f"""
    u{t} AS (
        SELECT source, n_docs, base_loss, cum,
               w * exp({_DOREMI_ETA} * greatest(
                   base_loss / (1 + cum) - base_loss / 2, 0)) AS unnorm
        FROM {prev}
    ),
    t{t} AS (
        SELECT source, n_docs, base_loss, cum,
               (1 - {_DOREMI_C}) * unnorm / (sum(unnorm) OVER ())
                   + {_DOREMI_C} / (SELECT k FROM kk) AS w
        FROM u{t}
    ),
    t{t}b AS (
        SELECT source, n_docs, base_loss, w, cum + w AS cum FROM t{t}
    )"""
        )
        prev = f"t{t}b"
    return f"""
    WITH base AS (
        SELECT source, count(*) AS n_docs,
               avg(ln(1 + n_chars)) AS base_loss
        FROM documents GROUP BY source
    ),
    kk AS (SELECT count(*) AS k FROM base),
    t0 AS (
        SELECT source, n_docs, base_loss,
               1.0 / (SELECT k FROM kk) AS w, 0.0 AS cum
        FROM base
    ),{",".join(steps)}
    SELECT source, n_docs, base_loss, w AS w_final
    FROM {prev}
    """


@register("doremi_domain_reweighting", oracle=_doremi_oracle())
def doremi_domain_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023,
    arXiv:2305.10429): exponentiated-gradient updates concentrate
    sampling mass on domains whose proxy excess loss (proxy minus
    reference) stays high, smoothed with a uniform mixing mass — the
    iterative min-max complement of the static share equalization in
    ``source_mixture_weights``. The distributed work is ONE map-side-
    combined K-key aggregation over the corpus (per-source doc count +
    mean log1p-length proxy loss); the T=4 EG iterations then run on
    the K-row domain table driver-side — dimension-sized state exactly
    like the IRLS trainer's per-iteration integers, never per-doc.
    The proxy/reference losses are deterministic feature-derived
    stand-ins (a production run plugs per-domain eval losses from the
    proxy checkpoints into the same update); the reweighting algebra
    is the paper's. Proxy learning is modeled by loss decay
    1/(1+cum_weight): mass assigned early drives that domain's excess
    toward zero, so weights equilibrate instead of collapsing onto the
    argmax domain. At 100 TB nothing changes: the scan is the only
    data-sized stage, and K stays the number of corpus sources."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.avg(F.log1p(F.col("n_chars").cast("double"))).alias(
                "base_loss"
            ),
        )
        .collect()
    )
    rows = sorted(base, key=lambda r: r["source"])
    k = len(rows)
    w = [1.0 / k] * k
    cum = [0.0] * k
    for _ in range(_DOREMI_T):
        unnorm = [
            w[i]
            * math.exp(
                _DOREMI_ETA
                * max(
                    rows[i]["base_loss"] / (1 + cum[i])
                    - rows[i]["base_loss"] / 2,
                    0.0,
                )
            )
            for i in range(k)
        ]
        z = sum(unnorm)
        w = [(1 - _DOREMI_C) * u / z + _DOREMI_C / k for u in unnorm]
        cum = [cum[i] + w[i] for i in range(k)]
    out = [
        (rows[i]["source"], rows[i]["n_docs"], rows[i]["base_loss"], w[i])
        for i in range(k)
    ]
    return spark.createDataFrame(
        out, "source string, n_docs bigint, base_loss double, w_final double"
    )


# ---------------------------------------------------------------------------
# DSIR — data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

_DSIR_B = 512  # hashed n-gram feature buckets (paper: 10k; sized to corpus)
_DSIR_TARGET = ("src0", "src1")  # target-domain sample (the "Wiki+books" role)
_DSIR_K = 20  # resampled docs to select


@register(
    "dsir_importance_resample",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_SQL_TOKENS} AS tokens FROM documents
    ), grams AS (
        SELECT doc_id, source,
               unnest(list_concat(tokens,
                   list_transform(range(1, len(tokens)),
                       i -> list_extract(tokens, i) || ' '
                            || list_extract(tokens, i + 1)))) AS g
        FROM toks
    ), hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT)
                   % {_DSIR_B} AS bkt,
               CASE WHEN source IN {_DSIR_TARGET!r} THEN 1 ELSE 0 END AS tgt
        FROM grams
    ), bstats AS (
        SELECT bkt,
               CAST(sum(tgt) AS BIGINT) AS cp,
               CAST(sum(1 - tgt) AS BIGINT) AS cq
        FROM hashed GROUP BY bkt
    ), tot AS (
        SELECT CAST(sum(cp) AS BIGINT) AS np,
               CAST(sum(cq) AS BIGINT) AS nq
        FROM bstats
    ), lr AS (
        SELECT bkt,
               CAST(floor(1000000 * ln(
                   ((cp + 1.0) * (nq + {_DSIR_B}))
                   / ((cq + 1.0) * (np + {_DSIR_B})))) AS BIGINT) AS lr_micro
        FROM bstats CROSS JOIN tot
    ), w AS (
        SELECT h.doc_id,
               count(*) AS n_grams,
               CAST(sum(l.lr_micro) AS BIGINT) AS logw_micro
        FROM hashed h JOIN lr l USING (bkt)
        WHERE h.tgt = 0
        GROUP BY h.doc_id
    ), keyed AS (
        SELECT doc_id, n_grams, logw_micro,
               logw_micro + CAST(floor(-1000000 * ln(-ln(
                   (CAST(('0x' || substr(md5(
                        CAST(doc_id AS VARCHAR) || '-dsir'), 1, 15))
                        AS BIGINT) % 1000000 + 0.5) / 1000000.0)))
                   AS BIGINT) AS key_micro
        FROM w
    ), top AS (
        SELECT * FROM keyed
        ORDER BY key_micro DESC, doc_id LIMIT {_DSIR_K}
    )
    SELECT row_number() OVER (ORDER BY t.key_micro DESC, t.doc_id) AS rank,
           t.doc_id, d.source, d.lang, t.n_grams, t.logw_micro, t.key_micro
    FROM top t JOIN documents d USING (doc_id)
    """,
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.,
    NeurIPS 2023), the hashed-n-gram method behind domain-targeted
    pretraining mixes: fit two bag-of-hashed-ngrams multinomials
    (unigrams + bigrams hashed into B=512 buckets) — p over a small
    TARGET-domain sample (sources src0+src1 here, the "Wiki+books"
    role) and q over the RAW pool (every other source) — weight each
    raw document by its importance log w(x) = Σ_grams
    ln(p[bkt]/q[bkt]) with add-one smoothing, and resample top-k
    under Gumbel noise (Gumbel-top-k IS sampling ∝ w without
    replacement; the noise keeps the selection from collapsing onto
    near-copies of the target sample). Output: the k=20 selected
    docs with rank, weight, and sampling key.

    Determinism: each bucket's log-ratio floors to integer
    MICRO-NATS from exact integer counts in one double expression —
    per-doc weights are then order-independent integer sums, exactly
    as the oracle computes them; the Gumbel noise derives from the
    engine-standard md5 hash (u = (h%1e6+0.5)/1e6), not an RNG.

    100 TB design: pass 1 builds the B-bucket count table (one
    map-combinable shuffle to 512 rows, checkpointed); pass 2
    re-streams the raw grams against the BROADCAST 512-row log-ratio
    table and sums per doc — no shuffle wider than doc_id — and the
    selection is a TakeOrdered top-k, never a global sort. The
    target sample is tiny by construction (DSIR's premise), so p
    fits driver-side at any corpus scale; both passes are one
    column-pruned scan each of the raw corpus.

    Reference basis: extension tier — LLM-data-pipeline sampling
    family (SURVEY.md §2 extensions), beside deterministic_split /
    temperature_mixture_sample / quality_weighted_sample."""
    from pyspark.sql.window import Window

    from mapreduce511_spark.operators.dedup import hash60

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", "source", tokenize("text").alias("toks"))
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.concat(F.col("toks"), word_ngrams(F.col("toks"), 2))
        ).alias("g"),
    )
    hashed = grams.select(
        "doc_id",
        (hash60(F.col("g")) % _DSIR_B).alias("bkt"),
        F.when(F.col("source").isin(*_DSIR_TARGET), 1)
        .otherwise(0)
        .alias("tgt"),
    )
    # One corpus scan, not two (r12, guide §2.2): collapse the gram
    # stream to the per-(doc, bucket) histogram first — the DSIR
    # feature vector, at most B=512 rows per doc, reached via a
    # map-side-combinable aggregation — and derive BOTH passes from
    # it. Bucket totals are sums of per-doc counts, and each doc's
    # Σ_grams lr[bkt] equals Σ_buckets cnt·lr[bkt] in exact integer
    # micro-nats, so results are bit-identical to the two-pass form
    # while tokenize + gram-explode runs once.
    doc_bkt = (
        hashed.groupBy("doc_id", "bkt", "tgt")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    bstats = doc_bkt.groupBy("bkt").agg(
        F.sum(F.col("cnt") * F.col("tgt")).alias("cp"),
        F.sum(F.col("cnt") * (1 - F.col("tgt"))).alias("cq"),
    )
    tot = bstats.agg(
        F.sum("cp").alias("np"), F.sum("cq").alias("nq")
    )
    lr_micro = F.floor(
        1_000_000
        * F.log(
            ((F.col("cp") + 1.0) * (F.col("nq") + _DSIR_B))
            / ((F.col("cq") + 1.0) * (F.col("np") + _DSIR_B))
        )
    ).cast("long")
    lr = bstats.crossJoin(F.broadcast(tot)).select(
        "bkt", lr_micro.alias("lr_micro")
    )
    # pass 2 (off the histogram): raw buckets x broadcast log-ratio
    # table -> per-doc integer sums.
    w = (
        doc_bkt.filter(F.col("tgt") == 0)
        .join(F.broadcast(lr), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("lr_micro")).alias("logw_micro"),
        )
    )
    u = (
        hash60(F.concat(F.col("doc_id").cast("string"), F.lit("-dsir")))
        % 1_000_000
        + 0.5
    ) / 1_000_000.0
    g_micro = F.floor(-1_000_000 * F.log(-F.log(u))).cast("long")
    top = (
        w.select(
            "doc_id",
            "n_grams",
            "logw_micro",
            (F.col("logw_micro") + g_micro).alias("key_micro"),
        )
        .orderBy(F.desc("key_micro"), F.asc("doc_id"))
        .limit(_DSIR_K)
    )
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("key_micro"), F.asc("doc_id"))
        ),
    )
    return ranked.join(
        docs.select("doc_id", "source", "lang"), "doc_id"
    ).select(
        "rank", "doc_id", "source", "lang", "n_grams",
        "logw_micro", "key_micro",
    )


@register("compression_quality_census")
def compression_quality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSION-RATIO QUALITY CENSUS (r9) — the Gopher/RefinedWeb
    "too compressible = templated/low-entropy" signal as a per-language
    corpus audit: each document's DEFLATE ratio in exact integer parts
    per thousand (``operators/dedup.compression_ratio``, computed with
    the engine's OWN deterministic dynamic-Huffman encoder inside
    Arrow batches — stable across partitionings and cluster images),
    rolled up per language as total raw/compressed bytes, the corpus
    ratio, and how many documents fall under the 500-ppt "suspiciously
    compressible" cut a production pipeline would quarantine.

    No SQL oracle — the ratio IS the native DEFLATE bitstream length,
    which DuckDB cannot restate — so the driver applies its rows-only
    check; exact per-document values are pinned against a pure-Python
    recompute (same encoder, driver-side) in tests/test_deflate.py,
    and the encoder itself is cross-verified against stdlib zlib's
    independent inflater.

    100 TB: encode runs where the text lives (one linear Arrow pass);
    the only shuffle is the |langs|-group rollup after per-document
    columns collapse map-side.

    Reference basis: extension tier — text-quality family beside
    ``gopher_quality_rules`` / ``repetition_score`` (SURVEY.md §2
    extensions)."""
    from mapreduce511_spark.operators.dedup import compression_ratio

    # spread_scan (r13): the encoder is pure-Python LZ77 per document
    # behind mapInArrow — on the single-split testdata scan the whole
    # census ran in ONE task; no-op on multi-split inputs.
    docs = spread_scan(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    # lang rides THROUGH the Arrow batch (r12): the old shape re-joined
    # the corpus on doc_id just to re-attach a column that was already
    # in the scanned row — a corpus-wide shuffle for zero information.
    rated = compression_ratio(docs, carry=("lang",))
    return (
        rated.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("raw_bytes").alias("total_raw_bytes"),
            F.sum("comp_bytes").alias("total_comp_bytes"),
            F.sum(
                F.when(F.col("ratio_milli") < 500, 1).otherwise(0)
            ).alias("n_low_entropy"),
            F.min("ratio_milli").alias("min_ratio_milli"),
            F.max("ratio_milli").alias("max_ratio_milli"),
        )
        .withColumn(
            "corpus_ratio_milli",
            F.expr("1000 * total_comp_bytes DIV total_raw_bytes"),
        )
        .orderBy("lang")
    )


_TEXTRANK_ITER = """
    m{i} AS (
        SELECT e.t AS x, sum(p.r * e.w / deg.d) AS m
        FROM edges e JOIN r{j} p ON e.s = p.x JOIN deg ON deg.s = e.s
        GROUP BY e.t
    ),
    r{i} AS (SELECT x, 0.15 / n.n + 0.85 * m AS r FROM m{i} CROSS JOIN n)"""


@register(
    "textrank_keywords",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, {_SQL_TOKENS} AS ts FROM documents
    ), tok AS (
        SELECT doc_id, unnest(ts) AS token,
               unnest(range(len(ts))) AS off
        FROM base
    ), pr AS (
        SELECT a.token AS u, b.token AS v
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id
         AND b.off - a.off BETWEEN 1 AND 2
         AND a.token <> b.token
    ), ue AS (
        SELECT least(u, v) AS u, greatest(u, v) AS v, count(*) AS w
        FROM pr GROUP BY 1, 2
    ), edges AS (
        SELECT u AS s, v AS t, w FROM ue
        UNION ALL
        SELECT v AS s, u AS t, w FROM ue
    ), deg AS (SELECT s, sum(w) AS d FROM edges GROUP BY s),
    n AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT deg.s AS x, 1.0 / n.n AS r FROM deg CROSS JOIN n),
    {_TEXTRANK_ITER.format(i=1, j=0)},
    {_TEXTRANK_ITER.format(i=2, j=1)},
    {_TEXTRANK_ITER.format(i=3, j=2)}
    SELECT x AS token, round(r * n.n, 4) + 0.0 AS rank_ratio
    FROM r3 CROSS JOIN n
    ORDER BY rank_ratio DESC, token
    """,
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the word co-occurrence graph — an undirected edge
    per ordered token pair at distance <= 2 within a document, weight
    = co-occurrence count — THREE power iterations, damping 0.85,
    unrolled into one deterministic DataFrame plan under the exact
    DuckDB oracle (the oracle unrolls the same three chained CTEs,
    the ``copurchase_pagerank`` discipline applied to text).

    Scale shape: the co-occurrence self-join is an equi-join on
    doc_id with a position-band post-filter (never a cross join);
    the (edge, weighted-degree) relation materializes ONCE via
    localCheckpoint and every iteration reuses it. The rank vector is
    one row per DISTINCT TOKEN — the lexicon, which grows
    sublinearly (Heaps' law) and is NOT broadcast (the r7 rule: no
    per-word broadcast hints; AQE may still broadcast it at runtime
    when it measures small). Reported as rank * |V| (ratio to the
    uniform score) rounded to 4, resolution-independent of graph
    size; the full vocabulary census is returned (lexicon-bounded),
    top-k being a TakeOrdered away.

    Reference basis: extension tier — graph-over-text composition
    beside ``copurchase_pagerank``; no analog in
    `/root/reference/analyze`."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("off", "token")
    )
    a, b = tok.alias("a"), tok.alias("b")
    pr = a.join(
        b,
        (F.col("a.doc_id") == F.col("b.doc_id"))
        & (F.col("b.off") - F.col("a.off")).between(1, 2)
        & (F.col("a.token") != F.col("b.token")),
    ).select(
        F.least("a.token", "b.token").alias("u"),
        F.greatest("a.token", "b.token").alias("v"),
    )
    ue = pr.groupBy("u", "v").agg(F.count("*").alias("w"))
    edges = ue.select(
        F.col("u").alias("s"), F.col("v").alias("t"), "w"
    ).unionAll(ue.select(F.col("v").alias("s"), F.col("u").alias("t"), "w"))
    deg = edges.groupBy("s").agg(F.sum("w").alias("d"))
    # one materialized pass reused by all three iterations (the
    # pagerank recipe): weighted out-edges annotated with source
    # weighted degree.
    out = edges.join(deg, "s").localCheckpoint(eager=True)
    verts = out.select("s").distinct()
    n = verts.agg(F.count("*").alias("n"))
    ranks = verts.crossJoin(F.broadcast(n)).select(
        F.col("s").alias("x"), (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(3):
        m = (
            out.join(ranks, out["s"] == ranks["x"])
            .groupBy("t")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("d")).alias("m"))
        )
        ranks = m.crossJoin(F.broadcast(n)).select(
            F.col("t").alias("x"),
            (F.lit(0.15) / F.col("n") + 0.85 * F.col("m")).alias("r"),
        )
    return (
        ranks.crossJoin(F.broadcast(n))
        .select(
            F.col("x").alias("token"),
            norm0(F.round(F.col("r") * F.col("n"), 4)).alias("rank_ratio"),
        )
        .orderBy(F.desc("rank_ratio"), "token")
    )


@register(
    "ffd_packing_census",
    oracle=f"""
    WITH RECURSIVE lens AS (
        SELECT lang, doc_id % 4 AS shard, doc_id,
               len({_SQL_TOKENS}) AS n_tok
        FROM documents
    ), ordered AS (
        SELECT lang, shard, n_tok,
               row_number() OVER (
                   PARTITION BY lang, shard
                   ORDER BY n_tok DESC, doc_id) AS rk,
               count(*) OVER (PARTITION BY lang, shard) AS cnt
        FROM lens
    ), ffd AS (
        SELECT lang, shard, 0 AS step,
               CAST([] AS BIGINT[]) AS fills, cnt
        FROM (SELECT DISTINCT lang, shard, cnt FROM ordered)
        UNION ALL
        SELECT f.lang, f.shard, f.step + 1,
               CASE WHEN idx.i IS NULL
                    THEN list_append(f.fills, o.n_tok)
                    ELSE list_transform(range(len(f.fills)),
                           j -> CASE WHEN j = idx.i - 1
                                     THEN f.fills[j+1] + o.n_tok
                                     ELSE f.fills[j+1] END)
               END AS fills,
               f.cnt
        FROM ffd f
        JOIN ordered o
          ON o.lang = f.lang AND o.shard = f.shard
         AND o.rk = f.step + 1
        LEFT JOIN LATERAL (
            SELECT min(j) AS i
            FROM (SELECT unnest(range(1, len(f.fills) + 1)) AS j)
            WHERE f.fills[j] + o.n_tok <= 256
        ) idx ON TRUE
        WHERE f.step < f.cnt
    ), packed AS (
        SELECT lang, shard, fills FROM ffd WHERE step = cnt
    ), stats AS (
        SELECT lang, shard, count(*) AS n_docs,
               sum(n_tok) AS n_tokens
        FROM lens GROUP BY 1, 2
    )
    SELECT s.lang, s.shard,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(len(p.fills) AS BIGINT) AS n_bins,
           CAST((s.n_tokens + 255) // 256 AS BIGINT) AS lb_bins,
           CAST(len(p.fills) * 256 - s.n_tokens AS BIGINT) AS waste
    FROM packed p JOIN stats s USING (lang, shard)
    ORDER BY lang, shard
    """,
)
def ffd_packing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-fit-decreasing bin packing of documents into 256-token
    training sequences, per (language, shard): the classic
    sequence-packing step of an LLM data pipeline, measured as a
    census — bins used vs the ceil(total/capacity) lower bound and
    the padding waste.

    FFD is inherently a SEQUENTIAL greedy fold (each placement
    depends on every fill level so far), so the built-in operators
    genuinely can't express it; this is the documented
    ``applyInPandas`` case — the fold runs per (lang, shard) group,
    Arrow-batched, embarrassingly parallel ACROSS groups. The shard
    key (doc_id % 4) is the scale lever: packing quality only needs
    locality within a shard, so at 100 TB you raise the shard count
    until each group fits one task comfortably — the standard
    per-shard packing shape (e.g. T5 / GPT pretraining loaders pack
    per reader shard, not globally). Order within a group is fully
    deterministic (n_tok DESC, doc_id ASC), and the census is pure
    integer arithmetic, so the DuckDB oracle restates the SAME greedy
    fold exactly as a recursive CTE carrying the bin-fill list —
    groups step in lockstep, recursion depth = max group size.

    Oversize items (n_tok > 256) open their own bin, never fit an
    existing one — the fold handles them with no special case (the
    first-fit scan just finds no bin), and `waste` can go negative
    only for such bins; the fixture corpus has none.

    Reference basis: extension tier — training-data assembly family
    beside ``context_pack_stats`` (greedy concat packing); no analog
    in `/root/reference/analyze`."""
    import pandas as pd

    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    lens = docs.select(
        "lang",
        (F.col("doc_id") % 4).alias("shard"),
        "doc_id",
        F.size(tokenize("text")).alias("n_tok"),
    )

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(
            ["n_tok", "doc_id"], ascending=[False, True]
        )
        fills: list[int] = []
        for n in pdf["n_tok"].tolist():
            for i, fill in enumerate(fills):
                if fill + n <= 256:
                    fills[i] = fill + n
                    break
            else:
                fills.append(n)
        n_tokens = int(pdf["n_tok"].sum())
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "shard": [int(pdf["shard"].iloc[0])],
                "n_docs": [len(pdf)],
                "n_tokens": [n_tokens],
                "n_bins": [len(fills)],
                "lb_bins": [-(-n_tokens // 256)],
                "waste": [len(fills) * 256 - n_tokens],
            }
        )

    return (
        lens.groupBy("lang", "shard")
        .applyInPandas(
            pack,
            schema=(
                "lang string, shard bigint, n_docs bigint, "
                "n_tokens bigint, n_bins bigint, lb_bins bigint, "
                "waste bigint"
            ),
        )
        .orderBy("lang", "shard")
    )




# Heaps cutoff grid — ONE definition feeds the Spark builder and both
# oracle f-strings (r11 review: the geometric-from-one literal was
# stated in three places; a tweak to one would silently desynchronize
# engine and oracle — the duplicated-definition class r10 fixed for
# the OLS tail and this round fixed for FLAC_DEPTHS). The SQL form
# expects an ``mx`` CTE exposing nd = max(doc_id) + 1.
_HEAPS_GRID = (1, 2, 4, 8)
_SQL_HEAPS_GRID = f"""grid AS (
        SELECT CAST(c AS BIGINT) AS cutoff
        FROM (SELECT unnest([{", ".join(map(str, _HEAPS_GRID))}]) AS c)
        UNION
        SELECT CAST(nd AS BIGINT) FROM mx
    )"""

# Heaps points per (lang, cutoff) of that grid: vocab_at.v distinct
# tokens first seen below the cutoff, tokens_at.t running tokens, from
# firsts(lang, token, first_doc) and lens(lang, doc_id, ts)
_SQL_HEAPS_POINTS = """vocab_at AS (
        SELECT f.lang, g.cutoff, count(*) AS v
        FROM firsts f JOIN grid g ON f.first_doc < g.cutoff
        GROUP BY f.lang, g.cutoff
    ), tokens_at AS (
        SELECT l.lang, g.cutoff, sum(len(l.ts)) AS t
        FROM lens l JOIN grid g ON l.doc_id < g.cutoff
        GROUP BY l.lang, g.cutoff
    )"""

# Token variance-to-mean ratio over per-document counts (Church &
# Gale burstiness) from (df, sc, scc) integer moments — shared by
# ``token_burstiness_census`` and ``corpus_health_census`` on both
# engines (integer numerator/denominator, ONE double division).
_SQL_VMR = "(df * scc - sc * sc) * 1.0 / (df * sc)"


def _vmr_col():
    """Spark twin of ``_SQL_VMR``."""
    return (
        (F.col("df") * F.col("scc") - F.col("sc") * F.col("sc")) * 1.0
    ) / (F.col("df") * F.col("sc"))


def _sql_zipf_xy(out: str) -> str:
    """Zipf (lang, x, y) coordinates as chained CTEs over a CTE named
    ``freq`` with (lang, token, cnt) — the SQL twin of ``_zipf_xy``,
    shared by the standalone fit and the corpus-health panel."""
    return f"""{out}_ranked AS (
        SELECT lang, cnt,
               row_number() OVER (
                   PARTITION BY lang ORDER BY cnt DESC, token) AS rnk
        FROM freq
    ), {out} AS (
        SELECT lang, ln(rnk) AS x, ln(cnt) AS y FROM {out}_ranked
    )"""


def _sql_ols_tail(n_name: str, slope_name: str, intercept_name: str) -> str:
    """Shared DuckDB tail for the per-language 5-sum OLS fits: expects
    a CTE named ``xy`` with (lang, x, y). One definition serves the
    Zipf and Heaps oracles (r10 review: the formula was duplicated
    verbatim and a fix to one would silently miss the other).

    Degeneracy discipline (r10 driver-red postmortem): when y is
    constant the true slope is EXACTLY 0 and the OLS numerator is
    pure fp-cancellation noise whose sign differs across engines
    (DuckDB rounded heaps_law_fit to -0.0 for de/fr while Spark gave
    +0.0) — so constant-y takes an exact 0.0 branch, a zero
    denominator (x constant, slope undefined) is pinned to 0.0 by
    convention, and every rounded output adds +0.0, which by IEEE 754
    maps -0.0 to +0.0 and is the identity on everything else
    (including NaN). ``_ols_per_lang`` states the identical
    arithmetic for Spark."""
    return (
        _sql_ols_cte("xy", "fit", n_name, slope_name, intercept_name)
        + f"""
    SELECT lang, {n_name}, {slope_name}, {intercept_name}
    FROM fit
    ORDER BY lang"""
    )


def _sql_ols_cte(
    xy: str, out: str, n_name: str, slope_name: str, intercept_name: str
) -> str:
    """The composable CTE form of the shared OLS: given an (lang, x,
    y) CTE named ``xy``, emits two chained CTEs ending in ``out`` with
    (lang, {n_name}, {slope_name}, {intercept_name}) — for queries
    that fit MORE THAN ONE curve in a single statement
    (``corpus_health_census`` fits Zipf and Heaps side by side).
    ``_sql_ols_tail`` is this plus the final ORDER BY, so there is
    still exactly one statement of the arithmetic and its degeneracy
    branches."""
    return f"""{out}_sums AS (
        SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx,
               min(y) AS ymin, max(y) AS ymax
        FROM {xy} GROUP BY lang
    ), {out} AS (
        SELECT lang,
               CAST(n AS BIGINT) AS {n_name},
               CASE WHEN ymin = ymax OR n * sxx - sx * sx = 0 THEN 0.0
                    ELSE round((n * sxy - sx * sy)
                               / (n * sxx - sx * sx), 4) + 0.0
               END AS {slope_name},
               CASE WHEN ymin = ymax OR n * sxx - sx * sx = 0
                    THEN round(sy / n, 4) + 0.0
                    ELSE round((sy - sx * (n * sxy - sx * sy)
                                    / (n * sxx - sx * sx)) / n, 4) + 0.0
               END AS {intercept_name}
        FROM {out}_sums
    )"""


def _ols_per_lang(xy, n_name: str, slope_name: str, intercept_name: str):
    """Spark twin of ``_sql_ols_tail``: closed-form OLS of y on x per
    language over an (lang, x, y) frame; identical arithmetic AND
    identical degeneracy branches to the SQL (constant y -> exact
    0.0 slope; zero denominator -> 0.0 by convention; +0.0 after
    every round so -0.0 from fp-cancellation noise normalizes to
    +0.0 on both engines — the r10 heaps_law_fit driver-red class).
    Remaining cross-engine difference is fp summation order on
    non-degenerate fits, absorbed by the round-to-4."""
    sums = xy.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
    )
    denom = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    degenerate = (F.col("ymin") == F.col("ymax")) | (denom == 0)
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    return sums.select(
        "lang",
        F.col("n").alias(n_name),
        F.when(degenerate, F.lit(0.0))
        .otherwise(F.round(slope, 4) + F.lit(0.0))
        .alias(slope_name),
        F.when(
            degenerate,
            F.round(F.col("sy") / F.col("n"), 4) + F.lit(0.0),
        )
        .otherwise(
            F.round((F.col("sy") - F.col("sx") * slope) / F.col("n"), 4)
            + F.lit(0.0)
        )
        .alias(intercept_name),
    ).orderBy("lang")


@register(
    "zipf_slope_census",
    oracle=f"""
    WITH freq AS (
        SELECT lang, token, count(*) AS cnt
        FROM (
            SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
        )
        GROUP BY lang, token
    ), {_sql_zipf_xy("xy")},
    {_sql_ols_tail("vocab", "zipf_slope", "zipf_intercept")}
    """,
)
def zipf_slope_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf's-law fit: OLS slope/intercept of
    ln(frequency) against ln(rank) over the language's token
    frequency table — the standard corpus-health diagnostic (natural
    text sits near slope -1; template/boilerplate-heavy or synthetic
    corpora drift away, making this a cheap pipeline smoke alarm
    before expensive dedup passes).

    Scale shape: one token-count aggregation (map-side combinable),
    then ranking WITHIN each language partition — a partitioned
    window over the per-lang vocabulary, never an unpartitioned
    global sort — then a 5-sum OLS reduce per language. The rank
    tie-break (cnt DESC, token ASC) is total, so ranks are identical
    across engines; the only floating-point is the final closed-form
    slope over five per-lang sums, rounded to 4 on both sides.

    Reference basis: extension tier — corpus-statistics family
    beside ``token_freq_histogram`` / ``heavy_hitter_tokens``
    (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(tokenize("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    return _ols_per_lang(
        _zipf_xy(freq), "vocab", "zipf_slope", "zipf_intercept"
    )


def _zipf_xy(freq):
    """(lang, x, y) Zipf coordinates from a (lang, token, cnt)
    frequency table: x = ln(rank within language, ties broken by
    token for a total order), y = ln(count). Shared by
    ``zipf_slope_census`` and ``corpus_health_census``."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "token")
    return freq.withColumn("rnk", F.row_number().over(w)).select(
        "lang", F.log("rnk").alias("x"), F.log("cnt").alias("y")
    )


@register(
    "token_burstiness_census",
    oracle=f"""
    WITH percnt AS (
        SELECT token, doc_id, count(*) AS c
        FROM (
            SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
        )
        GROUP BY token, doc_id
    ), stats AS (
        SELECT token,
               count(*) AS df,
               sum(c) AS sc,
               sum(c * c) AS scc
        FROM percnt GROUP BY token
        HAVING count(*) >= 20
    )
    SELECT token,
           CAST(df AS BIGINT) AS df,
           CAST(sc AS BIGINT) AS total_cnt,
           round({_SQL_VMR}, 4) + 0.0 AS vmr
    FROM stats
    ORDER BY vmr DESC, token
    LIMIT 20
    """,
)
def token_burstiness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church & Gale 1995): variance-to-mean ratio
    of a token's per-document counts among the documents containing
    it — the classical boilerplate detector (bursty tokens cluster in
    few documents: navigation chrome, license headers, templates;
    VMR ~ 1 is Poisson-like natural usage). Top-20 bursty tokens with
    document frequency >= 20.

    Scale shape: two map-side-combinable aggregations (per
    (token, doc) count, then per-token moment sums) — pure hash
    shuffles, no windows, no joins. VMR = (df*Scc - Sc^2)/(df*Sc)
    stays in exact integer arithmetic until ONE final division,
    rounded to 4, and the top-20 cut orders by the ROUNDED value with
    a token tie-break, so the selected set is deterministic across
    engines. At 100 TB the HAVING df floor prunes the hapax tail
    before the TakeOrdered.

    Reference basis: extension tier — corpus-statistics family beside
    ``repetition_score`` (SURVEY.md §2 extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    percnt = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("c"))
    )
    stats = (
        percnt.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.sum("c").alias("sc"),
            F.sum(F.col("c") * F.col("c")).alias("scc"),
        )
        .filter(F.col("df") >= 20)
    )
    vmr = _vmr_col()
    return (
        stats.select(
            "token",
            "df",
            F.col("sc").alias("total_cnt"),
            norm0(F.round(vmr, 4)).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "token")
        .limit(20)
    )


@register(
    "heaps_law_fit",
    oracle=f"""
    WITH lens AS (
        SELECT lang, doc_id, {_SQL_TOKENS} AS ts FROM documents
    ), mx AS (
        SELECT max(doc_id) + 1 AS nd FROM lens
    ), {_SQL_HEAPS_GRID}, firsts AS (
        SELECT lang, token, min(doc_id) AS first_doc
        FROM (SELECT lang, doc_id, unnest(ts) AS token FROM lens)
        GROUP BY lang, token
    ), {_SQL_HEAPS_POINTS}, xy AS (
        SELECT v.lang, ln(t.t) AS x, ln(v.v) AS y
        FROM vocab_at v JOIN tokens_at t USING (lang, cutoff)
    ), {_sql_ols_tail("n_points", "heaps_beta", "heaps_logk")}
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Heaps'-law fit: OLS of ln(vocabulary) against
    ln(corpus tokens) at geometric prefix cutoffs — the
    vocabulary-growth counterpart of ``zipf_slope_census`` (natural
    text grows V ~ K*T^beta with beta ~ 0.4-0.6; beta collapsing
    toward 0 flags template/duplicated content, climbing toward 1
    flags noise/OCR garbage). Together the two fits are the standard
    one-screen corpus-health panel.

    Grid design (r10 driver-red postmortem): the cutoff grid is
    geometric-from-one — {{1, 2, 4, 8, nd}} document prefixes — not
    evenly spaced fractions of the corpus. An even grid put every
    cutoff past the point where the fixture vocabulary saturates, so
    the true slope was exactly 0 and the OLS numerator was pure fp
    cancellation noise (DuckDB rounded it to -0.0 where Spark gave
    +0.0). Geometric-from-one cutoffs always sample the growth
    region regardless of corpus size (standard Heaps plotting
    practice), and the shared OLS helpers now take an exact-0.0
    branch on constant y plus a +0.0 signed-zero normalization, so
    even a degenerate language is engine-stable. Languages with no
    documents below a small cutoff simply contribute fewer grid
    points (inner-join semantics, identical on both engines).

    Scale shape: the cumulative vocabulary curve V(N) never does
    cumulative DISTINCT counting — each token's FIRST document id is
    one map-combinable min-aggregation, and V(N) is then a count of
    firsts below each cutoff (a 5-row broadcast join), exactly one
    shuffle over the (lang, token) space. Token totals T(N) are
    conditional sums over the same 5-row grid. The only
    floating-point is ln() at up to five points per language and the
    closed-form OLS, rounded to 4 (and zero-normalized) on both
    engines.

    Reference basis: extension tier — corpus-statistics family beside
    ``zipf_slope_census`` / ``vocab_coverage_curve`` (SURVEY.md §2
    extensions)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    lens = docs.select(
        "lang", "doc_id", tokenize("text").alias("ts")
    )
    return _ols_per_lang(
        _heaps_xy(spark, lens), "n_points", "heaps_beta", "heaps_logk"
    )


def _heaps_xy(spark, lens):
    """(lang, x, y) Heaps coordinates from a (lang, doc_id, ts)
    tokenized frame: x = ln(tokens), y = ln(vocabulary) at the
    geometric-from-one cutoff grid {1, 2, 4, 8, nd}. Shared by
    ``heaps_law_fit`` and (via ``_heaps_xy_from``, which the panel
    feeds from its checkpointed vocabulary aggregate)
    ``corpus_health_census``."""
    firsts = (
        lens.select("lang", "doc_id", F.explode("ts").alias("token"))
        .groupBy("lang", "token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    doclens = lens.select(
        "lang", "doc_id", F.size("ts").alias("nt")
    )
    return _heaps_xy_from(spark, firsts, doclens)


def _heaps_xy_from(spark, firsts, doclens):
    """The fit's joins over pre-reduced parts: ``firsts`` is
    (lang, token, first_doc) and ``doclens`` is (lang, doc_id, nt)."""
    mx = doclens.agg((F.max("doc_id") + 1).alias("nd"))
    grid = (
        spark.createDataFrame([(c,) for c in _HEAPS_GRID], "cutoff long")
        .union(mx.select(F.col("nd").cast("long").alias("cutoff")))
        .distinct()
    )
    vocab_at = (
        firsts.join(
            F.broadcast(grid), F.col("first_doc") < F.col("cutoff")
        )
        .groupBy("lang", "cutoff")
        .agg(F.count("*").alias("v"))
    )
    tokens_at = (
        doclens.join(F.broadcast(grid), F.col("doc_id") < F.col("cutoff"))
        .groupBy("lang", "cutoff")
        .agg(F.sum("nt").alias("t"))
    )
    return vocab_at.join(tokens_at, ["lang", "cutoff"]).select(
        "lang", F.log("t").alias("x"), F.log("v").alias("y")
    )


@register(
    "corpus_health_census",
    oracle=f"""
    WITH lens AS (
        SELECT lang, doc_id, {_SQL_TOKENS} AS ts FROM documents
    ), toks AS (
        SELECT lang, doc_id, unnest(ts) AS token FROM lens
    ), freq AS (
        SELECT lang, token, count(*) AS cnt FROM toks GROUP BY lang, token
    ), {_sql_zipf_xy("zxy")},
    {_sql_ols_cte("zxy", "zfit", "vocab", "zipf_slope", "zipf_intercept")},
    mx AS (
        SELECT max(doc_id) + 1 AS nd FROM lens
    ), {_SQL_HEAPS_GRID}, firsts AS (
        SELECT lang, token, min(doc_id) AS first_doc
        FROM toks GROUP BY lang, token
    ), {_SQL_HEAPS_POINTS}, hxy AS (
        SELECT v.lang, ln(t.t) AS x, ln(v.v) AS y
        FROM vocab_at v JOIN tokens_at t USING (lang, cutoff)
    ), {_sql_ols_cte("hxy", "hfit", "h_points", "heaps_beta", "heaps_logk")},
    tot AS (
        SELECT lang, CAST(sum(cnt) AS BIGINT) AS total_tokens
        FROM freq GROUP BY lang
    ), hu AS (
        SELECT f.lang,
               -sum((f.cnt / CAST(tt.total_tokens AS DOUBLE))
                    * ln(f.cnt / CAST(tt.total_tokens AS DOUBLE))) AS h
        FROM freq f JOIN tot tt ON f.lang = tt.lang GROUP BY f.lang
    ), percnt AS (
        SELECT lang, token, doc_id, count(*) AS c
        FROM toks GROUP BY lang, token, doc_id
    ), tstats AS (
        SELECT lang, token,
               count(*) AS df, sum(c) AS sc, sum(c * c) AS scc
        FROM percnt GROUP BY lang, token
    ), burst AS (
        SELECT lang, avg({_SQL_VMR}) AS mean_vmr
        FROM tstats GROUP BY lang
    )
    SELECT z.lang,
           z.vocab,
           tot.total_tokens,
           z.zipf_slope,
           h.heaps_beta,
           round(hu.h, 6) + 0.0 AS h_unigram,
           round(b.mean_vmr, 4) + 0.0 AS mean_vmr
    FROM zfit z
    JOIN hfit h ON h.lang = z.lang
    JOIN tot ON tot.lang = z.lang
    JOIN hu ON hu.lang = z.lang
    JOIN burst b ON b.lang = z.lang
    ORDER BY z.lang
    """,
)
def corpus_health_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-screen per-language corpus-health panel (r11, VERDICT
    r10 item 8): the diagnostic the individual fits exist to feed,
    composed into a single query — vocabulary size, token total,
    Zipf slope (template/boilerplate drift), Heaps beta (vocabulary
    growth: duplication pushes it toward 0, OCR noise toward 1),
    unigram entropy (predictability) and mean token burstiness
    (variance-to-mean of per-document counts: topical text is
    bursty, machine-generated filler is not). One row per language;
    the pipeline smoke alarm to read BEFORE paying for dedup or
    training runs.

    Scale shape: the corpus is tokenized exactly TWICE — one
    exploded (lang, token, doc) -> (lang, token) aggregation pipeline
    whose vocabulary-sized result is eagerly checkpointed and feeds
    Zipf, totals, entropy, burstiness AND the Heaps first-occurrence
    column in one pass, and one explode-free doc-length scan for the
    token-prefix totals. Every join after that is vocabulary- or
    grid-sized. No windows over the token stream (the Zipf rank
    window runs over the per-language VOCABULARY), no driver
    collection, and both OLS fits share
    ``_ols_per_lang``/``_sql_ols_cte`` — the degeneracy-branched,
    signed-zero-normalized helpers every fit in the repo uses.

    Reference basis: extension tier — composition of the
    corpus-statistics family (``zipf_slope_census``,
    ``heaps_law_fit``, ``token_burstiness_census``,
    ``bigram_entropy_rate``); SURVEY.md §2 extensions."""
    docs = load_table(spark, sf_dir, "documents")
    lens = docs.select("lang", "doc_id", tokenize("text").alias("ts"))
    # ONE exploded aggregation carries every per-(lang, token) fact
    # the panel needs — count moments for burstiness, the total count
    # (sc) for Zipf/entropy, the first-occurrence doc for Heaps — and
    # the result is VOCABULARY-sized, so the eager localCheckpoint is
    # tiny and every downstream branch reads it instead of re-scanning
    # and re-exploding the corpus (the naive composition planned 9
    # corpus scans; this plans 2: the explode pipeline and the
    # no-explode doc-length pass).
    tstats = (
        lens.select("lang", "doc_id", F.explode("ts").alias("token"))
        .groupBy("lang", "token", "doc_id")
        .agg(F.count("*").alias("c"))
        .groupBy("lang", "token")
        .agg(
            F.count("*").alias("df"),
            F.sum("c").alias("sc"),
            F.sum(F.col("c") * F.col("c")).alias("scc"),
            F.min("doc_id").alias("first_doc"),
        )
        .localCheckpoint(eager=True)
    )
    freq = tstats.select("lang", "token", F.col("sc").alias("cnt"))
    # |docs|-sized and consumed twice (max-doc grid + prefix totals):
    # checkpointing it keeps the returned plan at ONE corpus pass
    doclens = lens.select(
        "lang", "doc_id", F.size("ts").alias("nt")
    ).localCheckpoint(eager=True)
    zfit = _ols_per_lang(
        _zipf_xy(freq), "vocab", "zipf_slope", "zipf_intercept"
    ).select("lang", "vocab", "zipf_slope")
    hfit = _ols_per_lang(
        _heaps_xy_from(
            spark, tstats.select("lang", "token", "first_doc"), doclens
        ),
        "h_points",
        "heaps_beta",
        "heaps_logk",
    ).select("lang", "heaps_beta")
    tot = freq.groupBy("lang").agg(
        F.sum("cnt").cast("long").alias("total_tokens")
    )
    p = F.col("cnt") / F.col("total_tokens").cast("double")
    hu = (
        freq.join(tot, "lang")
        .groupBy("lang")
        .agg(norm0(F.round(-F.sum(p * F.log(p)), 6)).alias("h_unigram"))
    )
    vmr = _vmr_col()
    burst = tstats.groupBy("lang").agg(
        norm0(F.round(F.avg(vmr), 4)).alias("mean_vmr")
    )
    return (
        zfit.join(hfit, "lang")
        .join(tot, "lang")
        .join(hu, "lang")
        .join(burst, "lang")
        .select(
            "lang",
            "vocab",
            "total_tokens",
            "zipf_slope",
            "heaps_beta",
            "h_unigram",
            "mean_vmr",
        )
        .orderBy("lang")
    )


@register(
    "lexical_diversity_census",
    oracle=f"""
    WITH freq AS (
        SELECT lang, token, count(*) AS c
        FROM (
            SELECT lang, unnest({_SQL_TOKENS}) AS token FROM documents
        )
        GROUP BY lang, token
    ), moments AS (
        SELECT lang,
               CAST(sum(c) AS BIGINT) AS n,
               count(*) AS v,
               CAST(sum(c * c) AS BIGINT) AS scc,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS v1
        FROM freq GROUP BY lang
    )
    SELECT lang,
           n AS n_tokens,
           v AS vocab,
           round(10000.0 * (scc - n) / (CAST(n AS DOUBLE) * n), 4)
               AS yule_k,
           round((scc - n) / (CAST(n AS DOUBLE) * (n - 1)), 6)
               AS simpson_d,
           round(v / CAST(n AS DOUBLE), 6) AS ttr,
           round(v1 / CAST(v AS DOUBLE), 6) AS hapax_ratio
    FROM moments
    ORDER BY lang
    """,
)
def lexical_diversity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language lexical-diversity panel: Yule's K (Yule 1944,
    K = 10^4 * (sum c^2 - N)/N^2 over the token frequency spectrum),
    Simpson's repeat-rate D = sum c(c-1)/(N(N-1)) (the probability
    two random tokens coincide), type-token ratio, and hapax ratio
    V1/V — the standard vocabulary-richness battery.  Template or
    machine-repeated text drives K and D up and the hapax ratio down,
    making this the cheap companion alarm to ``zipf_slope_census``
    (rank-spectrum shape) and ``token_burstiness_census``
    (per-document clumping).

    All four statistics reduce to three exact integer moments of the
    frequency table — N = sum c, V = count, sum c^2, V1 = |c=1| — in
    ONE map-side-combinable aggregation per language; each output is
    a single final division (no float accumulates across rows).
    Unlike TTR, K and D are corpus-size-invariant, so the panel is
    comparable across SFs.

    Reference basis: extension tier — corpus-statistics family
    beside ``zipf_slope_census`` / ``heaps_law_fit`` (SURVEY.md §2
    extensions)."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(tokenize("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("c"))
    )
    m = freq.groupBy("lang").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("v"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("v1"),
    )
    n = F.col("n").cast("double")
    return m.select(
        "lang",
        F.col("n").alias("n_tokens"),
        F.col("v").alias("vocab"),
        F.round(10000.0 * (F.col("scc") - F.col("n")) / (n * n), 4).alias(
            "yule_k"
        ),
        F.round(
            (F.col("scc") - F.col("n")) / (n * (F.col("n") - 1)), 6
        ).alias("simpson_d"),
        F.round(F.col("v") / n, 6).alias("ttr"),
        F.round(
            F.col("v1") / F.col("v").cast("double"), 6
        ).alias("hapax_ratio"),
    ).orderBy("lang")


# RAKE (Rose, Engel, Cramer & Cowley 2010): candidate phrases are
# maximal runs of consecutive non-stopword tokens, capped at
# _RAKE_MAX_LEN words (longer runs REJECTED outright, the rake-nltk
# max_length convention — truncation would manufacture phrases the
# text never contained).  Word scores are degree/frequency over the
# accepted phrases.
_RAKE_MAX_LEN = 4
_RAKE_TOP = 20


@register(
    "rake_keywords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lower(t) AS w, p
        FROM (
            SELECT doc_id,
                   unnest({_SQL_TOKENS}) AS t,
                   unnest(range(len({_SQL_TOKENS}))) AS p
            FROM documents
        )
    ), ns AS (
        SELECT doc_id, w, p,
               p - row_number() OVER (
                   PARTITION BY doc_id ORDER BY p) AS grp
        FROM toks
        WHERE NOT list_contains({list(_STOPWORDS)!r}, w)
    ), runs AS (
        SELECT doc_id, grp,
               count(*) AS len,
               string_agg(w, ' ' ORDER BY p) AS phrase
        FROM ns GROUP BY doc_id, grp
        HAVING count(*) <= {_RAKE_MAX_LEN}
    ), occ AS (
        SELECT ns.w, r.len, r.doc_id, r.grp
        FROM ns JOIN runs r USING (doc_id, grp)
    ), wordstats AS (
        SELECT w,
               count(*) AS freq,
               CAST(sum(len) AS BIGINT) AS deg
        FROM occ GROUP BY w
    ), phrase_occ AS (
        SELECT phrase, len, count(*) AS n_occurrences
        FROM runs GROUP BY phrase, len
    ), members AS (
        SELECT p.phrase, p.len, p.n_occurrences, unnest(string_split(p.phrase, ' ')) AS w
        FROM phrase_occ p
    )
    SELECT m.phrase,
           CAST(max(m.len) AS BIGINT) AS n_words,
           CAST(max(m.n_occurrences) AS BIGINT) AS n_occurrences,
           round(sum(s.deg * 1.0 / s.freq), 4) AS rake_score
    FROM members m JOIN wordstats s USING (w)
    GROUP BY m.phrase
    ORDER BY rake_score DESC, m.phrase
    LIMIT {_RAKE_TOP}
    """,
)
def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free token runs of at most
    4 words; each word scores degree/frequency over the
    accepted phrases (degree = summed length of phrases containing
    it); a phrase scores the sum of its members' scores — the
    document-set keyword panel, top-20 by score.

    Runs are found with the islands trick (position minus non-stopword
    rank is constant within a run) — one window per document, no
    self-joins.  Word degree/frequency are exact integer aggregates;
    the only float is the final per-distinct-phrase sum of at most
    4 deg/freq rationals (round-to-4 absorbs
    summation-order ulps).  Identical phrases are collapsed BEFORE
    scoring so each distinct phrase sums its member scores exactly
    once; the top-20 cut orders by the ROUNDED score with a
    phrase tie-break, so the selected set is engine-independent.

    Reference basis: extension tier — keyword family beside
    ``textrank_keywords`` (graph-free counterpart; SURVEY.md §2
    extensions)."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in _STOPWORDS])
    toks = docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("p", "t")
    ).select("doc_id", "p", F.lower("t").alias("w"))
    ns = toks.filter(~F.array_contains(stop, F.col("w"))).withColumn(
        "grp",
        F.col("p")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("p")
        ),
    )
    runs = (
        ns.groupBy("doc_id", "grp")
        .agg(
            F.count("*").alias("len"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("p", "w"))
                    ),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
        )
        .filter(F.col("len") <= _RAKE_MAX_LEN)
    )
    occ = ns.join(runs, ["doc_id", "grp"]).select("w", "len")
    wordstats = occ.groupBy("w").agg(
        F.count("*").alias("freq"), F.sum("len").alias("deg")
    )
    phrase_occ = runs.groupBy("phrase", "len").agg(
        F.count("*").alias("n_occurrences")
    )
    members = phrase_occ.select(
        "phrase",
        "len",
        "n_occurrences",
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    return (
        members.join(wordstats, "w")
        .groupBy("phrase")
        .agg(
            F.max("len").cast("long").alias("n_words"),
            F.max("n_occurrences").alias("n_occurrences"),
            F.round(
                F.sum(F.col("deg") / F.col("freq").cast("double")), 4
            ).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(_RAKE_TOP)
    )
