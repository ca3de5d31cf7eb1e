"""Lexical retrieval over the documents corpus.

A training-data pipeline needs cheap corpus search long before it has
embeddings for everything: BM25 is the standard lexical ranking
function (Robertson / Spärck Jones probabilistic relevance framework)
and doubles as the sparse half of hybrid (sparse+dense) retrieval.
The queries here are batch formulations — one scan builds the corpus
statistics, term postings stay filtered to the query vocabulary
BEFORE any shuffle, and the final ranking is a global top-k
(TakeOrdered, never a full sort).

Reference basis: extension tier — the reference (a pandas/bash log
harness, ``/root/reference/analyze``) has no retrieval surface; this
module is part of the LLM-pipeline extension family alongside
``queries/similarity.py`` (dense) and ``queries/text.py`` (quality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce511_spark.functions.text import tokenize
from mapreduce511_spark.queries import register
from mapreduce511_spark.queries.oracle_sql import _SQL_TOKENS
from mapreduce511_spark.sources.tables import load_table

# Fixed ad-hoc query vocabulary: mid-to-high-frequency corpus terms so
# every sf has matches; BM25's length normalization and tf saturation
# still rank docs apart even when df is large.
BM25_TERMS = ("spark", "vector", "stream", "hash")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20

_SQL_TERMS = "('spark', 'vector', 'stream', 'hash')"


@register(
    "bm25_top_docs",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    stats AS (
        SELECT count(*) AS n_corpus, avg(len(toks)) AS avgdl FROM base
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS w FROM base)
        WHERE w IN {_SQL_TERMS}
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    dl AS (SELECT doc_id, len(toks) AS dl FROM base)
    SELECT tf.doc_id,
           count(*) AS n_terms,
           round(sum(
               ln(1.0 + (s.n_corpus - df.df + 0.5) / (df.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
           ), 4) AS bm25
    FROM tf
    JOIN dl ON tf.doc_id = dl.doc_id
    JOIN df ON tf.w = df.w
    CROSS JOIN stats s
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed term query — the
    lexical-retrieval baseline every hybrid-search pipeline starts
    from. Okapi BM25: idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    with idf = ln(1 + (N-df+0.5)/(df+0.5)).

    Scale shape: the token explode is filtered to the query vocabulary
    BEFORE the tf shuffle, so the shuffled volume is O(matching
    postings), not O(corpus tokens); document length comes straight
    off the array (`F.size`, no second explode); corpus stats are a
    1-row broadcast and per-term df a |terms|-row broadcast; the
    per-doc score reduce shuffles once on doc_id; the final top-k is
    a TakeOrdered over 20 rows, never a global sort. At 100 TB the
    only large exchange is the (doc_id, term) partial-aggregated tf —
    uniform keys, map-side combined.

    Reference basis: extension tier (no retrieval in the reference)."""
    return _bm25_scores(spark, sf_dir).orderBy(
        F.desc("bm25"), "doc_id"
    ).limit(BM25_TOP_K)


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_terms, bm25) for every doc matching >=1 query term —
    the shared scorer behind ``bm25_top_docs`` and the hybrid RRF
    query (see bm25_top_docs for the plan-shape discussion)."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokenize("text").alias("toks"))
    stats = base.agg(
        F.count("*").alias("n_corpus"),
        F.avg(F.size("toks")).alias("avgdl"),
    )
    dl = base.select("doc_id", F.size("toks").alias("dl"))
    tf = (
        base.select("doc_id", F.explode("toks").alias("w"))
        .filter(F.col("w").isin(*BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    contrib = (
        F.log(
            F.lit(1.0)
            + (F.col("n_corpus") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * F.col("tf")
        * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(contrib), 4).alias("bm25"),
        )
    )


RRF_K = 60
RRF_CAND = 100


@register(
    "hybrid_rrf_top_docs",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    stats AS (
        SELECT count(*) AS n_corpus, avg(len(toks)) AS avgdl FROM base
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS w FROM base)
        WHERE w IN {_SQL_TERMS}
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    dl AS (SELECT doc_id, len(toks) AS dl FROM base),
    bm25 AS (
        SELECT tf.doc_id,
               round(sum(
                   ln(1.0 + (s.n_corpus - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
               ), 4) AS bm25
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN df ON tf.w = df.w
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    ),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM bm25
        ORDER BY bm25 DESC, doc_id LIMIT {RRF_CAND}
    ),
    probe AS (
        SELECT CAST(embedding AS DOUBLE[]) AS p
        FROM embeddings WHERE vec_id = 0
    ),
    cos AS (
        SELECT vec_id,
               round(list_dot_product(CAST(embedding AS DOUBLE[]), p)
                     / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                              CAST(embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(p, p))), 4) AS cs
        FROM embeddings, probe
    ),
    dense AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY cs DESC, vec_id) AS r
        FROM cos
        ORDER BY cs DESC, vec_id LIMIT {RRF_CAND}
    )
    SELECT coalesce(lex.doc_id, dense.vec_id) AS doc_id,
           round(coalesce(1.0 / ({RRF_K} + lex.r), 0)
                 + coalesce(1.0 / ({RRF_K} + dense.r), 0), 6) AS rrf_score
    FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.vec_id
    ORDER BY rrf_score DESC, doc_id
    LIMIT {BM25_TOP_K}
    """,
)
def hybrid_rrf_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack et al.,
    SIGIR'09): fuse the LEXICAL ranking (BM25 over the fixed term
    query) with the DENSE ranking (cosine against the corpus probe
    vector, `similarity_topk`'s formulation) as sum of 1/(60+rank) —
    the standard sparse+dense ensemble that needs no score
    calibration between the two retrievers.

    Both rank lists are explicitly truncated to the top-100
    CANDIDATES before ranking — that's the scale contract: RRF only
    ever ranks candidate lists (each produced scalably: BM25 via
    term-filtered postings + TakeOrdered, cosine via linear scan +
    TakeOrdered, or its ANN drop-ins), so the rank windows run over
    100 rows, never the corpus. Ranks are assigned over ROUNDED
    scores with id tiebreaks, making every rank — and the fused
    order — deterministic and engine-independent.

    Reference basis: extension tier — retrieval family (companion to
    ``bm25_top_docs``; dense side shared with
    ``queries/similarity.py``)."""
    from pyspark.sql.window import Window

    from mapreduce511_spark.functions.vectors import cosine_similarity

    lex_top = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(RRF_CAND)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("r_lex"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("p")
    )
    cos = emb.join(F.broadcast(probe)).select(
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), F.col("p")), 4).alias(
            "cs"
        ),
    )
    dense_top = cos.orderBy(F.desc("cs"), "vec_id").limit(RRF_CAND)
    dense = dense_top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cs"), "vec_id"))
        .alias("r_dense"),
    )
    fused = (
        lex.join(dense, lex["doc_id"] == dense["vec_id"], "full_outer")
        .select(
            F.coalesce("doc_id", "vec_id").alias("doc_id"),
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("r_dense")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(BM25_TOP_K)


# Retrieval-evaluation constants: graded EDITORIAL relevance comes
# from the deterministic md5 doc_id grade (0..3) — a stand-in for the
# human qrels a real evaluation uses (grades independent of the
# ranker, so the metrics genuinely exercise rank-sensitive
# arithmetic instead of saturating at 1.0); "relevant" = grade >= 2.
# The DCG discount is the integer-floored harmonic 1000000 // (r+1),
# so every metric is exact integer arithmetic in both engines.
EVAL_AT = 10
EVAL_REL_MIN = 2
_DISC_SCALE = 1000000


@register(
    "retrieval_quality_census",
    oracle=f"""
    WITH base AS (SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    stats AS (
        SELECT count(*) AS n_corpus, avg(len(toks)) AS avgdl FROM base
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS w FROM base)
        WHERE w IN {_SQL_TERMS}
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    dl AS (SELECT doc_id, len(toks) AS dl FROM base),
    scored AS (
        SELECT tf.doc_id,
               round(sum(
                   ln(1.0 + (s.n_corpus - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
               ), 4) AS bm25,
               CAST(('0x' || substr(md5(CAST(tf.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 4 AS rel
        FROM tf
        JOIN dl ON tf.doc_id = dl.doc_id
        JOIN df ON tf.w = df.w
        CROSS JOIN stats s
        GROUP BY tf.doc_id
    ),
    ranked AS (
        SELECT doc_id, rel,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
        FROM scored
        ORDER BY bm25 DESC, doc_id LIMIT {EVAL_AT}
    ),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS r
        FROM scored
        ORDER BY rel DESC, doc_id LIMIT {EVAL_AT}
    ),
    m AS (
        SELECT
            (SELECT count(*) FROM scored) AS n_matching,
            (SELECT count(*) FROM ranked) AS n_ranked,
            (SELECT count(*) FROM ranked WHERE rel >= {EVAL_REL_MIN})
                AS n_rel_ranked,
            coalesce((SELECT 1000000 // min(r) FROM ranked
                      WHERE rel >= {EVAL_REL_MIN}), 0) AS mrr_ppm,
            (SELECT CAST(sum(rel * ({_DISC_SCALE} // (r + 1)))
                         AS BIGINT) FROM ranked) AS dcg_scaled,
            (SELECT CAST(sum(rel * ({_DISC_SCALE} // (r + 1)))
                         AS BIGINT) FROM ideal) AS idcg_scaled
    )
    SELECT CAST(n_matching AS BIGINT) AS n_matching,
           CAST(n_ranked AS BIGINT) AS n_ranked,
           CAST(10000 * n_rel_ranked // n_ranked AS BIGINT)
               AS precision_at10_bp,
           CAST(mrr_ppm AS BIGINT) AS mrr_ppm,
           dcg_scaled, idcg_scaled,
           CAST(1000000 * dcg_scaled // idcg_scaled AS BIGINT) AS ndcg_ppm
    FROM m
    """,
)
def retrieval_quality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL QUALITY EVALUATION under the exact oracle (r8): the
    IR metrics a pipeline tracks when it tunes its search stack —
    precision@10, MRR@10 and NDCG@10 of the BM25 ranking against
    GRADED EDITORIAL RELEVANCE. The qrels are the deterministic md5
    doc_id grade 0..3 (a stand-in for human judgments; independent of
    the ranker, so the metrics discriminate instead of saturating —
    the matched-term-count "relevance" variant scores a constant 1.0
    because BM25 correctly front-loads 4-term docs). Every metric is
    EXACT INTEGER arithmetic: the DCG discount is the integer-floored
    harmonic 1000000 // (rank+1) and NDCG/MRR are floor-ppm ratios of
    exact integers — no float comparison anywhere, so both engines
    agree bit-for-bit. Ranks are assigned over ROUNDED BM25 scores
    with doc_id tiebreaks (the ``hybrid_rrf_top_docs`` determinism
    discipline); the ideal ranking (IDCG) is over the scored
    candidate pool, stated identically in both engines.

    Scale shape: inherits ``_bm25_scores``'s plan (term-filtered
    postings before the tf shuffle, 1-row/|terms|-row broadcasts);
    the ranking windows run over TakeOrdered top-10 candidate lists,
    never the corpus; the census is a 1-row aggregate.

    Reference basis: extension tier — retrieval family (companions:
    ``bm25_top_docs``, ``hybrid_rrf_top_docs``)."""
    from pyspark.sql.window import Window

    from mapreduce511_spark.operators.dedup import hash60

    scored = _bm25_scores(spark, sf_dir).select(
        "doc_id",
        "bm25",
        (hash60(F.col("doc_id").cast("string")) % 4).alias("rel"),
    )
    n_matching = scored.count()
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(EVAL_AT)
    ranked = top.select(
        "doc_id",
        "rel",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("r"),
    )
    ideal = (
        scored.orderBy(F.desc("rel"), "doc_id")
        .limit(EVAL_AT)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), "doc_id"))
            .alias("r"),
        )
    )
    disc = F.expr(f"{_DISC_SCALE} div (r + 1)")
    rk = ranked.agg(
        F.count("*").alias("n_ranked"),
        F.sum(F.when(F.col("rel") >= EVAL_REL_MIN, 1).otherwise(0)).alias(
            "n_rel_ranked"
        ),
        F.coalesce(
            F.expr(
                f"1000000 div min(CASE WHEN rel >= {EVAL_REL_MIN} "
                "THEN r END)"
            ),
            F.lit(0),
        ).alias("mrr_ppm"),
        F.sum(F.col("rel") * disc).cast("long").alias("dcg_scaled"),
    )
    ideal_agg = ideal.agg(
        F.sum(F.col("rel") * disc).cast("long").alias("idcg_scaled")
    )
    return (
        rk.crossJoin(F.broadcast(ideal_agg))
        .select(
            F.lit(n_matching).cast("long").alias("n_matching"),
            F.col("n_ranked").cast("long"),
            F.expr("10000 * n_rel_ranked div n_ranked")
            .cast("long")
            .alias("precision_at10_bp"),
            F.col("mrr_ppm").cast("long"),
            "dcg_scaled",
            "idcg_scaled",
            F.expr("1000000 * dcg_scaled div idcg_scaled")
            .cast("long")
            .alias("ndcg_ppm"),
        )
    )
