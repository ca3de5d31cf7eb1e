"""Suffix-array query family (r9, r8 VERDICT item 2): the exact,
width-free counterpart of the hashed-n-gram dedup queries, registered
at the driver surface.

The distributed construction lives in ``operators/suffix_array.py``
(Manber–Myers prefix doubling on the two-pass ordering primitives —
see that module for the 100 TB argument). These queries expose it:

- ``suffix_array_census`` — per-document permutation-sensitive
  checksums of the finished suffix array;
- ``suffix_repeated_phrases`` — corpus-wide top-k longest repeated
  word sequences via adjacent-suffix LCP;
- ``exact_duplicate_span_census`` — per-document token coverage of
  repeated spans >= 8 tokens: the EXACT census the hashed
  approximation ``duplicate_span_removal`` approximates (Lee et al.
  2022's suffix-array dedup, restated as a census).

Every query carries an EXACT DuckDB oracle. The trick that makes the
suffix ORDER SQL-restatable: comparing token sequences token-wise is
identical to comparing the token lists joined with a separator
(chr(2)) that sorts below every corpus character, because the unique
per-document sentinel (chr(1) || doc_id) terminates each document's
suffixes — two distinct suffixes always mismatch at or before the
first sentinel, so doc-local suffix strings reproduce the corpus-wide
prefix-doubling order exactly, and DuckDB's binary VARCHAR collation
matches Spark's UTF-8 binary comparison.

Reference basis: extension tier — dedup family (SURVEY.md §2
extensions); no analog in /root/reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce511_spark.memo import session_memo, stat_signature
from mapreduce511_spark.operators.suffix_array import (
    adjacent_lcp,
    build_suffix_array,
    corpus_positions,
    repeated_phrases,
)
from mapreduce511_spark.queries import register
from mapreduce511_spark.sources.tables import load_table

_SQL_TOKENS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

# The suffix array is the most expensive artifact in the repo, so the
# finished (positions, sa) is also persisted as a content-fingerprinted
# parquet artifact under the warehouse (the ANN sidecar discipline): a
# fresh process RELOADS it instead of rebuilding. The sidecar JSON is
# written atomically AFTER both parquet commits, so a process finding
# sidecar + _SUCCESS markers never rewrites part files under a
# concurrent reader. The session memo in front of it keeps the frames
# in RAM for the session.
_SA_MEMO: dict = {}


def _sa_artifact_path(spark: SparkSession, sig: tuple) -> str:
    import hashlib
    import os

    raw = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    root = raw[len("file:"):] if raw.startswith("file:") else raw
    tag = hashlib.sha1(repr(sig).encode()).hexdigest()[:16]
    return os.path.join(root, "sa_index", f"sa_{tag}")


def _sa_artifact_complete(art: str) -> bool:
    import os

    from mapreduce511_spark.operators.ann import load_model_sidecar

    if load_model_sidecar(art, require_success=False) is None:
        return False
    return all(
        os.path.exists(os.path.join(art, part, "_SUCCESS"))
        for part in ("positions", "sa")
    )


def _corpus_sa(spark: SparkSession, sf_dir: str):
    import os

    from mapreduce511_spark.operators.ann import (
        retain_latest_artifact,
        write_model_sidecar,
    )

    path = os.path.join(sf_dir, "documents.parquet")

    def build():
        sig = stat_signature([path])
        # an input that cannot be stat'ed gets no durable artifact:
        # its content fingerprint could not see a rewrite
        art = _sa_artifact_path(spark, (path, *sig[0])) if sig else None
        if art is not None and _sa_artifact_complete(art):
            # serve the session from RAM, not from repeated parquet
            # scans: the LCP gather and the span queries read these
            # frames several times each
            return tuple(
                spark.read.parquet(os.path.join(art, part)).localCheckpoint(
                    eager=True
                )
                for part in ("positions", "sa")
            )
        docs = load_table(spark, sf_dir, "documents")
        positions = corpus_positions(docs).localCheckpoint(eager=True)
        sa = build_suffix_array(positions).localCheckpoint(eager=True)
        if art is not None:
            positions.write.mode("overwrite").parquet(
                os.path.join(art, "positions")
            )
            sa.write.mode("overwrite").parquet(os.path.join(art, "sa"))
            write_model_sidecar(
                art, {"n_positions": positions.count(), "source": path}
            )
            retain_latest_artifact(art, path)
        # memoize the checkpointed frames, not a re-read of the parquet
        # just written
        return positions, sa

    return session_memo(_SA_MEMO, spark, [path], build)


# The capped adjacent-LCP table is the shared kernel of three queries
# (suffix_repeated_phrases, exact_duplicate_span_census,
# exact_duplicate_span_removal), and _repeat_islands reads it twice per
# call; without the memo the explode+join+collect+self-join pipeline
# ran up to ~8 times per bench pass.
_LCP_MEMO: dict = {}


def _corpus_lcp(spark: SparkSession, sf_dir: str):
    """(positions, sa, adjacent_lcp-frame) with the LCP frame memoized
    per session at the family's shared max_lcp=12 cap."""
    import os

    positions, sa = _corpus_sa(spark, sf_dir)
    al = session_memo(
        _LCP_MEMO,
        spark,
        [os.path.join(sf_dir, "documents.parquet")],
        lambda: adjacent_lcp(positions, sa, max_lcp=12).localCheckpoint(
            eager=True
        ),
    )
    return positions, sa, al

# shared oracle prelude: tokenized docs + sentinel, corpus positions
# (1-based, (doc_id, off) order — matches global_row_number), and the
# suffix rank sa (0-based) via the separator-join ordering trick.
_SFX_BASE = f"""
    base AS (
        SELECT doc_id,
               list_append({_SQL_TOKENS},
                           chr(1) || CAST(doc_id AS VARCHAR)) AS ts
        FROM documents
    ), pos AS (
        SELECT doc_id,
               unnest(ts) AS token,
               unnest(range(len(ts))) AS off,
               ts
        FROM base
    ), numbered AS (
        SELECT doc_id, token, off, ts,
               row_number() OVER (ORDER BY doc_id, off) AS pos_id,
               array_to_string(ts[off + 1:], chr(2)) AS sfx
        FROM pos
    ), ranked AS (
        SELECT doc_id, off, pos_id,
               row_number() OVER (ORDER BY sfx) - 1 AS sa
        FROM numbered
    )
"""

# capped-LCP adjacent pairs (W tokens), mirroring operators'
# adjacent_lcp: windows are W-token slices of the CONCATENATED corpus
# stream (clamped at the corpus tail), LCP = first mismatch index
# under null-safe equality, no-mismatch => min window length.
def _sfx_pairs(w: int) -> str:
    return f"""
    corpus AS (
        SELECT list(token ORDER BY doc_id, off) AS arr FROM pos
    ), windowed AS (
        SELECT r.doc_id, r.off, r.pos_id, r.sa,
               c.arr[r.pos_id : r.pos_id + {w - 1}] AS win
        FROM ranked r CROSS JOIN corpus c
    ), adj AS (
        SELECT pos_id AS pos, win,
               lead(pos_id) OVER (ORDER BY sa) AS pos_b,
               lead(win) OVER (ORDER BY sa) AS win_b
        FROM windowed
    ), lcps AS (
        SELECT pos, pos_b, win,
               CASE WHEN fm = 0 THEN least(len(win), len(win_b))
                    ELSE fm - 1 END AS lcp
        FROM (
            SELECT *,
                   coalesce(list_position(
                       list_transform(
                           list_zip(win, win_b),
                           x -> x[1] IS NOT DISTINCT FROM x[2]),
                       false), 0) AS fm
            FROM adj WHERE pos_b IS NOT NULL
        )
    )
"""


@register(
    "suffix_array_census",
    oracle=f"""
    WITH {_SFX_BASE}
    SELECT doc_id,
           count(*) AS n_suffixes,
           min(sa) AS min_sa,
           CAST(sum(sa) AS BIGINT) AS sa_sum,
           CAST(sum(sa * off) AS BIGINT) AS saoff_sum
    FROM ranked
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def suffix_array_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document checksums of the finished distributed suffix
    array: suffix count, the document's lexicographically smallest
    suffix rank, and two permutation-sensitive sums (sum of ranks,
    sum of rank*offset) — a wrong rank anywhere in the corpus moves
    some document's ``saoff_sum``, so the oracle certifies the whole
    permutation, not just its shape. The construction is O(log max
    doc length) prefix-doubling rounds of hash-shuffle joins; nothing
    sorts globally in one partition (``operators/suffix_array.py``)."""
    positions, sa = _corpus_sa(spark, sf_dir)
    return (
        sa.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_suffixes"),
            F.min("sa").alias("min_sa"),
            F.sum("sa").alias("sa_sum"),
            F.sum(F.col("sa") * F.col("off")).alias("saoff_sum"),
        )
        .orderBy("doc_id")
    )


@register(
    "suffix_repeated_phrases",
    oracle=f"""
    WITH {_SFX_BASE}, {_sfx_pairs(12)}
    SELECT pos, pos_b, lcp,
           array_to_string(win[1:6], ' ') AS head
    FROM lcps
    WHERE lcp >= 2
    ORDER BY lcp DESC, pos ASC
    LIMIT 20
    """,
)
def suffix_repeated_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 longest repeated word sequences, exactly:
    adjacent suffixes in suffix-array order realize every maximal
    repeat, so the top LCP pairs ARE the longest repeated phrases
    (capped at a 12-token comparison window; phrases of >= 2 tokens
    reported with their first-6-token head). The LCP gather is a
    bounded pos+i equi-join — never a full-suffix comparison."""
    _, _, al = _corpus_lcp(spark, sf_dir)
    return repeated_phrases(None, None, max_lcp=12, topk=20, al=al)


@register(
    "exact_duplicate_span_census",
    oracle=f"""
    WITH {_SFX_BASE}, {_sfx_pairs(12)},
    per_pos AS (
        SELECT p, max(lcp) AS m
        FROM (
            SELECT pos AS p, lcp FROM lcps
            UNION ALL
            SELECT pos_b AS p, lcp FROM lcps
        )
        GROUP BY p
        HAVING max(lcp) >= 8
    ), starts AS (
        SELECT n.doc_id, n.off, n.off + per_pos.m AS e
        FROM per_pos JOIN numbered n ON n.pos_id = per_pos.p
    ), flagged AS (
        SELECT doc_id, off, e,
               CASE WHEN off > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY off
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS newg
        FROM starts
    ), grouped AS (
        SELECT doc_id, off, e,
               sum(newg) OVER (PARTITION BY doc_id ORDER BY off
                               ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged
    ), islands AS (
        SELECT doc_id, g, max(e) - min(off) AS cov
        FROM grouped GROUP BY doc_id, g
    ), lens AS (
        SELECT doc_id, len(ts) - 1 AS n_tokens FROM base
    )
    SELECT i.doc_id,
           max(lens.n_tokens) AS n_tokens,
           CAST(sum(i.cov) AS BIGINT) AS covered_tokens,
           count(*) AS n_spans
    FROM islands i JOIN lens ON lens.doc_id = i.doc_id
    GROUP BY i.doc_id
    ORDER BY i.doc_id
    """,
)
def exact_duplicate_span_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT repeated-span dedup census — the suffix-array counterpart
    (Lee et al. 2022) of the hashed-8-gram ``duplicate_span_removal``
    screen: per document, how many tokens sit inside a repeated span
    of >= 8 tokens (span length measured up to the 12-token LCP cap;
    any cap >= the threshold is lossless for DETECTION, and coverage
    beyond the cap is reported at the cap — documented, deterministic
    on both sides). Repeat-start positions are those whose max LCP
    with either suffix-array neighbor reaches 8 (a suffix's best
    match corpus-wide is always an SA neighbor — exactness comes
    free); per-document interval islands then merge with the same
    gaps-and-islands pass ``decontamination_span_removal`` uses,
    under a doc-partitioned window."""
    positions, _, al = _corpus_lcp(spark, sf_dir)
    islands = _repeat_islands(positions, al).groupBy("doc_id", "g").agg(
        (F.max("e") - F.min("off")).alias("cov")
    )
    # real token count per doc = positions minus the sentinel
    lens = positions.groupBy("doc_id").agg(
        (F.count("*") - 1).alias("n_tokens")
    )
    return (
        islands.join(lens, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_tokens").alias("n_tokens"),
            F.sum("cov").alias("covered_tokens"),
            F.count("*").alias("n_spans"),
        )
        .orderBy("doc_id")
    )


def _repeat_islands(positions: DataFrame, al: DataFrame) -> DataFrame:
    """Shared kernel of the census and the removal manifest: repeat
    START positions (max LCP with either suffix-array neighbor >= 8
    tokens, LCP capped at 12 — any cap >= the threshold is lossless
    for detection) expanded to [off, e) intervals and merged into
    per-document islands with the gaps-and-islands pass. Returns one
    row per repeat start, tagged (doc_id, off, e, g) where ``g`` is
    the island ordinal within the document."""
    al = al.select("pos", "pos_b", "lcp")
    per_pos = (
        al.select(F.col("pos").alias("p"), "lcp")
        .unionAll(al.select(F.col("pos_b").alias("p"), "lcp"))
        .groupBy("p")
        .agg(F.max("lcp").alias("m"))
        .filter(F.col("m") >= 8)
    )
    starts = per_pos.join(
        positions.select(F.col("pos").alias("p"), "doc_id", "off"), "p"
    ).select("doc_id", "off", (F.col("off") + F.col("m")).alias("e"))
    prev = (
        Window.partitionBy("doc_id")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = (
        Window.partitionBy("doc_id")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return starts.withColumn(
        "newg",
        F.when(
            F.col("off") > F.coalesce(F.max("e").over(prev), F.lit(-1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("g", F.sum("newg").over(run))


@register(
    "exact_duplicate_span_removal",
    oracle=f"""
    WITH {_SFX_BASE}, {_sfx_pairs(12)},
    per_pos AS (
        SELECT p, max(lcp) AS m
        FROM (
            SELECT pos AS p, lcp FROM lcps
            UNION ALL
            SELECT pos_b AS p, lcp FROM lcps
        )
        GROUP BY p
        HAVING max(lcp) >= 8
    ), starts AS (
        SELECT n.doc_id, n.off, n.off + per_pos.m AS e
        FROM per_pos JOIN numbered n ON n.pos_id = per_pos.p
    ), flagged AS (
        SELECT doc_id, off, e,
               CASE WHEN off > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY off
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS newg
        FROM starts
    ), grouped AS (
        SELECT doc_id, off, e,
               sum(newg) OVER (PARTITION BY doc_id ORDER BY off
                               ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged
    ), islands AS (
        SELECT doc_id, g, min(off) AS s, max(e) AS e
        FROM grouped GROUP BY doc_id, g
    ), lens AS (
        SELECT doc_id, len(ts) - 1 AS n_tokens FROM base
    ), cov AS (
        SELECT doc_id, unnest(range(s, e)) AS off FROM islands
    ), kept AS (
        SELECT p.doc_id, p.off, p.token
        FROM pos p JOIN lens l ON l.doc_id = p.doc_id
        WHERE p.off < l.n_tokens
          AND NOT EXISTS (SELECT 1 FROM cov c
                          WHERE c.doc_id = p.doc_id AND c.off = p.off)
    ), kept_agg AS (
        SELECT doc_id, string_agg(token, ' ' ORDER BY off) AS kept_str
        FROM kept GROUP BY doc_id
    ), summary AS (
        SELECT doc_id,
               CAST(sum(e - s) AS BIGINT) AS tokens_removed,
               count(*) AS n_spans
        FROM islands GROUP BY doc_id
    )
    SELECT s.doc_id,
           CAST(l.n_tokens AS BIGINT) AS n_tokens,
           s.tokens_removed,
           s.n_spans,
           CAST(l.n_tokens - s.tokens_removed AS BIGINT) AS tokens_kept,
           md5(coalesce(k.kept_str, '')) AS kept_md5
    FROM summary s
    JOIN lens l ON l.doc_id = s.doc_id
    LEFT JOIN kept_agg k ON k.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def exact_duplicate_span_removal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT repeated-span EXCISION MANIFEST (r10, VERDICT r9 item 5)
    — the composition that makes the suffix-array family end-to-end
    useful rather than diagnostic: where ``exact_duplicate_span_census``
    measures coverage, this emits per affected document the rewrite a
    100 TB dedup pass would apply — token counts removed/kept and the
    md5 of the KEPT text (tokens outside every merged repeat island,
    in document order), certifying the byte-level excision, not just
    its accounting. Cuts every occurrence of every repeated span >= 8
    tokens (the census's aggressive semantics; the hashed twin
    ``duplicate_span_removal`` demonstrates keeper-aware accounting).

    100 TB shape: island intervals are merged per document (bounded by
    doc length); covered offsets materialize via sequence-explode —
    linear in covered tokens, an equi-anti-join against the token
    stream (never a range join, which would plan BNLJ); the kept-text
    digest is a per-document sort of that document's own tokens. All
    downstream of the amortized, cross-session-durable SA artifact.

    Reference basis: extension tier — dedup family (Lee et al. 2022
    ExactSubstr removal, restated as a manifest); no analog in
    /root/reference."""
    positions, _, al = _corpus_lcp(spark, sf_dir)
    # islands feeds THREE shuffling consumers (cov explode, affected
    # semi-join, summary agg) — checkpoint per the PROFILE.md rule
    # ("localCheckpoint a shared subtree only when its consumers
    # SHUFFLE it"); the frame is one row per merged island, tiny.
    islands = (
        _repeat_islands(positions, al)
        .groupBy("doc_id", "g")
        .agg(F.min("off").alias("s"), F.max("e").alias("e"))
        .localCheckpoint(eager=True)
    )
    lens = positions.groupBy("doc_id").agg(
        (F.count("*") - 1).alias("n_tokens")
    )
    cov = islands.select(
        "doc_id",
        F.explode(F.sequence(F.col("s"), F.col("e") - 1)).alias("off"),
    )
    # only AFFECTED documents appear in the manifest (the final join
    # keys off `summary`), so cut the token stream down to them
    # BEFORE the expensive per-doc collect+sort — without this
    # semi-join the kept-text digest aggregates the whole corpus and
    # the join discards the unaffected rows afterwards (r10 review)
    affected = islands.select("doc_id").distinct()
    kept = (
        positions.join(lens, "doc_id")
        .filter(F.col("off") < F.col("n_tokens"))
        .select("doc_id", "off", "token")
        .join(affected, "doc_id", "left_semi")
        .join(cov, ["doc_id", "off"], "left_anti")
    )
    kept_agg = (
        kept.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("off", "token"))).alias(
                "kt"
            )
        )
        .select(
            "doc_id", F.array_join(F.col("kt.token"), " ").alias("kept_str")
        )
    )
    summary = islands.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s")).alias("tokens_removed"),
        F.count("*").alias("n_spans"),
    )
    return (
        summary.join(lens, "doc_id")
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("tokens_removed").cast("long").alias("tokens_removed"),
            "n_spans",
            (F.col("n_tokens") - F.col("tokens_removed"))
            .cast("long")
            .alias("tokens_kept"),
            F.md5(F.coalesce(F.col("kept_str"), F.lit(""))).alias(
                "kept_md5"
            ),
        )
        .orderBy("doc_id")
    )
