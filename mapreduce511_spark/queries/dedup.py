"""Fuzzy-dedup queries: MinHash signatures / LSH candidates / verified
near-dups, SimHash fingerprints / hamming near-dups.

Every query here is fully deterministic (md5-derived integer hashes,
frozen permutation constants) so each has an exact DuckDB oracle —
the LSH *probabilistic* recall story is judged against the exact
``near_dup_jaccard`` baseline in tests, while the driver gate checks
these pipelines bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce511_spark.memo import session_memo
from mapreduce511_spark.operators.graph import connected_components
from mapreduce511_spark.operators.dedup import (
    MINHASH_P,
    N_PERMS,
    PERMS,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    SIMHASH_CHUNK_BITS,
    SIMHASH_CHUNKS,
    SIMHASH_MAX_HAMMING,
    band_candidates,
    doc_shingles,
    minhash_bands,
    minhash_signatures_long,
    minhash_signatures_wide,
    simhash_candidates,
    simhash_fingerprints,
    verify_jaccard,
)
from mapreduce511_spark.queries import register
from mapreduce511_spark.sources.tables import load_table, spread_scan

_JACCARD_T = 0.5

# ---- shared DuckDB fragments (exact twins of operators/dedup.py) ----

_PERM_VALUES = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(PERMS))

_SQL_SHINGLES = """
    toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
        FROM documents
    ), pos AS (
        SELECT doc_id, unnest(tokens) AS w, unnest(range(len(tokens))) AS p
        FROM toks
    ), shingles AS (
        SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
    )
"""

_SQL_MINHASH_LONG = f"""
    WITH {_SQL_SHINGLES},
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % {MINHASH_P} AS h
        FROM shingles
    ),
    perms(i, a, b) AS (VALUES {_PERM_VALUES}),
    mh AS (
        SELECT doc_id, i AS perm, min((a * h + b) % {MINHASH_P}) AS minhash
        FROM hashed, perms
        GROUP BY doc_id, i
    )
"""

_SQL_BANDS = f"""
    {_SQL_MINHASH_LONG},
    bands AS (
        SELECT doc_id,
               perm // {ROWS_PER_BAND} AS band,
               string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY perm) AS sig
        FROM mh
        GROUP BY doc_id, band
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig
                     AND a.doc_id < b.doc_id
    )
"""

_SQL_SIMHASH = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tokens
        FROM documents
    ), wc AS (
        SELECT doc_id, w, count(*) AS cnt
        FROM (SELECT doc_id, unnest(tokens) AS w FROM toks)
        GROUP BY doc_id, w
    ), hashed AS (
        SELECT doc_id, cnt,
               CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
        FROM wc
    ), bitsums AS (
        SELECT doc_id, i,
               sum(CASE WHEN (h >> i) & 1 = 1 THEN cnt ELSE -cnt END) AS s
        FROM hashed, generate_series(0, {SIMHASH_BITS - 1}) t(i)
        GROUP BY doc_id, i
    ), fp AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0
                             THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM bitsums
        GROUP BY doc_id
    )
"""


@register(
    "minhash_signatures",
    oracle=f"{_SQL_MINHASH_LONG} SELECT doc_id, perm, minhash FROM mh",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix, long form (doc_id, perm, minhash).

    All {N_PERMS} permutations are computed in ONE groupBy pass with
    map-side partial mins — a single shuffle of (doc_id, h) pairs; the
    unpivot happens after aggregation."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return minhash_signatures_long(doc_shingles(docs))


@register(
    "minhash_band_candidates",
    oracle=f"{_SQL_BANDS} SELECT doc_a, doc_b FROM cand",
)
def minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs agreeing on >=1 of 4 bands of 4
    minhash rows. The self-join key is (band, sig) — candidate
    generation never materializes the all-pairs space."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return band_candidates(minhash_bands(minhash_signatures_wide(doc_shingles(docs))))


# Exact-Jaccard verification of banded candidates, as shared CTE text:
# used verbatim by the minhash_near_dup oracle AND the
# connected-components oracles below so the duplicate-pair definition
# can never drift between them.
_SQL_VERIFY = f"""
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS both
        FROM cand c
        JOIN shingles a ON a.doc_id = c.doc_a
        JOIN shingles b ON b.doc_id = c.doc_b AND b.sh = a.sh
        GROUP BY c.doc_a, c.doc_b
    )
"""

_SQL_JACCARD = "i.both * 1.0 / (sa.sz + sb.sz - i.both)"


@register(
    "minhash_near_dup",
    oracle=f"""
    {_SQL_BANDS},
    {_SQL_VERIFY}
    SELECT i.doc_a, i.doc_b,
           round({_SQL_JACCARD}, 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE {_SQL_JACCARD} >= {_JACCARD_T}
    """,
)
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline end-to-end: candidates from band
    buckets, then EXACT Jaccard verification on candidates only — the
    100 TB shape (verification cost ~ candidates, not all pairs)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    shingles = doc_shingles(docs)
    cand = band_candidates(minhash_bands(minhash_signatures_wide(shingles)))
    verified = verify_jaccard(cand, shingles)
    return verified.filter(F.col("jaccard") >= _JACCARD_T).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


@register(
    "simhash_fingerprint",
    oracle=f"{_SQL_SIMHASH} SELECT doc_id, simhash FROM fp",
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit term-frequency SimHash per document."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return simhash_fingerprints(docs)


@register(
    "simhash_near_dup",
    oracle=f"""
    {_SQL_SIMHASH},
    chunks AS (
        SELECT doc_id, simhash, j AS chunk,
               (simhash >> (j * {SIMHASH_CHUNK_BITS})) %
                   {1 << SIMHASH_CHUNK_BITS} AS cv
        FROM fp, generate_series(0, {SIMHASH_CHUNKS - 1}) t(j)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM chunks a
        JOIN chunks b ON a.chunk = b.chunk AND a.cv = b.cv
                      AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups: pigeonhole banding (hamming <= 3 over 60
    bits => >=1 of 4 15-bit chunks identical) generates candidates via
    equi-join; bit_count(xor) verifies exactly."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return simhash_candidates(simhash_fingerprints(docs))


# ---- pair -> cluster formation (connected components) ----

# Verified near-dup pairs + connected components, as shared oracle
# CTEs.  The recursive `reach` CTE computes min-reachable-id labels —
# the SQL twin of operators/graph.connected_components.
_SQL_COMPONENTS = (
    f"""
    {_SQL_BANDS},
    {_SQL_VERIFY},
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE {_SQL_JACCARD} >= {_JACCARD_T}
    ),
    cedges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    reach(u, r) AS (
        SELECT u, u AS r FROM (SELECT DISTINCT u FROM cedges)
        UNION
        SELECT e.u, w.r FROM cedges e JOIN reach w ON w.u = e.v
    ),
    comp AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
"""
    # the WITH chain must carry RECURSIVE for the `reach` CTE
).replace("WITH", "WITH RECURSIVE", 1)


# Three cluster-family queries (dedup_clusters, fuzzy_dedup_survivors,
# dup_cluster_canonical) share the finished (node, component) frame of
# the MinHash LSH -> exact-verify -> connected-components pipeline.
_CC_MEMO: dict = {}


def _near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Spark body: verified MinHash pairs -> (node, component)."""
    import os

    return session_memo(
        _CC_MEMO,
        spark,
        [os.path.join(sf_dir, "documents.parquet")],
        lambda: _build_near_dup_components(spark, sf_dir),
    )


def _build_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    # shingles feeds both the signature build and the verify's per-doc
    # set builder — checkpoint so tokenize + explode + distinct
    # executes once (the near_dup_jaccard discipline).
    shingles = doc_shingles(docs).localCheckpoint(eager=True)
    cand = band_candidates(minhash_bands(minhash_signatures_wide(shingles)))
    pairs = verify_jaccard(cand, shingles).filter(F.col("jaccard") >= _JACCARD_T)
    cc = connected_components(pairs, src="doc_a", dst="doc_b").localCheckpoint(
        eager=True
    )
    return cc


@register(
    "dedup_clusters",
    oracle=f"""
    {_SQL_COMPONENTS}
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: verified near-dup PAIRS (MinHash
    LSH + exact-Jaccard verify) -> duplicate CLASSES via connected
    components (min-label propagation, operators/graph.py), labeling
    every clustered doc with its canonical (minimum) doc_id and the
    class size.  The pair->cluster step is what an actual cleaning
    pipeline runs before dropping non-canonical members; the reference
    has no graph stage at all (extension tier, SURVEY.md §7 M7)."""
    cc = _near_dup_components(spark, sf_dir)
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        "cluster_size",
    )


@register(
    "fuzzy_dedup_survivors",
    oracle=f"""
    {_SQL_COMPONENTS}
    SELECT d.lang,
           count(*) AS kept_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    GROUP BY d.lang
    """,
)
def fuzzy_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus after fuzzy dedup: keep every unclustered doc plus the
    canonical (min doc_id) member of each duplicate cluster; report
    surviving volume per language.  The cluster map joins back to the
    corpus on doc_id — a plain hash join (the map is proportional to
    the *duplicated* subset, not the corpus, but is not guaranteed
    broadcast-small at 100 TB)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    cc = _near_dup_components(spark, sf_dir)
    keep = docs.join(cc, docs["doc_id"] == cc["node"], "left").filter(
        F.col("node").isNull() | (F.col("component") == F.col("doc_id"))
    )
    return keep.groupBy("lang").agg(
        F.count("*").alias("kept_docs"),
        F.sum("n_chars").alias("kept_chars"),
    )


@register(
    "dup_cluster_canonical",
    oracle=f"""
    {_SQL_COMPONENTS},
    merged AS (
        SELECT c.cluster_id,
               count(*) AS cluster_size,
               count(DISTINCT d.lang) AS n_langs,
               string_agg(DISTINCT d.source, ',' ORDER BY d.source)
                   AS sources,
               CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
               CAST(max(d.n_chars) AS BIGINT) AS max_chars
        FROM comp c JOIN documents d ON c.doc_id = d.doc_id
        GROUP BY c.cluster_id
    )
    SELECT m.cluster_id, m.cluster_size, m.n_langs, m.sources,
           m.total_chars, m.max_chars,
           CAST(k.n_chars AS BIGINT) AS canonical_chars
    FROM merged m JOIN documents k ON m.cluster_id = k.doc_id
    """,
)
def dup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster CANONICALIZATION: after ``dedup_clusters``
    labels each near-dup class, merge the class members' metadata
    onto the canonical (min doc_id) survivor — member count, distinct
    languages, the sorted union of sources, total/max char volume,
    and the canonical doc's own size. This is the record-merge step a
    cleaning pipeline runs so provenance survives deduplication (the
    kept doc must still credit every source it absorbed).

    100 TB shape: the cluster map joins the corpus on doc_id (hash
    join, map ~ duplicated subset); the merge is one combinable
    aggregate per cluster — collect_set stays bounded by the distinct
    source count, not the cluster size. Oracle: the same recursive-
    CTE component labels + a grouped merge."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    cc = _near_dup_components(spark, sf_dir)
    members = cc.join(
        docs, cc["node"] == docs["doc_id"]
    ).select(
        F.col("component").alias("cluster_id"),
        "lang",
        "source",
        "n_chars",
    )
    merged = members.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"),
        F.countDistinct("lang").alias("n_langs"),
        F.concat_ws(",", F.sort_array(F.collect_set("source"))).alias(
            "sources"
        ),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )
    return merged.join(
        docs.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("n_chars").cast("long").alias("canonical_chars"),
        ),
        "cluster_id",
    )


@register(
    "contrastive_triplet_export",
    oracle=f"""
    {_SQL_BANDS},
    {_SQL_VERIFY},
    pairs AS (
        SELECT i.doc_a, i.doc_b, round({_SQL_JACCARD}, 4) AS jaccard
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE {_SQL_JACCARD} >= {_JACCARD_T}
    ),
    n AS (SELECT count(*) AS c FROM documents),
    seeded AS (
        SELECT p.doc_a AS anchor, p.doc_b AS positive, p.jaccard,
               CAST(('0x' || substr(
                   md5(p.doc_a || '_' || p.doc_b), 1, 15)) AS BIGINT)
                   % n.c AS h0,
               n.c AS c
        FROM pairs p, n
    )
    SELECT anchor, positive,
           CASE WHEN h0 NOT IN (anchor, positive) THEN h0
                WHEN (h0 + 1) % c NOT IN (anchor, positive)
                    THEN (h0 + 1) % c
                ELSE (h0 + 2) % c END AS negative,
           jaccard
    FROM seeded
    """,
)
def contrastive_triplet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTRASTIVE training-pair export — the step that turns the
    dedup pipeline's byproduct into embedding-model training data
    (SimCSE/E5-style): every verified near-dup pair becomes an
    (anchor, positive) example, and the negative is drawn
    DETERMINISTICALLY from the corpus by hashing the pair id into the
    contiguous [0, n) doc_id space (skip-ahead +1/+2 mod n if the
    draw collides with the anchor or positive — n >= 3 always
    terminates). Hash-seeded negatives are reproducible at any
    parallelism — no rand(), same discipline as every sampler here —
    and uniform, so they are random in-batch negatives, with the
    usual small false-negative rate contrastive recipes accept.

    100 TB shape: the pair stage is the capped MinHash pipeline
    unchanged; negative assignment is a map-side hash (doc_ids
    contiguous per partition-spec — a rank join replaces the modulo
    where they are not); output is one row per mined pair. No new
    shuffle beyond the dedup pipeline's own."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    shingles = doc_shingles(docs)
    cand = band_candidates(minhash_bands(minhash_signatures_wide(shingles)))
    pairs = (
        verify_jaccard(cand, shingles)
        .filter(F.col("jaccard") >= _JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )
    n = docs.agg(F.count("*").alias("c"))
    from mapreduce511_spark.operators.dedup import hash60

    seeded = (
        pairs.join(F.broadcast(n))
        .withColumn(
            "h0",
            hash60(F.concat_ws("_", F.col("doc_a"), F.col("doc_b")))
            % F.col("c"),
        )
    )
    neg = (
        F.when(
            ~F.col("h0").isin(F.col("doc_a"), F.col("doc_b")), F.col("h0")
        )
        .when(
            ~((F.col("h0") + 1) % F.col("c")).isin(
                F.col("doc_a"), F.col("doc_b")
            ),
            (F.col("h0") + 1) % F.col("c"),
        )
        .otherwise((F.col("h0") + 2) % F.col("c"))
    )
    return seeded.select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("positive"),
        neg.alias("negative"),
        "jaccard",
    )


@register(
    "minhash_jaccard_estimate",
    oracle=f"""
    {_SQL_BANDS},
    agree AS (
        SELECT c.doc_a, c.doc_b,
               sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END)
                   / {N_PERMS}.0 AS est
        FROM cand c
        JOIN mh a ON a.doc_id = c.doc_a
        JOIN mh b ON b.doc_id = c.doc_b AND b.perm = a.perm
        GROUP BY c.doc_a, c.doc_b
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(sb.sh) AS nb
        FROM cand c
        JOIN shingles sa ON sa.doc_id = c.doc_a
        LEFT JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(g.est, 4) AS est_jaccard,
           round(i.nb * 1.0 / (sa.sz + sb.sz - i.nb), 4) AS exact_jaccard,
           round(abs(g.est - i.nb * 1.0 / (sa.sz + sb.sz - i.nb)), 4)
               AS abs_err
    FROM inter i
    JOIN agree g ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
    JOIN sz sa ON i.doc_a = sa.doc_id
    JOIN sz sb ON i.doc_b = sb.doc_id
    ORDER BY exact_jaccard DESC, i.doc_a, i.doc_b
    """,
)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy census of the MinHash pipeline: for every LSH
    candidate pair, the SIGNATURE-agreement Jaccard estimate
    (matching permutations / 16 — the unbiased MinHash estimator)
    next to the exact shingle Jaccard, with absolute error. Zero-
    intersection candidates are KEPT (exact_jaccard 0.0): those rows
    are the pipeline's false positives made visible.

    This is the query that tells a 100 TB dedup operator whether the
    cheap path (signature agreement — no shingle join at all) can
    replace exact verification at their threshold: E[err] ~
    1/sqrt(K)=0.25 at K=16, so agreement is a pre-filter, not a
    verdict, and the census measures exactly that. The agreement join
    ships 16 integers per doc (the signatures the pipeline already
    built); the exact side is candidate-bounded like
    ``minhash_near_dup``.

    Reference basis: extension tier — dedup family evaluation
    (companions: ``minhash_near_dup`` the pipeline,
    ``lsh_recall_curve`` the recall side)."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    shingles = doc_shingles(docs)
    wide = minhash_signatures_wide(shingles)
    cand = band_candidates(minhash_bands(wide))
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_PERMS)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_PERMS)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_PERMS)
    )
    est = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", (matches / float(N_PERMS)).alias("est"))
    )
    exact = verify_jaccard(cand, shingles, keep_zero=True)
    return (
        est.join(exact, ["doc_a", "doc_b"])
        .select(
            "doc_a",
            "doc_b",
            F.round("est", 4).alias("est_jaccard"),
            F.round("jaccard", 4).alias("exact_jaccard"),
            F.round(F.abs(F.col("est") - F.col("jaccard")), 4).alias(
                "abs_err"
            ),
        )
        .orderBy(F.desc("exact_jaccard"), "doc_a", "doc_b")
    )


@register(
    "lsh_recall_curve",
    oracle=f"""
    {_SQL_BANDS},
    sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS nb
        FROM shingles a
        JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY doc_a, doc_b
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b,
               i.nb * 1.0 / (sa.sz + sb.sz - i.nb) AS jac
        FROM inter i
        JOIN sz sa ON i.doc_a = sa.doc_id
        JOIN sz sb ON i.doc_b = sb.doc_id
    ),
    thresholds AS (
        SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9]) AS t10
    ),
    marked AS (
        SELECT th.t10, t.doc_a, t.doc_b,
               CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS captured
        FROM thresholds th
        JOIN truth t ON t.jac >= th.t10 / 10.0
        LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT t10 AS threshold_tenths,
           count(*) AS n_true_pairs,
           CAST(sum(captured) AS BIGINT) AS n_captured,
           round(sum(captured) * 1.0 / count(*), 4) AS recall,
           round(1.0 - power(1.0 - power(t10 / 10.0, 4), 4), 4)
               AS theory_min_capture
    FROM marked
    GROUP BY t10
    ORDER BY t10
    """,
)
def lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH recall against exact ground truth, by Jaccard
    threshold: of all pairs with exact Jaccard >= t, what fraction
    appear in the banded candidate set — next to the S-curve
    theoretical capture probability 1-(1-t^r)^b at the threshold
    (a LOWER bound for pairs above t, since capture probability is
    monotone in similarity). This is the tuning chart for (bands,
    rows): where measured recall sags below target, add bands; where
    candidate volume explodes, add rows — the standard LSH
    engineering trade made measurable per corpus under the oracle
    gate.

    Ground truth comes from the inverted shingle index (exact for
    every t > 0 — a pair with Jaccard >= t shares a shingle), so the
    whole query is the near_dup_jaccard shape plus a broadcast-sized
    threshold explode; candidate membership is one hash LEFT JOIN.

    Reference basis: extension tier — dedup evaluation (SURVEY.md §7
    M7); the LSH S-curve math is Leskovec/Rajaraman/Ullman ch. 3."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    # shingles feeds the minhash pipeline, the size census, and both
    # truth-join sides — checkpoint so it executes once, not 4x+.
    shingles = doc_shingles(docs).localCheckpoint(eager=True)
    cand = band_candidates(minhash_bands(minhash_signatures_wide(shingles)))
    sizes = (
        shingles.groupBy("doc_id")
        .agg(F.count("*").alias("sz"))
        .localCheckpoint(eager=True)
    )
    a, b = shingles.alias("a"), shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("nb"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    # sizes is one row per document (corpus-linear): no broadcast hint
    truth = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("nb")
                / (F.col("sz_a") + F.col("sz_b") - F.col("nb"))
            ).alias("jac"),
        )
    )
    thresholds = spark.createDataFrame([(t,) for t in range(2, 10)], ["t10"])
    marked = (
        truth.crossJoin(F.broadcast(thresholds))
        .filter(F.col("jac") >= F.col("t10") / 10.0)
        .join(
            cand.withColumn("captured", F.lit(1)),
            ["doc_a", "doc_b"],
            "left",
        )
        .fillna(0, subset=["captured"])
    )
    return (
        marked.groupBy(F.col("t10").alias("threshold_tenths"))
        .agg(
            F.count("*").alias("n_true_pairs"),
            F.sum("captured").cast("long").alias("n_captured"),
            F.round(F.sum("captured") / F.count("*"), 4).alias("recall"),
            F.round(
                F.lit(1.0)
                - F.pow(
                    F.lit(1.0) - F.pow(F.col("threshold_tenths") / 10.0, 4),
                    4,
                ),
                4,
            ).alias("theory_min_capture"),
        )
        .orderBy("threshold_tenths")
    )
