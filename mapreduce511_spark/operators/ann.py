"""ANN index construction: learned (k-means) IVF centroids, product
quantization, and build-once persisted index artifacts.

``queries/similarity.py:ann_ivf_label_baseline`` demonstrates the IVF plumbing
with label cells (oracle-checkable, but the testdata's labels are not
geometric clusters — only ~8% of true NNs share their probe's label).
This module learns real coarse centroids with deterministic Lloyd
iterations, which is how an IVF index is actually built at scale:

- init: the k lowest-vec_id vectors (deterministic, no RNG);
- assign step: one scan, centroids broadcast as plan literals;
- update step: per-cell mean via posexplode + two-level groupBy;
- the k x dim centroid table collects to the driver between
  iterations (tiny — k*dim doubles — this is the standard pattern;
  the corpus itself never leaves the executors).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreduce511_spark.functions.vectors import (
    cosine_similarity,
    dot,
    l2_norm,
    lit_doubles,
    lit_doubles_nested,
)
from mapreduce511_spark.memo import stat_signature, warehouse_path

K_CELLS = 16
KMEANS_ITERS = 3

PQ_M = 8  # subvectors (64 dims -> 8 x 8-dim subspaces)
PQ_K = 16  # centroids per subspace (4-bit codes)
PQ_ITERS = 3


def _round_half_away(x, decimals: int = 4):
    """Round half away from zero (the F.round / DuckDB mode), unlike
    np.round's banker's half-to-even — keeps the GEMM paths'
    similarities bit-identical to the exact Spark/DuckDB variants even
    when a value lands exactly on a 5e-5 midpoint."""
    import numpy as np

    scale = 10.0**decimals
    return np.sign(x) * np.floor(np.abs(x) * scale + 0.5) / scale


def _with_best_cell(df: DataFrame, vec_col: str, centroids: list[list[float]]) -> DataFrame:
    """Adds ``cell`` = index of the highest-cosine centroid.

    The k similarities are materialized as ONE array column first and
    argmax reads that bound column — chaining when(sim > best) instead
    would nest each step's expression into the next twice over,
    exploding the plan exponentially in k.

    r12 (guide §1.2 step 2): the original built k separate
    ``cosine_similarity(vec, lit)`` expressions — 3 interpreted HOF
    folds each (dot + ‖vec‖ + ‖lit‖, the latter two re-folded per
    centroid). Now ‖vec‖ is bound once per row, each centroid's norm
    is a Python-precomputed literal (same left-to-right 0.0+x·x
    accumulation and IEEE sqrt as the fold — bit-identical), and a
    single ``transform`` scores each centroid with one dot fold:
    k+1 folds per row instead of 3k. The sims values are the same
    doubles — dot/(‖v‖·‖c‖) with identical association — and the
    argmax stays the SAME array_position(array_max) expression, so
    tie and NaN behavior are untouched by construction."""
    import math

    def _lit_norm(c: list[float]) -> float:
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        return math.sqrt(acc)

    # One parsed SQL string instead of k x dim F.lit py4j calls (r13,
    # see functions.vectors.lit_doubles — identical literal tree).
    from mapreduce511_spark.functions.vectors import sql_doubles

    cent_structs = F.expr(
        "array("
        + ",".join(
            f"named_struct('cv', {sql_doubles(c)}, 'cn', {_lit_norm(c)!r}D)"
            for c in centroids
        )
        + ")"
    )
    sims = F.transform(
        cent_structs,
        lambda c: dot(F.col(vec_col), c["cv"]) / (F.col("_wbc_nv") * c["cn"]),
    )
    return (
        df.withColumn("_wbc_nv", l2_norm(F.col(vec_col)))
        .withColumn("_sims", sims)
        .withColumn(
            "cell",
            (
                F.array_position(F.col("_sims"), F.array_max(F.col("_sims")))
                - 1
            ).cast("int"),
        )
        .drop("_sims", "_wbc_nv")
    )


# Session-lifetime cache of trained index artifacts, keyed by a
# CONTENT fingerprint + hyperparameters. Training is deterministic,
# so a cached result is bit-identical to a recomputation — and a real
# deployment trains an index ONCE per corpus snapshot, so repeated
# query invocations (bench steady passes, test suites) paying full
# EM retraining would misrepresent the operator's steady cost.
_TRAIN_CACHE: dict = {}


# Memo of computed content fingerprints, keyed by logical plan and
# storing (stat signature, n, h). The plan string captures every
# transformation on the frame (emb.filter(...) has a different plan
# than emb), and the stat signature (path, size, mtime_ns per file)
# captures on-disk content, so an in-place parquet rewrite
# invalidates. Keyed by plan with only the LATEST snapshot kept, so
# repeated rewrites of a fingerprinted corpus replace the entry
# instead of accumulating one per snapshot over the session's life.
_FP_MEMO: dict = {}


def _content_fingerprint(emb: DataFrame) -> tuple:
    """One order-insensitive agg scan (count + xxhash64 sum over every
    column the trainer consumes) keying on actual row content."""
    fp = emb.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: int64 hash sums overflow long under ANSI
        F.sum(
            F.xxhash64(*[F.col(c) for c in emb.columns]).cast("decimal(38,0)")
        ).alias("h"),
    ).first()
    return (int(fp.n), int(fp.h or 0))


def _cache_key(emb: DataFrame, *params) -> tuple:
    """Content-fingerprint cache key (r5 ADVICE): keyed on the actual
    row content (count + order-insensitive xxhash64 sum), never on
    inputFiles alone — emb.filter(...) reads the same files, and
    in-memory frames have none.

    r7 (r6 ADVICE): the content scan is MEMOIZED per (logical plan,
    input-file size/mtime signature), so repeated invocations of the
    indexed ANN queries pay file-metadata stat() calls, not a
    data-sized fingerprint pass — at 100 TB a per-query full scan
    would dominate the pruned search the index exists to provide.
    The content scan re-runs only when the plan or the on-disk
    snapshot actually changes, and always for in-memory frames with
    no input files (createDataFrame corpora are driver-sized by
    construction, so the scan is trivial there)."""
    files = tuple(sorted(emb.inputFiles()))
    plan_key = None
    # An unstat-able URI (hdfs://, s3a://, ...) hides rewrites, so it
    # gets no signature and is re-fingerprinted every call.
    sig = stat_signature(files) if files else None
    if sig is not None:
        sig = (files, sig)
        plan_key = emb._jdf.queryExecution().logical().toString()
        memo = _FP_MEMO.get(plan_key)
        if memo is not None and memo[0] == sig:
            n, h = memo[1], memo[2]
            return (n, h, tuple(emb.columns), *params)
    n, h = _content_fingerprint(emb)
    if plan_key is not None:
        # latest snapshot only: rewrites replace, never accumulate
        _FP_MEMO[plan_key] = (sig, n, h)
    return (n, h, tuple(emb.columns), *params)


def train_centroids(
    emb: DataFrame, k: int = K_CELLS, iters: int = KMEANS_ITERS
) -> list[list[float]]:
    """Deterministic Lloyd's k-means (cosine assignment, mean update).
    Returns driver-side centroid lists (k x dim floats)."""
    key = _cache_key(emb, "kmeans", k, iters)
    if key in _TRAIN_CACHE:
        return _TRAIN_CACHE[key]
    init = (
        emb.orderBy("vec_id")
        .limit(k)
        .select("embedding")
        .collect()
    )
    centroids = [list(map(float, r.embedding)) for r in init]
    for _ in range(iters):
        assigned = _with_best_cell(
            emb.select("embedding"), "embedding", centroids
        ).select("cell", "embedding")
        means = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s.m,
                ).alias("cv")
            )
            .collect()
        )
        updated = {r.cell: list(r.cv) for r in means}
        # empty cells keep their previous centroid
        centroids = [updated.get(i, centroids[i]) for i in range(k)]
    _TRAIN_CACHE[key] = centroids
    return centroids


def nearest_cells(probes: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """(pid, pv, cell): each probe's ``nprobe`` best cells. ``probes``
    has (pid, pv) and ``cent`` the broadcast (cell, cv) centroid rows;
    cells rank by exact cosine, ties to the lower cell id."""
    from pyspark.sql.window import Window

    w_cell = Window.partitionBy("pid").orderBy(F.desc("csim"), F.asc("cell"))
    return (
        probes.join(F.broadcast(cent))
        .withColumn("csim", cosine_similarity(F.col("pv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= nprobe)
        .select("pid", "pv", "cell")
    )


def exact_topk(cand: DataFrame, topk: int, vec: str = "embedding") -> DataFrame:
    """(probe_id, rank, vec_id, cos_sim): the exact re-rank every ANN
    search ends in. ``cand`` holds (pid, pv, vec_id, <vec>) candidate
    rows; each probe keeps its ``topk`` best by exact cosine, ties to
    the lower vec_id, ranked 1..topk (no gaps, no shared ranks), cosine
    rounded to 4 places."""
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy("pid").orderBy(F.desc("s"), F.asc("vec_id"))
    return (
        cand.withColumn("s", cosine_similarity(F.col("pv"), F.col(vec)))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= topk)
        .select(
            F.col("pid").alias("probe_id"),
            "rank",
            "vec_id",
            F.round("s", 4).alias("cos_sim"),
        )
    )


def ivf_search(
    emb: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    nprobe: int,
    topk: int,
) -> DataFrame:
    """Search the nprobe best cells per probe with exact cosine.

    ``probes`` must have columns (pid, pv). The corpus is scanned once
    to tag cells (in a real deployment the cell id is precomputed and
    the corpus parquet is partitioned by it -> partition pruning makes
    this a fractional scan)."""
    tagged = _with_best_cell(
        emb.select("vec_id", "embedding"), "embedding", centroids
    )
    cent_df = emb.sparkSession.createDataFrame(
        list(enumerate(centroids)), ["cell", "cv"]
    )
    probe_cells = nearest_cells(probes, cent_df, nprobe)
    return exact_topk(
        tagged.join(F.broadcast(probe_cells), "cell").filter(
            F.col("vec_id") != F.col("pid")
        ),
        topk,
    )


def cosine_pairs_blocked(
    emb: DataFrame, threshold: float, n_blocks: int = 8
) -> DataFrame:
    """All-pairs cosine >= threshold via both-sides-blocked numpy GEMM
    — the 100 TB-shaped path; nothing ever collects to the driver.

    Rows are hashed into ``n_blocks`` blocks; a tiny broadcast partner
    table replicates each row into every unordered block pair it
    belongs to (n_blocks copies per row); one shuffle co-locates each
    (block_a, block_b) group, whose task builds the two sub-matrices
    and runs one matmul. Per-task memory is O(2·(N/n_blocks)·dim) —
    size ``n_blocks`` ≈ sqrt(N·dim·8 / task_budget_bytes) so a block
    pair fits an executor; shuffle volume is n_blocks× the corpus,
    the classic block-nested-loop trade.

    Emits each qualifying unordered pair once as (vec_a < vec_b).
    Float association differs from the sequential zip_with path, so
    boundary pairs within ~1e-12 of the threshold may differ from the
    exact variant — callers needing oracle-exactness use
    ``embedding_near_dup_exact_spec``."""
    import pandas as pd

    spark = emb.sparkSession
    partners = spark.createDataFrame(
        [
            (b, min(b, x), max(b, x))
            for b in range(n_blocks)
            for x in range(n_blocks)
        ],
        ["blk", "pa", "pb"],
    ).dropDuplicates()
    tagged = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    grouped = tagged.join(F.broadcast(partners), "blk")

    out_schema = "vec_a long, vec_b long, cos_sim double"

    def gemm_pair(key, pdf):  # applyInPandas: (key, pdf) -> pdf
        import numpy as np

        pa, pb = key
        a_pdf = pdf[pdf["blk"] == pa]
        b_pdf = pdf[pdf["blk"] == pb]

        def unit(frame):
            ids = frame["vec_id"].to_numpy(dtype=np.int64)
            m = np.array(list(frame["embedding"]), dtype=np.float64)
            if m.size == 0:
                return ids, m.reshape(0, 0)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            return ids, m / norms[:, None]

        a_ids, A = unit(a_pdf)
        b_ids, B = unit(b_pdf)
        if len(a_ids) == 0 or len(b_ids) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []})
        sims = A @ B.T
        ai, bj = np.nonzero(sims >= threshold)
        lo = np.minimum(a_ids[ai], b_ids[bj])
        hi = np.maximum(a_ids[ai], b_ids[bj])
        # pa == pb: the full matrix holds both orientations (and the
        # diagonal) — keep the strict upper triangle only. pa < pb:
        # every cross pair appears exactly once; keep them all and
        # orient as (lo, hi).
        keep = (a_ids[ai] < b_ids[bj]) if pa == pb else (a_ids[ai] != b_ids[bj])
        return pd.DataFrame(
            {
                "vec_a": lo[keep],
                "vec_b": hi[keep],
                "cos_sim": _round_half_away(sims[ai, bj][keep], 4),
            }
        )

    return grouped.groupBy("pa", "pb").applyInPandas(gemm_pair, schema=out_schema)


def cosine_pairs_broadcast(emb: DataFrame, threshold: float) -> DataFrame:
    """Broadcast-matrix twin of :func:`cosine_pairs_blocked`: collect
    the whole corpus as matrix B, then each Arrow batch of A-rows is one
    GEMM against it. No query selects it — it needs the corpus on the
    driver — so it stays as the test reference the blocked path's pairs
    are checked against (``tests/test_ann.py``)."""
    import numpy as np
    import pandas as pd

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    sc = emb.sparkSession.sparkContext
    b_ids = sc.broadcast(ids)
    b_unit = sc.broadcast(unit)

    out_schema = "vec_a long, vec_b long, cos_sim double"

    def block(it):
        B_ids, B = b_ids.value, b_unit.value
        for pdf in it:
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            a_norms = np.linalg.norm(A, axis=1)
            a_norms[a_norms == 0] = 1.0
            sims = (A / a_norms[:, None]) @ B.T  # block GEMM
            ai, bj = np.nonzero(sims >= threshold)
            keep = a_ids[ai] < B_ids[bj]  # upper triangle only
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai][keep],
                    "vec_b": B_ids[bj][keep],
                    "cos_sim": _round_half_away(sims[ai, bj][keep], 4),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(block, schema=out_schema)


def ivf_write_partitioned(
    emb: DataFrame, centroids: list[list[float]], path: str
) -> None:
    """Materialize the IVF index as cell-partitioned parquet: each
    vector stored under ``cell=<id>/``. This is the deployment shape
    the ivf_search docstring promises — at query time only the nprobe
    probed cells are READ (Spark partition pruning), so the scan cost
    is nprobe/k of the corpus instead of a full pass."""
    tagged = _with_best_cell(
        emb.select("vec_id", "embedding"), "embedding", centroids
    )
    tagged.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_search_pruned(
    spark, index_path: str, probes: DataFrame, centroids: list[list[float]],
    nprobe: int, topk: int,
) -> DataFrame:
    """Search a cell-partitioned IVF index with partition pruning: the
    probed cell ids become an IN-filter on the partition column, which
    Spark turns into PartitionFilters (only those directories are
    listed/read — assert via plan in tests). Scoring is the same exact
    cosine over candidates as ``ivf_search``."""
    from mapreduce511_spark.sources.tables import read_parquet_checked

    cent_df = spark.createDataFrame(list(enumerate(centroids)), ["cell", "cv"])
    probe_cells = nearest_cells(probes, cent_df, nprobe)
    # partition-pruning filter: the distinct probed cells (collected —
    # nprobe * |probes| ints, trivially driver-sized; at scale this is
    # the metadata-only step every vector DB performs per query batch)
    cells = [r.cell for r in probe_cells.select("cell").distinct().collect()]
    corpus = read_parquet_checked(spark, index_path).filter(F.col("cell").isin(cells))
    return exact_topk(
        corpus.join(F.broadcast(probe_cells), "cell").filter(
            F.col("vec_id") != F.col("pid")
        ),
        topk,
    )


# --- persisted index artifacts (build once, query many) -------------
#
# r5 VERDICT item 2: in-query training + encode misstates the 100 TB
# cost model — nobody trains per query. Each index is written to
# parquet ONCE per corpus snapshot (content-fingerprint keyed, like
# _TRAIN_CACHE) under <warehouse>/ann_index/<prefix>_<tag>, so a
# query's steady cost is the search alone. ``ensure_index`` owns the
# lifecycle; the helpers defined before it are its steps.

_INDEX_CACHE: dict = {}  # cache key -> (path, model)


def _index_path(spark, key: tuple, prefix: str) -> str:
    import hashlib
    import os

    tag = hashlib.sha1(repr(key).encode()).hexdigest()[:16]
    return os.path.join(warehouse_path(spark), "ann_index", f"{prefix}_{tag}")


_MODEL_SIDECAR = "_mr511_model.json"


def load_model_sidecar(path: str, require_success: bool = True):
    """Driver-side model (centroids/codebooks) persisted beside a
    COMPLETE index artifact, or None. A fresh process finding both the
    sidecar and Spark's _SUCCESS marker for a content-fingerprinted
    path reuses the artifact instead of retraining and REWRITING it in
    place — the rewrite is what broke concurrent readers (mode
    'overwrite' deletes part files under them even though the content
    is identical), and the retrain is a per-session cost 'build once
    per snapshot' shouldn't pay. JSON floats round-trip IEEE doubles
    exactly (shortest-repr), so a reloaded model is bitwise the model
    that built the artifact."""
    import json
    import os

    f = os.path.join(path, _MODEL_SIDECAR)
    if not os.path.exists(f):
        return None
    if require_success and not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None  # parquet commit marker missing: treat as torn
    with open(f) as fh:
        return json.load(fh)


def artifact_source(df: DataFrame, key: tuple = ()) -> str:
    """Stable GROUP identity for keep-latest retention: everything
    that must MATCH for two artifacts to be snapshots of the same
    logical index — the sorted input-file PATHS (stat-free: the stat
    is exactly what changes on a rewrite, and retention must group
    ACROSS rewrites), the expression-id-normalized logical plan (so
    ``emb`` and ``emb.filter(...)`` read the same files but group
    separately — both keys stay producible within one snapshot), and
    the cache key's non-content tail (columns + hyperparameters, so
    a k=8 index never retires the k=16 one; r11 review). Only the
    content hash may differ within a group. Empty string for
    in-memory frames, which opt out of retention. If the plan string
    ever proved session-unstable the failure mode is the SAFE one:
    groups stop matching and stale artifacts are merely kept, never
    live ones deleted."""
    import re

    files = "|".join(sorted(df.inputFiles()))
    if not files:
        return ""
    # anchored to a word character so only attribute references
    # (name#123) normalize — a string LITERAL like '#1' in a filter
    # prints unanchored and must keep distinguishing plans (r11
    # review: collapsing literals could merge two live groups)
    plan = re.sub(
        r"(?<=\w)#\d+", "#", df._jdf.queryExecution().logical().toString()
    )
    return repr((files, plan, key[2:]))


def legacy_source(df: DataFrame) -> str:
    """The r11 pre-review retention group (plain joined input files,
    no plan/params): passed alongside the current group so the
    handful of sidecars written under that one-session-old format
    still get retired when their corpus rewrites, instead of leaking
    one orphan dir per format change."""
    return "|".join(sorted(df.inputFiles()))


def retain_latest_artifact(
    keep: str, source: str, legacy: str = ""
) -> None:
    """Keep-latest-per-source on-disk retention for the content-
    fingerprinted index artifacts (r10 VERDICT item 6: every corpus
    rewrite minted a new ``{prefix}_{tag}`` dir forever — the
    in-process memos already keep only the latest signature per
    source, this mirrors that on disk). Called AFTER publishing
    ``keep``: deletes sibling artifacts of the same prefix whose
    sidecar declares the same source. Those siblings belong to
    earlier snapshots of a corpus that has since been rewritten —
    within a group only the content hash varies, and the rewritten
    corpus no longer produces the old hash, so nothing reloads them
    (if the data were ever reverted byte-for-byte, the index is
    simply rebuilt once). Siblings of other groups, other
    prefix families (the remainder-is-a-bare-tag guard keeps
    ``lloyd_`` from matching ``lloyd_admit_...``), or without a
    source field (pre-r11 artifacts) are left alone."""
    import os
    import shutil

    if not source:
        return
    root, name = os.path.split(os.path.abspath(keep))
    prefix = name.rsplit("_", 1)[0]
    if not os.path.isdir(root):
        return
    for sib in os.listdir(root):
        if sib == name or not sib.startswith(prefix + "_"):
            continue
        if "_" in sib[len(prefix) + 1 :]:
            continue  # longer prefix family sharing this one as a stem
        d = os.path.join(root, sib)
        if not os.path.isdir(d):
            continue
        side = load_model_sidecar(d, require_success=False)
        if side is None:
            continue
        sib_src = side.get("source")
        if sib_src == source or (legacy and sib_src == legacy):
            shutil.rmtree(d, ignore_errors=True)
            # a session-cached key may still point at the retired dir
            # (byte-for-byte data reverts re-produce old keys); evict
            # so the next hit rebuilds instead of reading a deleted
            # path (r11 review)
            for k in [k for k, v in _INDEX_CACHE.items() if v[0] == d]:
                del _INDEX_CACHE[k]


def write_model_sidecar(path: str, model) -> None:
    """Atomically publish the sidecar (write temp + rename) so a
    concurrent reader never observes a partial model; written LAST,
    after all parquet writes, so sidecar-present implies
    artifact-complete."""
    import json
    import os
    import tempfile

    fd, tmp = tempfile.mkstemp(dir=path, prefix="._model_")
    with os.fdopen(fd, "w") as fh:
        json.dump(model, fh)
    os.replace(tmp, os.path.join(path, _MODEL_SIDECAR))


def ensure_index(
    emb: DataFrame, key: tuple, prefix: str, build, *,
    require_success: bool = True,
) -> tuple[str, dict]:
    """``(path, model)`` of the index artifact for ``key``: from the
    session cache, else a complete artifact on disk (sidecar, plus the
    root ``_SUCCESS`` when ``require_success``), else ``build(path)``,
    which writes every parquet file into the emptied ``path`` and
    returns the JSON model. The publish order is fixed here: parquet,
    then the atomic sidecar (with the retention group as ``source``),
    then keep-latest retention. ``key`` names the directory."""
    import shutil

    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    path = _index_path(emb.sparkSession, key, prefix)
    model = load_model_sidecar(path, require_success)
    if model is None:
        shutil.rmtree(path, ignore_errors=True)  # a torn earlier build
        model = build(path)
        src = artifact_source(emb, key)
        model["source"] = src
        write_model_sidecar(path, model)
        retain_latest_artifact(path, src, legacy_source(emb))
    _INDEX_CACHE[key] = (path, model)
    return path, model


def ensure_ivf_index(
    emb: DataFrame, k: int = K_CELLS, iters: int = KMEANS_ITERS
) -> tuple[str, list[list[float]]]:
    """Train coarse centroids and persist the cell-partitioned IVF
    index ONCE per corpus snapshot; returns (path, centroids). Repeat
    invocations (bench steady passes, repeated queries) hit the
    content-keyed cache and pay only the partition-pruned search."""

    def build(path):
        centroids = train_centroids(emb, k, iters)
        ivf_write_partitioned(emb, centroids, path)
        return {"centroids": centroids}

    key = _cache_key(emb, "ivf_index", k, iters)
    path, model = ensure_index(emb, key, "ivf", build)
    return path, model["centroids"]


def ensure_pq_index(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    with_cells: bool = False,
    k_cells: int = K_CELLS,
) -> tuple[str, list[list[list[float]]], list[list[float]] | None]:
    """Train PQ codebooks (and coarse centroids when ``with_cells``),
    encode the corpus, and persist (vec_id, embedding, codes[, cell])
    parquet ONCE per corpus snapshot; returns (path, books,
    centroids|None). With cells the index is partitioned by cell so
    the ADC scan partition-prunes; either way the ADC stage reads
    only the (vec_id, codes) columns (parquet column pruning) and the
    float embeddings are fetched solely for the re-rank pool."""

    def build(path):  # admit the whole corpus into the empty index
        books = train_pq_codebooks(emb, m, k, iters)
        centroids = train_centroids(emb, k_cells) if with_cells else None
        admit_batch_pq(emb.sparkSession, path, books, emb, centroids)
        return {"books": books, "centroids": centroids}

    key = _cache_key(emb, "pq_index", m, k, iters, with_cells, k_cells)
    path, model = ensure_index(
        emb, key, "ivfpq" if with_cells else "pq", build
    )
    return path, model["books"], model["centroids"]


def ensure_pq_residual_index(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    k_cells: int = K_CELLS,
) -> tuple[str, list[list[list[float]]], list[list[float]]]:
    """Residual-PQ twin of ``ensure_pq_index(with_cells=True)``:
    coarse centroids + residual codebooks + cell-partitioned encoded
    corpus, persisted once per corpus snapshot. Returns (path, books,
    centroids)."""

    def build(path):
        centroids = train_centroids(emb, k_cells)
        books = train_pq_residual_codebooks(emb, centroids, m, k, iters)
        coded = pq_encode_residual(emb, centroids, books)
        coded.write.mode("overwrite").partitionBy("cell").parquet(path)
        return {"books": books, "centroids": centroids}

    key = _cache_key(emb, "pq_res_index", m, k, iters, k_cells)
    path, model = ensure_index(emb, key, "ivfpqr", build)
    return path, model["books"], model["centroids"]


def admit_batch_lloyd(
    spark, index_path: str, cent_rows: list, batch: DataFrame
) -> None:
    """INCREMENTAL index admission (r8, r7 VERDICT item 4 — the ANN
    analog of ``incremental_dedup_admit``, FAISS's ``add``): assign
    each NEW vector to its best EXISTING cell (centroids stay frozen
    from the original training — no retrain) and APPEND the
    assignments to the cell-partitioned parquet. Because assignment
    is per-row, the admitted artifact is row-identical to an
    assignment-only rebuild over base+batch with the same centroids
    (asserted in tests/test_ann.py), so search results over the two
    are equal by construction.

    100 TB posture: a growing corpus admits each day's batch at
    O(batch) cost — one map-only assignment scan plus an append of
    new files into the existing cell directories — instead of the
    O(corpus) retrain + rewrite that ``ensure_*``'s snapshot keying
    implies. The standard drift trade rides along: frozen centroids
    slowly decay as the distribution moves, so production systems
    retrain on a slow cadence (weekly) while admitting on a fast one
    (hourly); both motions exist here (``ensure_ivf_index`` /
    ``_ensure_lloyd_index`` = retrain, this = admit).

    ``batch`` must be (vec_id, v: array<double>) — the same layout
    the index stores. ``cent_rows`` is the [(cell, centroid), ...]
    list the build returned; IEEE doubles round-trip the driver
    exactly, so admitted assignments match in-Spark assignment
    bitwise."""
    from mapreduce511_spark.queries.similarity import _lloyd_assign

    cent = spark.createDataFrame(cent_rows, ["cell", "cv"])
    (
        _lloyd_assign(batch.select("vec_id", "v"), cent)
        .select("vec_id", "v", "cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(index_path)
    )


def admit_batch_pq(
    spark,
    index_path: str,
    books: list[list[list[float]]],
    batch: DataFrame,
    centroids: list[list[float]] | None = None,
) -> None:
    """PQ twin of ``admit_batch_lloyd``: encode NEW vectors with the
    EXISTING codebooks (and tag their coarse cell when the index is
    cell-partitioned) and append. Codebooks stay frozen — admission
    cost is one encode scan of the batch, never a retrain; the
    admitted codes are identical to what a full re-encode would
    assign those rows (pure plan-literal argmin, no state)."""
    coded = pq_encode(batch.select("vec_id", "embedding"), books)
    if centroids is not None:
        tagged = _with_best_cell(
            batch.select("vec_id", "embedding"), "embedding", centroids
        ).select("vec_id", "cell")
        (
            coded.join(tagged, "vec_id")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(index_path)
        )
    else:
        coded.write.mode("append").parquet(index_path)


def ivf_pq_residual_search_indexed(
    spark,
    index_path: str,
    probes: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    nprobe: int,
    topk: int,
    rerank: int = 32,
) -> DataFrame:
    """IVFADC search against the persisted residual index: the
    approximate score of corpus vector u for unit probe pu is
    <pu, centroid[cell]> + sum_s tbl[s][codes[s]] — the cell term is
    a per-(probe, cell) driver-computed constant and the residual
    term is the usual m table lookups, so the scan stays codes-only
    and partition-pruned; survivors re-rank with exact cosine. Same
    plan shape as ``ivf_pq_search_indexed``, better recall for the
    same code budget (residuals concentrate near 0)."""
    import math

    from mapreduce511_spark.sources.tables import read_parquet_checked

    def _dot(a, b):
        d = 0.0
        for x, y in zip(a, b):
            d += x * y
        return d

    prows = _unit_probes(probes)
    rows = []
    for pid, _pv, pu in prows:
        ranked = sorted(
            (
                (
                    _dot(pu, cv)
                    / math.sqrt(sum(b * b for b in cv)),  # cosine rank
                    _dot(pu, cv),  # additive ADC term
                    ci,
                )
                for ci, cv in enumerate(centroids)
            ),
            key=lambda t: (-t[0], t[2]),
        )
        rows.extend(
            (pid, int(ci), float(pcdot)) for _cs, pcdot, ci in ranked[:nprobe]
        )
    probe_cells = spark.createDataFrame(
        rows, "pid long, cell int, pcdot double"
    )
    cells = sorted({c for _p, c, _d in rows})
    idx = read_parquet_checked(spark, index_path).filter(
        F.col("cell").isin(cells)
    )
    ptbl = _probe_tables_df(spark, prows, books)
    cand_ids = adc_shortlist(
        idx.select("cell", "vec_id", "codes")
        .join(F.broadcast(probe_cells), "cell")
        .join(F.broadcast(ptbl), "pid")
        .filter(F.col("vec_id") != F.col("pid")),
        F.col("pcdot") + _pq_adc_col(len(books)),
        rerank * topk,
    )
    return rerank_exact(idx, cand_ids, probes, topk)


# --- product quantization (the memory-bound ANN scale path) ---------


def _unit(emb: DataFrame) -> DataFrame:
    """(vec_id, u): L2-normalized embeddings — PQ trains and encodes
    on the unit sphere so approximate dot IS approximate cosine."""
    from mapreduce511_spark.functions.vectors import l2_norm

    return emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: x / l2_norm(F.col("embedding"))
        ).alias("u"),
    )


def train_pq_codebooks(
    emb: DataFrame, m: int = PQ_M, k: int = PQ_K, iters: int = PQ_ITERS
) -> list[list[list[float]]]:
    """Deterministic per-subspace Lloyd k-means over the unit-sphere
    subvectors: codebooks[s][j] is the j-th 8-dim centroid of
    subspace s. Init is the first k vectors' subvectors (vec_id
    order); assignment is squared-L2 min with (dist, j) tie-break;
    empty cells keep their previous centroid. All m subspaces train
    in the SAME distributed pass per iteration (the subvector explode
    carries (s, sub) rows). At 100 TB you train on a deterministic
    sample — the codebook is m*k*8 floats regardless of corpus."""
    key = _cache_key(emb, "pq", m, k, iters)
    if key in _TRAIN_CACHE:
        return _TRAIN_CACHE[key]
    books = _train_subspace_codebooks(_unit(emb), m, k, iters)
    _TRAIN_CACHE[key] = books
    return books


def _train_subspace_codebooks(
    vecs: DataFrame, m: int, k: int, iters: int
) -> list[list[list[float]]]:
    """The per-subspace Lloyd trainer over any (vec_id, u) frame —
    shared by ``train_pq_codebooks`` (unit vectors) and
    ``train_pq_residual_codebooks`` (unit-vector residuals)."""
    spark = vecs.sparkSession
    d_sub = 64 // m
    unit = vecs.select("vec_id", "u").localCheckpoint(eager=True)
    init = unit.orderBy("vec_id").limit(k).collect()
    books = [
        [[float(r.u[s * d_sub + t]) for t in range(d_sub)] for r in init]
        for s in range(m)
    ]
    subs = unit.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("u", s * d_sub + 1, d_sub).alias("v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e")
    ).select("e.s", "e.v").localCheckpoint(eager=True)
    for _ in range(iters):
        cb_rows = [
            (s, j, books[s][j]) for s in range(m) for j in range(k)
        ]
        cb = F.broadcast(spark.createDataFrame(cb_rows, ["s", "j", "cv"]))
        dist = F.aggregate(
            F.zip_with("v", "cv", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        assigned = (
            subs.withColumn("rid", F.monotonically_increasing_id())
            .join(cb, "s")
            .groupBy("rid", "s")
            .agg(
                F.min_by(
                    F.struct("j", "v"), F.struct(dist.alias("d"), F.col("j"))
                ).alias("best")
            )
            .select("s", F.col("best.j").alias("j"), F.col("best.v").alias("v"))
        )
        means = (
            assigned.select("s", "j", F.posexplode("v").alias("t", "x"))
            .groupBy("s", "j", "t")
            .agg(F.avg("x").alias("mu"))
            .groupBy("s", "j")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("t", "mu"))),
                    lambda e: e.mu,
                ).alias("cv")
            )
            .collect()
        )
        updated = {(r.s, r.j): list(r.cv) for r in means}
        books = [
            [updated.get((s, j), books[s][j]) for j in range(k)]
            for s in range(m)
        ]
    return books


def _unit_residuals(
    emb: DataFrame, centroids: list[list[float]]
) -> DataFrame:
    """(vec_id, cell, u): each UNIT vector's residual against its
    coarse cell centroid — what residual PQ quantizes. Column name
    stays ``u`` so the shared subspace trainer/encoder apply."""
    tagged = _with_best_cell(
        _unit(emb).withColumnRenamed("u", "uv"), "uv", centroids
    )
    return tagged.select(
        "vec_id",
        "cell",
        F.zip_with(
            "uv",
            F.element_at(
                lit_doubles_nested(centroids),
                F.col("cell") + 1,
            ),
            lambda a, b: a - b,
        ).alias("u"),
    )


def train_pq_residual_codebooks(
    emb: DataFrame,
    centroids: list[list[float]],
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
) -> list[list[list[float]]]:
    """Residual-PQ codebooks (Jégou et al. 2011 IVFADC): per-subspace
    Lloyd k-means over r = u - centroid[cell(u)] instead of the raw
    unit vectors. Residuals concentrate around 0 once the coarse
    quantizer has removed the cell mean, so the same m*k code budget
    spends its resolution on what the cells could not express. The
    edge shows exactly where theory says: at tight re-rank budgets
    where ADC ordering is load-bearing — recall@5 at sf0.01 is
    0.44/0.56/0.72 (residual) vs 0.32/0.42/0.60 (raw) for
    rerank=1/2/4; at the registered rerank=32 both saturate the
    nprobe-bounded 0.88 (tests/test_ann.py pins both facts). One
    codebook set corpus-wide (not per cell): the standard trade that
    keeps the table m*k*8 floats."""
    key = _cache_key(emb, "pq_res", m, k, iters)
    if key in _TRAIN_CACHE:
        return _TRAIN_CACHE[key]
    books = _train_subspace_codebooks(
        _unit_residuals(emb, centroids), m, k, iters
    )
    _TRAIN_CACHE[key] = books
    return books


def _subspace_code_cols(books: list[list[list[float]]]) -> list[Column]:
    """codes[s] = argmin-L2 centroid index of subspace s over column
    ``u`` — shared by the raw-unit and residual encoders."""
    m = len(books)
    k = len(books[0])
    d_sub = 64 // m
    code_cols = []
    for s in range(m):
        sub = F.slice("u", s * d_sub + 1, d_sub)
        cands = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            sub,
                            lit_doubles(books[s][j]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(j).alias("j"),
                )
                for j in range(k)
            ]
        )
        # array_min on structs is lexicographic: (min dist, then min j)
        code_cols.append(F.array_min(cands)["j"])
    return code_cols


def pq_encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, embedding, codes): codes[s] = argmin-L2 centroid index
    of subspace s — m nibbles replacing 64 floats (32x compression;
    at scale the codes column is what the index stores and scans,
    embeddings are fetched only for the re-rank candidates). Pure
    plan-literal expressions; one corpus scan."""
    return (
        _unit(emb)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "vec_id",
            "embedding",
            F.array(*_subspace_code_cols(books)).alias("codes"),
        )
    )


def pq_encode_residual(
    emb: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
) -> DataFrame:
    """(vec_id, embedding, cell, codes): residual-PQ encode — codes
    quantize u - centroid[cell] with the residual codebooks. The cell
    comes along because residual codes are only decodable relative to
    their cell (the index partitions by it)."""
    res = _unit_residuals(emb, centroids)
    return (
        res.select(
            "vec_id",
            "cell",
            F.array(*_subspace_code_cols(books)).alias("codes"),
        )
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )


def _pq_probe_table_col(books: list[list[list[float]]], pv_col: str = "pv") -> Column:
    """A probe's m x k dot-product table against the codebooks (probe
    unit-normalized first): tbl[s][j] = <pu_sub_s, books[s][j]>. Tiny
    (m*k doubles per probe) and broadcast with the probe row, so ADC
    scoring is pure table lookups on the corpus codes."""
    from mapreduce511_spark.functions.vectors import l2_norm

    m = len(books)
    k = len(books[0])
    d_sub = 64 // m
    pu = F.transform(pv_col, lambda x: x / l2_norm(F.col(pv_col)))
    return F.array(
        *[
            F.array(
                *[
                    F.aggregate(
                        F.zip_with(
                            F.slice(pu, s * d_sub + 1, d_sub),
                            lit_doubles(books[s][j]),
                            lambda a, b: a * b,
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    for j in range(k)
                ]
            )
            for s in range(m)
        ]
    )


def _unit_probes(probes: DataFrame) -> list[tuple[int, list[float], list[float]]]:
    """[(pid, pv, pu)] for the probe set, collected once: ``pv`` the
    probe as Python floats, ``pu`` = pv / sqrt(fold(x*x)) with the same
    left-to-right 0.0-initialized fold as ``l2_norm``, so driver-side
    arithmetic on ``pu`` matches the expression twins bit for bit."""
    import math

    out = []
    for r in probes.select("pid", "pv").collect():
        pv = [float(x) for x in r.pv]
        acc = 0.0
        for x in pv:
            acc += x * x
        nrm = math.sqrt(acc)
        out.append((int(r.pid), pv, [x / nrm for x in pv]))
    return out


def _probe_tables_df(
    spark, probe_rows: list, books: list[list[list[float]]]
) -> DataFrame:
    """(pid, tbl) with each probe's m x k dot table computed DRIVER-
    SIDE in pure Python from ``_unit_probes`` rows — bit-identical to
    ``_pq_probe_table_col`` (same left-to-right IEEE fold order as
    zip_with/aggregate, same 0.0 init, same x/sqrt(fold(x*x))
    normalization), but as literal DATA instead of an m*k-fold
    expression tree. The expression twin costs seconds of Catalyst
    analysis + codegen PER QUERY (measured: the dominant cost of the
    indexed search path at toy scale); the probe side is tiny by
    construction (|probes| rows), so computing its tables on the driver
    is the standard query-side prep every ANN system does, and the
    executors see only lookups."""
    m = len(books)
    k = len(books[0])
    d_sub = 64 // m
    rows = []
    for pid, _pv, pu in probe_rows:
        tbl = []
        for s in range(m):
            row = []
            for j in range(k):
                d = 0.0
                for t in range(d_sub):
                    d += pu[s * d_sub + t] * books[s][j][t]
                row.append(d)
            tbl.append(row)
        rows.append((pid, tbl))
    return spark.createDataFrame(rows, "pid long, tbl array<array<double>>")


def _pq_adc_col(m: int) -> Column:
    """Approximate cosine = sum of m table lookups tbl[s][codes[s]]."""
    approx = None
    for s in range(m):
        term = F.element_at(F.element_at("tbl", s + 1), F.col("codes")[s] + 1)
        approx = term if approx is None else approx + term
    return approx


def adc_shortlist(cand: DataFrame, adc: Column, n: int) -> DataFrame:
    """(pid, vec_id): each probe's ``n`` best candidates of ``cand`` by
    the approximate score ``adc``, ties to the lower vec_id — the pool
    the exact re-rank reads."""
    from pyspark.sql.window import Window

    w_adc = Window.partitionBy("pid").orderBy(F.desc("adc"), F.asc("vec_id"))
    return (
        cand.withColumn("adc", adc)
        .withColumn("arank", F.row_number().over(w_adc))
        .filter(F.col("arank") <= n)
        .select("pid", "vec_id")
    )


def rerank_exact(
    vecs: DataFrame, cand_ids: DataFrame, probes: DataFrame, topk: int
) -> DataFrame:
    """``exact_topk`` over a shortlist: fetch the float embeddings of
    the (pid, vec_id) pairs in ``cand_ids`` from ``vecs`` by key and the
    probe vectors from ``probes`` (pid, pv) — both bounded sides
    broadcast — so only shortlisted vectors leave the scan."""
    return exact_topk(
        vecs.select("vec_id", "embedding")
        .join(F.broadcast(cand_ids), "vec_id")
        .join(F.broadcast(probes.select("pid", "pv")), "pid"),
        topk,
    )


def pq_search(
    emb: DataFrame,
    probes: DataFrame,
    books: list[list[list[float]]],
    topk: int,
    rerank: int = 32,
) -> DataFrame:
    """Asymmetric-distance (ADC) search + exact re-rank: each probe
    precomputes its m x k dot-product table against the codebooks
    (tiny, broadcast); every corpus vector's approximate cosine is m
    table lookups on its codes — no float vectors in the scan. The
    top rerank*topk by ADC are re-scored with exact cosine.

    ``probes`` needs (pid, pv). Scale shape: the scan touches only
    the m-byte codes column; |probes| x n score rows fold through a
    per-pid TakeOrdered; exact re-rank reads rerank*topk*|probes|
    embeddings."""
    coded = pq_encode(emb, books)
    ptbl = probes.select("pid", "pv", _pq_probe_table_col(books).alias("tbl"))
    # the ADC stage scans ONLY (vec_id, codes) — the float embeddings
    # never enter the |probes| x n stage (that's the PQ memory story);
    # the rerank*topk survivors fetch their embedding by key.
    cand_ids = adc_shortlist(
        coded.select("vec_id", "codes").join(
            F.broadcast(ptbl.select("pid", "tbl")),
            F.col("vec_id") != F.col("pid"),
        ),
        _pq_adc_col(len(books)),
        rerank * topk,
    )
    return rerank_exact(emb, cand_ids, probes, topk)


def pq_search_indexed(
    spark,
    index_path: str,
    probes: DataFrame,
    books: list[list[list[float]]],
    topk: int,
    rerank: int = 32,
) -> DataFrame:
    """ADC + exact re-rank against a PERSISTED PQ index (see
    ``ensure_pq_index``): identical output to ``pq_search`` on the
    same corpus, but the steady query cost is candidates-only — no
    training, no encode. The ADC scan reads ONLY the (vec_id, codes)
    columns of the index parquet (column pruning — the m-byte codes
    story holds at the IO layer, not just in the plan); the float
    embeddings column is read solely for the rerank*topk survivors."""
    from mapreduce511_spark.sources.tables import read_parquet_checked

    idx = read_parquet_checked(spark, index_path)
    ptbl = _probe_tables_df(spark, _unit_probes(probes), books)
    cand_ids = adc_shortlist(
        idx.select("vec_id", "codes").join(
            F.broadcast(ptbl), F.col("vec_id") != F.col("pid")
        ),
        _pq_adc_col(len(books)),
        rerank * topk,
    )
    return rerank_exact(idx, cand_ids, probes, topk)


def ivf_pq_search_indexed(
    spark,
    index_path: str,
    probes: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    nprobe: int,
    topk: int,
    rerank: int = 32,
) -> DataFrame:
    """IVF-PQ against a PERSISTED cell-partitioned index (see
    ``ensure_pq_index(with_cells=True)``): identical output to
    ``ivf_pq_search``, with the 100 TB cost attribution — the probed
    cell ids become an IN-filter on the partition column (Spark
    PartitionFilters: only nprobe/k of the index directories are
    listed/read) and the ADC scan reads only the codes column."""
    import math

    from mapreduce511_spark.sources.tables import read_parquet_checked

    # probe -> cell assignment DRIVER-SIDE (|probes| x k cosines in
    # pure Python, bit-identical fold order to the expression twin —
    # see _probe_tables_df): the query-side prep is tiny by
    # construction, and doing it as data instead of a plan saves the
    # per-query Catalyst/codegen cost AND a Spark job for the
    # distinct-cells collect that drives partition pruning.
    def _cos(pv, cv):
        d = na = nb = 0.0
        for a, b in zip(pv, cv):
            d += a * b
        for a in pv:
            na += a * a
        for b in cv:
            nb += b * b
        return d / (math.sqrt(na) * math.sqrt(nb))

    prows = _unit_probes(probes)
    pairs = []
    for pid, pv, _pu in prows:
        ranked = sorted(
            ((_cos(pv, cv), ci) for ci, cv in enumerate(centroids)),
            key=lambda t: (-t[0], t[1]),
        )
        pairs.extend((pid, int(ci)) for _, ci in ranked[:nprobe])
    probe_cells = spark.createDataFrame(pairs, "pid long, cell int")
    cells = sorted({c for _, c in pairs})
    idx = read_parquet_checked(spark, index_path).filter(
        F.col("cell").isin(cells)
    )
    ptbl = _probe_tables_df(spark, prows, books)
    cand_ids = adc_shortlist(
        idx.select("cell", "vec_id", "codes")
        .join(F.broadcast(probe_cells), "cell")
        .join(F.broadcast(ptbl), "pid")
        .filter(F.col("vec_id") != F.col("pid")),
        _pq_adc_col(len(books)),
        rerank * topk,
    )
    return rerank_exact(idx, cand_ids, probes, topk)


def ivf_pq_search(
    emb: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    nprobe: int,
    topk: int,
    rerank: int = 32,
) -> DataFrame:
    """IVF-PQ: coarse cells bound the COMPUTE (only nprobe/k of the
    corpus is ADC-scored per probe) while PQ codes bound the MEMORY
    (the scored scan reads m-byte codes, not float vectors); the
    survivors re-rank exactly. This is the standard billion-scale
    layout (Jégou et al. 2011) minus residual encoding — codes
    quantize the raw unit vectors, which costs some ADC fidelity but
    keeps one codebook corpus-wide. The residual refinement is
    ``ivf_pq_residual_search_indexed`` over
    ``ensure_pq_residual_index``.

    ``probes`` needs (pid, pv). At 100 TB the cell tag is the parquet
    partition key (see ``ivf_write_partitioned``) so the ADC scan is
    partition-pruned file IO, and the codes column is the only thing
    read."""
    coded = pq_encode(emb, books).select("vec_id", "codes")
    tagged = _with_best_cell(
        emb.select("vec_id", "embedding"), "embedding", centroids
    ).select("vec_id", "cell")
    coded = coded.join(tagged, "vec_id")

    cent_df = emb.sparkSession.createDataFrame(
        list(enumerate(centroids)), ["cell", "cv"]
    )
    probe_cells = nearest_cells(probes, cent_df, nprobe).select("pid", "cell")
    ptbl = probes.select("pid", _pq_probe_table_col(books).alias("tbl"))
    cand_ids = adc_shortlist(
        coded.join(F.broadcast(probe_cells), "cell")
        .join(F.broadcast(ptbl), "pid")
        .filter(F.col("vec_id") != F.col("pid")),
        _pq_adc_col(len(books)),
        rerank * topk,
    )
    return rerank_exact(emb, cand_ids, probes, topk)
