"""Streaming queries with DuckDB oracles.

Structured Streaming pipelines drained with the ``availableNow``
trigger are deterministic functions of the input files, so the same
driver gate that checks batch queries can check streaming operators
bit-for-bit: each query below materializes a real stream (file-source
micro-batches, watermarks, state) into a memory sink and returns the
result; the oracle states the equivalent batch semantics in SQL.

Each invocation builds its own scratch source/checkpoint dirs (tmpdir)
and a fresh memory-sink name, so repeated calls in one session (driver
+ bench + tests) never collide.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce511_spark.memo import session_memo
from mapreduce511_spark.queries import register
from mapreduce511_spark.sources.tables import load_table
from mapreduce511_spark.streaming import (
    dedup_events,
    prepare_events_dir,
    run_available_now,
    sessionize_stream,
    stream_events,
    tumbling_counts,
)

_SEQ = itertools.count()


def _scratch(prefix: str) -> tuple[str, str, str]:
    """(source_dir, checkpoint_dir, unique sink name) for one run.
    The caller removes the base dir after the drain (`_cleanup`) —
    the memory sink holds the materialized rows, so the scratch
    files are dead weight the moment the query returns."""
    n = next(_SEQ)
    base = tempfile.mkdtemp(prefix=f"mr511_{prefix}_")
    return f"{base}/src", f"{base}/ckpt", f"{prefix}_{n}"


def _cleanup(src: str) -> None:
    shutil.rmtree(str(Path(src).parent), ignore_errors=True)


# Twelve streaming queries read the same µs-normalized staged copy of
# the events table, so it is written once per session instead of once
# per invocation. Each query still creates its own checkpoint dir and
# memory sink, so its source offsets start fresh and the stream is
# computed from scratch every time. Queries that stage a NON-plain
# source (the doubled-events dedup census, the admission slices) keep
# their own per-invocation scratch dirs.
_EVENTS_SRC_MEMO: dict = {}


def _shared_events_src(spark: SparkSession, sf_dir: str) -> str:
    import os

    def stage() -> str:
        src = f"{tempfile.mkdtemp(prefix='mr511_events_shared_')}/src"
        return prepare_events_dir(spark, sf_dir, src)

    paths = [os.path.join(sf_dir, "events.parquet")]
    src = session_memo(_EVENTS_SRC_MEMO, spark, paths, stage)
    if Path(src).exists():
        return src
    # a tmp cleaner removed the staged copy: stage it again
    _EVENTS_SRC_MEMO.clear()
    return session_memo(_EVENTS_SRC_MEMO, spark, paths, stage)


def _scratch_ckpt(prefix: str) -> tuple[str, str]:
    """(checkpoint_dir, unique sink name) for one run against the
    shared staged events source."""
    n = next(_SEQ)
    base = tempfile.mkdtemp(prefix=f"mr511_{prefix}_")
    return f"{base}/ckpt", f"{prefix}_{n}"


# The admission/ingest streaming queries share their STANDING side: the
# staged stream-source dir, the index frames the per-batch
# stream-static joins probe, and batch-side funnel scalars. All of it
# exists before the stream starts, so it is built once per session and
# corpus snapshot; index frames are localCheckpoint'ed so each
# micro-batch probes materialized values. The streamed computation
# still runs in full on every invocation.
_STANDING_MEMO: dict = {}


def _session_standing(spark: SparkSession, sf_dir: str, tag: str, builder):
    import glob
    import os

    d = sf_dir[len("file:"):] if sf_dir.startswith("file:") else sf_dir
    tables = sorted(glob.glob(os.path.join(glob.escape(d), "*.parquet")))
    return session_memo(
        _STANDING_MEMO, spark, [sf_dir, *tables], builder, tag=(tag,)
    )


def _detach(df: DataFrame, name: str) -> DataFrame:
    """Pin a memory-sink result independently of the sink and drop the
    sink's temp view: without this every invocation leaves its full
    materialized output pinned in the driver catalog for the session
    lifetime.

    r13 (guide §5 — keep the driver out of the data path): the old
    copy went memory sink -> collect() -> Python Row list ->
    createDataFrame, a per-row py4j round trip in BOTH directions
    (~3 s per drain for the ~30k-row sessionization results, more
    wall than the drain itself). localCheckpoint materializes the
    same rows JVM-side instead; values and schema are untouched."""
    spark = df.sparkSession
    out = df.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


@register(
    "stream_tumbling_event_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 2)   AS total_value
    FROM events
    GROUP BY window_start, event_type
    """,
)
def stream_tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows computed BY THE STREAMING
    ENGINE (file-source micro-batches, event-time watermark, windowed
    state), drained with availableNow — must equal the batch GROUP BY
    exactly. This is §2.9's S9/stream surface under the driver's
    oracle gate, not just a test."""
    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("tumble")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=4)
        return _detach(
            run_available_now(tumbling_counts(stream), name, ckpt), name
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_dedup_census",
    oracle="""
    SELECT event_type, count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-dedup under at-least-once replay: the source
    dir holds TWO full copies of the events table (a simulated
    upstream redelivery, some copies arriving micro-batches later);
    ``dropDuplicatesWithinWatermark`` state must collapse them so the
    drained census equals the batch census of ONE copy. Watermark is
    set past the data's span so nothing is dropped as late — the test
    isolates dedup-state behavior, not lateness."""
    def _standing():
        base = tempfile.mkdtemp(prefix="mr511_dedup_standing_")
        s = f"{base}/src"
        prepare_events_dir(spark, sf_dir, s)
        # second full copy, arriving as separate files (-> later batches)
        load_table(spark, sf_dir, "events").write.mode("append").parquet(s)
        return s

    src = _session_standing(spark, sf_dir, "dedup", _standing)
    ckpt, name = _scratch_ckpt("dedup")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=4)
        deduped = dedup_events(stream, watermark="400 days")
        drained = run_available_now(deduped, name, ckpt, mode="append")
        census = drained.groupBy("event_type").agg(
            F.count("*").alias("n_events")
        )
        return _detach(census, name)
    finally:
        _cleanup(ckpt)


@register(
    "stream_closed_sessions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered
    ), sess AS (
        SELECT user_id, sid,
               min(ts) AS session_start,
               max(ts) AS session_end,
               count(*) AS n_events,
               max(sid) OVER (PARTITION BY user_id) AS last_sid
        FROM numbered
        GROUP BY user_id, sid
    ), wm AS (
        -- Spark's event-time watermark and state timeouts are
        -- MILLISECOND-granular: watermark_ms = floor(max event time
        -- to ms) - delay_ms; a timeout set at (end_us + gap_us)//1000
        -- fires when watermark_ms exceeds it. Stating the same
        -- truncation here keeps the boundary exact at any SF.
        SELECT epoch_us(max(ts)) // 1000 - 1800000 AS wm_ms FROM events
    )
    SELECT user_id, session_start, session_end, n_events
    FROM sess, wm
    WHERE sid < last_sid
       OR (epoch_us(session_end) + 1800000000) // 1000 < wm_ms
    """,
)
def stream_closed_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-sessionization (applyInPandasWithState, 30-min
    gap, event-time timeouts) drained with availableNow. A session is
    EMITTED when (a) a later event of the same user closes it by gap
    inside the data batch, or (b) the drain's final watermark-advance
    batch fires its event-time timeout — i.e. its end + gap is older
    than the final watermark (max event time - 30 min delay). Each
    user's trailing session younger than that stays parked in state.
    Both rules are stated exactly in the oracle and checked
    bit-for-bit — stateful streaming under the driver gate, not just
    a stream-vs-batch test."""
    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("sess")
    try:
        # NO max_files_per_trigger: all files MUST land in one data
        # batch. sessionize_stream consumes events in arrival order
        # within a batch but has no cross-batch reordering, so a
        # multi-batch split (files are not ts-ordered) would regress
        # session ends. availableNow + no trigger cap = one data batch
        # + one final watermark-advance batch, which the oracle states
        # exactly.
        stream = stream_events(spark, src)
        return _detach(
            run_available_now(
                sessionize_stream(stream), name, ckpt, mode="append"
            ),
            name,
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_enriched_census",
    oracle="""
    SELECT e.user_id % 5 AS segment,
           count(*) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events e
    GROUP BY segment
    """,
)
def stream_enriched_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment under the oracle gate: the event
    stream joins a static user-segment dimension per micro-batch
    (``enrich_with_users`` — no stream state, dim re-read each batch)
    and the drained per-segment census must equal the batch twin. The
    dimension derives segment = user_id % 5 so DuckDB can state the
    join's effect without the dim table itself."""
    from mapreduce511_spark.streaming import enrich_with_users

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("enrich")
    try:
        dim = (
            load_table(spark, sf_dir, "events")
            .select("user_id")
            .distinct()
            .withColumn("segment", F.col("user_id") % 5)
        )
        stream = stream_events(spark, src, max_files_per_trigger=4)
        cents = F.round(F.col("value") * 100).cast("long")
        enriched = enrich_with_users(
            stream.withColumn("cents", cents), dim
        )
        agg = enriched.groupBy("segment").agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("total_cents"),
        )
        return _detach(run_available_now(agg, name, ckpt), name)
    finally:
        _cleanup(ckpt)


@register(
    "stream_dedup_admission",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
        FROM documents
    ), idx AS (
        SELECT DISTINCT f FROM fp WHERE doc_id % 3 = 0
    ), stream AS (
        SELECT doc_id, f FROM fp WHERE doc_id % 3 <> 0
    ), novel AS (
        SELECT s.* FROM stream s
        WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.f = s.f)
    )
    SELECT (SELECT count(*) FROM stream)  AS n_stream,
           (SELECT count(*) FROM stream) - (SELECT count(*) FROM novel)
               AS rejected_known,
           (SELECT count(*) FROM novel) - (SELECT count(DISTINCT f) FROM novel)
               AS rejected_within_stream,
           (SELECT count(DISTINCT f) FROM novel) AS admitted
    """,
)
def stream_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental-ingestion dedup — the streaming twin of
    ``incremental_dedup_admit``. Documents arrive as file-source
    micro-batches; each batch's content fingerprints are (1)
    anti-joined against the STANDING corpus fingerprint index (a
    static DataFrame — stream-static left-anti join, no stream
    state), then (2) deduplicated against everything already admitted
    earlier in the stream via ``dropDuplicates`` keyed on the
    fingerprint (bounded state: one 32-char digest per distinct
    admitted doc). The drained admission funnel must equal the batch
    SQL stated in the oracle regardless of how files split into
    micro-batches — the census counts are winner-independent even
    when duplicate content arrives in the same batch.

    At 100 TB: the corpus index is a bucketed fingerprint table
    (zero corpus-side shuffle per batch) and the dropDuplicates state
    is RocksDB-backed; admission emits to the append sink that
    ``exactly_once_parquet_sink`` demonstrates.

    Reference basis: extension tier — streaming + dedup families
    composed (SURVEY.md §2.9 / extensions)."""
    from mapreduce511_spark.functions.text import normalize_text

    docs = load_table(spark, sf_dir, "documents")

    def _standing():
        base = tempfile.mkdtemp(prefix="mr511_admit_standing_")
        s = f"{base}/src"
        fp = docs.select(
            "doc_id", F.md5(normalize_text("text")).alias("f")
        )
        idx = (
            fp.filter(F.col("doc_id") % 3 == 0)
            .select("f")
            .distinct()
            .localCheckpoint(eager=True)
        )
        # stream side lands as multiple parquet files -> multiple
        # micro-batches under maxFilesPerTrigger
        stream_docs = docs.filter(F.col("doc_id") % 3 != 0)
        n_stream = stream_docs.count()
        stream_docs.repartition(4).write.mode("overwrite").parquet(s)
        # novel count (pre within-stream dedup) from the batch side of
        # the same expressions: the stream's only nondeterminism is
        # which duplicate row wins, which these counts don't see
        n_novel = (
            fp.filter(F.col("doc_id") % 3 != 0)
            .join(idx, "f", "left_anti")
            .count()
        )
        return s, idx, n_stream, n_novel

    src, idx, n_stream, n_novel = _session_standing(
        spark, sf_dir, "admit", _standing
    )
    ckpt, name = _scratch_ckpt("admit")
    try:
        reader = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream_fp = reader.select(
            "doc_id", F.md5(normalize_text("text")).alias("f")
        )
        novel = stream_fp.join(idx, "f", "left_anti")
        admitted = novel.dropDuplicates(["f"])
        drained = run_available_now(admitted, name, ckpt, mode="append")
        rows = drained.agg(
            F.count("*").alias("n_admitted_rows"),
            F.countDistinct("f").alias("n_admitted_fp"),
        )
        out = rows.select(
            F.lit(n_stream).cast("long").alias("n_stream"),
            F.lit(n_stream - n_novel).cast("long").alias("rejected_known"),
            (F.lit(n_novel) - F.col("n_admitted_fp"))
            .cast("long")
            .alias("rejected_within_stream"),
            F.col("n_admitted_fp").cast("long").alias("admitted"),
        )
        return _detach(out, name)
    finally:
        _cleanup(ckpt)


@register(
    "stream_late_drop_census",
    oracle="""
    WITH ranked AS (
        SELECT ts,
               row_number() OVER (ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ), wm AS (
        -- watermark operative while the history replays: ms-floored
        -- max event time minus the 2-hour delay (the two seed
        -- batches both contain ts <= max, so it never moves)
        SELECT epoch_us(max(ts)) // 1000 - 7200000 AS wm_ms FROM events
    ), classified AS (
        -- 1-hour tumbling window end in ms; a replayed row is
        -- admitted iff its window end is STRICTLY above the
        -- watermark (end == wm is cut by the state operator, end <
        -- wm by the pre-shuffle filter — net effect is the same).
        -- The two seed rows (rn <= 2) arrive before the watermark
        -- becomes operative for filtering and are always admitted.
        SELECT rn,
               ((epoch_us(ts) // 1000000) // 3600 + 1) * 3600000
                   AS window_end_ms
        FROM ranked
    )
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN rn <= 2 OR window_end_ms > wm_ms
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
           CAST(sum(CASE WHEN rn <= 2 OR window_end_ms > wm_ms
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
    FROM classified, wm
    """,
)
def stream_late_drop_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data DROP census — the observability metric a
    100 TB ingest pipeline alarms on, surfaced as an oracled query
    instead of buried in engine internals. The scenario: the two
    globally latest events arrive first as singleton micro-batches,
    advancing the event-time watermark to max(ts) - 2 h; the entire
    remaining history then replays as a third micro-batch against
    that live watermark, and every replayed row whose 1-hour tumbling
    window already closed is discarded by the windowed aggregation.
    The census reports total rows, admitted rows (summed from the
    drained per-window counts), and dropped rows; the oracle states
    the identical watermark arithmetic in plain SQL (ms-floored event
    times, hour-aligned window ends).

    Engine facts this query pins down (measured on 4.x, asserted by
    the boundary test in tests/test_streaming.py):
    - Spark keeps TWO operative watermarks per batch (SPARK-40925):
      the LATE-EVENTS FILTER uses the watermark computed before the
      *previous* batch, while STATE EVICTION uses the current one.
      Hence the two seed batches here — with a single seed batch the
      history would replay under a still-zero filter watermark and
      nothing would ever drop (and in append mode the below-watermark
      windows would be admitted, aggregated, and emitted on the same
      batch's eviction pass).
    - The net admission predicate is window_end > watermark,
      STRICTLY: a row whose window ends exactly at the watermark is
      cut by the state operator (counted in
      numRowsDroppedByWatermark), one ending below it by the
      pre-shuffle filter (NOT counted) — so the progress metric
      under-reports drops and a pipeline must count admissions
      itself, as done here (n_dropped = total - sum of final window
      counts).
    - Update output mode emits every state change, so max(n) per
      window across the drained sink is the final count even for
      windows whose state is later evicted without emission.

    Micro-batch order is forced deterministically: seed files get
    older mtimes (the file source processes oldest-first) and
    maxFilesPerTrigger=1 keeps them singleton batches.

    At 100 TB: the admitted stream is a watermarked windowed count
    whose state is bounded by the watermark horizon; the census is
    one final aggregate over window counts. The same accounting runs
    continuously by diffing source row counts against sink updates.

    Reference basis: extension tier — streaming observability; the
    reference's only liveness signal is the monitor's job-end stop
    condition (wheel/monitor_real.sh:35-38), which sees nothing about
    discarded data.
    """
    import os

    def _standing():
        base = tempfile.mkdtemp(prefix="mr511_latedrop_standing_")
        s = f"{base}/src"
        ev = load_table(spark, sf_dir, "events")
        n = ev.count()
        # seed 1: the globally latest event; seed 2: the next latest.
        # Ties on ts break by event_id, so the split is deterministic.
        top2 = ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(2)
        seeds = top2.collect()
        rest = ev.join(
            top2.select("event_id"), "event_id", "left_anti"
        )
        mtimes: list[tuple[str, int]] = []
        now = 1_700_000_000
        for i, row in enumerate(seeds):
            part = f"{s}_seed{i}"
            ev.filter(F.col("event_id") == row.event_id).coalesce(
                1
            ).write.mode("overwrite").parquet(part)
            os.makedirs(s, exist_ok=True)
            for f in os.listdir(part):
                if f.endswith(".parquet"):
                    os.rename(f"{part}/{f}", f"{s}/seed{i}_{f}")
                    mtimes.append((f"{s}/seed{i}_{f}", now + i))
            shutil.rmtree(part, ignore_errors=True)
        rest.coalesce(1).write.mode("append").parquet(s)
        for p2 in os.listdir(s):
            full = f"{s}/{p2}"
            if not p2.endswith(".parquet"):
                continue
            t = dict(mtimes).get(full, now + 10)
            os.utime(full, (t, t))
        return s, n

    src, n_total = _session_standing(spark, sf_dir, "latedrop", _standing)
    ckpt, name = _scratch_ckpt("latedrop")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=1)
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        drained = run_available_now(agg, name, ckpt, mode="update")
        # update mode re-emits a window each batch it grows; counts
        # are monotone per window, so max(n) is the final count
        admitted = drained.groupBy("w").agg(F.max("n").alias("n"))
        out = admitted.agg(
            F.lit(n_total).cast("long").alias("n_total"),
            F.coalesce(F.sum("n"), F.lit(0))
            .cast("long")
            .alias("n_admitted"),
            (F.lit(n_total) - F.coalesce(F.sum("n"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
        return _detach(out, name)
    finally:
        _cleanup(ckpt)


@register(
    "stream_click_attribution",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON c.event_type = 'click'
     AND p.event_type = 'purchase'
     AND c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 2 HOUR
    """,
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join under the oracle gate: every
    purchase attributed to the same user's clicks in the preceding
    2 hours, computed by the streaming engine (both sides
    watermarked, interval-bounded buffer state, append emission) and
    drained with availableNow — must equal the plain batch interval
    join the oracle states. This registers the
    ``click_purchase_join`` operator (streaming/__init__.py) whose
    stream-vs-batch parity tests/test_streaming.py already pins,
    putting the last big stateful-streaming operator family —
    stream-stream joins — under the driver's bit-for-bit gate
    alongside windowed aggs, dedup, sessionization, enrichment and
    the late-drop census.

    All files land in one data batch (no trigger cap): inner
    stream-stream joins emit exactly the matched set under any
    batching, but a multi-batch split could expire one side's state
    before a straggler file of the other side arrives (files are not
    time-ordered), which would legitimately drop matches — the
    single-batch drain makes the full match set the unique answer,
    which is what the oracle asserts.

    At 100 TB: state per side is bounded by watermark + interval
    horizon (join condition bounds purchase_ts within [click_ts,
    click_ts + 2h], so Spark expires buffered rows); the join key
    (user_id) shuffles both streams once.

    Reference basis: extension tier — streaming family (SURVEY.md
    §2.9)."""
    from mapreduce511_spark.streaming import click_purchase_join

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("attrib")
    try:
        stream = stream_events(spark, src)
        clicks = stream.filter(F.col("event_type") == "click")
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = click_purchase_join(clicks, purchases)
        return _detach(
            run_available_now(joined, name, ckpt, mode="append"), name
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_sliding_event_counts",
    oracle="""
    WITH ex AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts)
                 - i * (INTERVAL '15 minutes') AS window_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) s
    )
    SELECT window_start, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM ex GROUP BY window_start, event_type
    """,
)
def stream_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregation (1-hour windows, 15-minute
    slide) drained with availableNow: each event lands in exactly FOUR
    overlapping window states, so this exercises the engine's
    multi-assignment windowing + watermark eviction path that tumbling
    windows never touch — and quantifies the 4x state-size cost of
    overlap a 100 TB capacity plan budgets for. The oracle states the
    same semantics by explicit window enumeration: the four slide
    starts covering an event t are time_bucket_15m(t) - i*15min for
    i in 0..3.

    Reference basis: §2.9 streaming surface — sliding twin of
    ``stream_tumbling_event_counts`` (the monitor's per-cycle average
    generalized to overlapping horizons)."""
    from mapreduce511_spark.streaming import sliding_counts

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("slide")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=4)
        return _detach(
            run_available_now(sliding_counts(stream), name, ckpt), name
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_user_running_stats",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming aggregation (``applyInPandasWithState``,
    update mode): per-user running count / value sum / value max,
    emitted once per user per micro-batch. After the availableNow
    drain, each user's FINAL emission (the one with the largest
    running count — emissions are monotone in n_events) must equal the
    batch GROUP BY exactly; `max_by` picks it without a window pass.
    This puts the engine's arbitrary-stateful-operator path — Arrow
    batches in, O(1) state per key, update-mode sink — under the
    driver's exact oracle gate, where `stream_closed_sessions` covers
    the timeout/eviction side.

    Reference basis: §2.9 streaming surface — the reference's monitor
    recomputes cluster aggregates from the full log every cycle
    (`wheel/monitor_real.sh`); the stream keeps O(users) state
    instead."""
    from mapreduce511_spark.streaming import user_running_stats

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("ustats")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=4)
        drained = run_available_now(
            user_running_stats(stream), name, ckpt, mode="update"
        )
        final = drained.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
            F.max_by("max_value", "n_events").alias("max_value"),
        )
        return _detach(final, name)
    finally:
        _cleanup(ckpt)


@register(
    "stream_topk_per_window",
    oracle="""
    WITH counts AS (
        SELECT date_trunc('hour', ts) AS window_start,
               event_type, count(*) AS n_events
        FROM events GROUP BY window_start, event_type
    ), ranked AS (
        SELECT window_start, event_type, n_events,
               row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type) AS rank
        FROM counts
    )
    SELECT window_start, event_type, n_events, rank
    FROM ranked WHERE rank <= 3
    ORDER BY window_start, rank
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hour with the COUNTS computed by the
    streaming engine (watermarked tumbling-window state, micro-batch
    drain) and the ranking applied to the drained result — the
    standard streaming top-k split: keep the unbounded-state part
    (counts) incremental in the engine, run the per-window ranking as
    a batch post-step over window-sized groups (Structured Streaming
    forbids row_number on an append stream precisely because rank
    can't close until the window does). At 100 TB the drained
    per-window group is |event_type| rows — the ranking cost is
    nothing; the state the cluster must hold is the same as
    ``stream_tumbling_event_counts``.

    Reference basis: §2.9 streaming surface + O4's top-k family
    (`/root/reference/analyze/analyze_cpu_slowstart.py:22-38` picks
    top-2 per series; this is the windowed generalization under real
    stream execution)."""
    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("topk")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=4)
        drained = run_available_now(tumbling_counts(stream), name, ckpt)
        from pyspark.sql.window import Window

        w = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("event_type")
        )
        ranked = (
            drained.select("window_start", "event_type", "n_events")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .orderBy("window_start", "rank")
        )
        return _detach(ranked, name)
    finally:
        _cleanup(ckpt)


@register(
    "stream_hourly_hll_users",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('hour', ts) AS w, user_id FROM events
    ), h AS (
        SELECT w,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                   AS BIGINT) AS reg,
               substr(md5(CAST(user_id AS VARCHAR)), 3, 13) AS tail
        FROM du
    ), rho AS (
        SELECT w, reg,
               CASE WHEN length(regexp_extract(tail, '^(0*)', 1)) = 13
                    THEN 53
                    ELSE length(regexp_extract(tail, '^(0*)', 1)) * 4
                         + CASE substr(
                               tail,
                               length(regexp_extract(tail, '^(0*)', 1)) + 1,
                               1)
                           WHEN '1' THEN 3
                           WHEN '2' THEN 2 WHEN '3' THEN 2
                           WHEN '4' THEN 1 WHEN '5' THEN 1
                           WHEN '6' THEN 1 WHEN '7' THEN 1
                           ELSE 0 END
                         + 1
               END AS rho
        FROM h
    ), regs AS (
        SELECT w, reg, max(rho) AS rmax FROM rho GROUP BY w, reg
    ), z AS (
        SELECT w, count(*) AS v,
               sum(CAST(power(2, 40 - least(rmax, 40)) AS BIGINT))
                   AS z_present
        FROM regs GROUP BY w
    ), est AS (
        SELECT w, v,
               (0.7213 / (1.0 + 1.079 / 256.0)) * 72057594037927936.0
               / (z_present + (256 - v) * 1099511627776) AS e_raw
        FROM z
    ), ex AS (
        SELECT date_trunc('hour', ts) AS w,
               count(DISTINCT user_id) AS n_exact
        FROM events GROUP BY w
    )
    SELECT e.w AS window_start, ex.n_exact, e.v AS v_registers,
           round(CASE WHEN e.e_raw <= 640.0 AND e.v < 256
                      THEN 256.0 * ln(256.0 / (256.0 - e.v))
                      ELSE e.e_raw END, 1) AS hll_est
    FROM est e JOIN ex ON e.w = ex.w
    ORDER BY window_start
    """,
)
def stream_hourly_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog INSIDE the stream: per-hour distinct-user sketches
    computed by the streaming engine itself — register and rho are
    plain deterministic columns (md5 string ops), so the windowed
    state is a ``groupBy(window, reg).max(rho)`` aggregate: ≤256 tiny
    rows of state per open window, evicted by the watermark. This is
    how a 100 TB ingest keeps live distinct-user counters without
    holding user sets in state — the state size is the SKETCH, not
    the cardinality, and the drained registers merge with batch
    sketches (``hll_rolling_7d_users``) because max-merge is the same
    algebra everywhere.

    The drained registers get the harmonic estimate as a batch
    post-step (like ``stream_topk_per_window``'s ranking); the exact
    per-hour distinct twin rides along for the error census, and the
    oracle restates sketch + exact in SQL — bit-exact through real
    micro-batch execution.

    Reference basis: §2.9 streaming surface × §2.4 approx-aggregate
    note — the sketch family under stream execution."""
    from mapreduce511_spark.queries.sketches import (
        _hll_estimate,
        _hll_reg_rho,
    )

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("hllstream")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=4)
        reg, rho = _hll_reg_rho(F.md5(F.col("user_id").cast("string")))
        windowed = (
            stream.select("ts", reg, rho)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "reg")
            .agg(F.max("rho").alias("rmax"))
            .select(F.col("w.start").alias("window_start"), "reg", "rmax")
        )
        regs = _detach(run_available_now(windowed, name, ckpt), name)
        est = _hll_estimate(regs, "window_start")
        exact = (
            load_table(spark, sf_dir, "events")
            .groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
            .agg(F.countDistinct("user_id").alias("n_exact"))
        )
        return (
            est.join(exact, "window_start")
            .select(
                "window_start",
                "n_exact",
                "v_registers",
                F.round("est", 1).alias("hll_est"),
            )
            .orderBy("window_start")
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_incremental_mv",
    oracle="""
    SELECT event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental materialized-view maintenance: a per-type
    (count, sum) MV is kept up to date by an abelian merge inside
    ``foreachBatch`` — each micro-batch aggregates ITS OWN rows only,
    then merges with the previous MV version (read v, union, re-agg,
    write v+1), exactly the continuous-aggregate refresh loop of
    ``incremental_mv_refresh`` run under real micro-batch delivery.
    After the availableNow drain the MV must equal the from-scratch
    batch GROUP BY — the invariant that makes a streaming MV
    trustworthy.

    Per-batch cost is O(batch + |MV|), never O(history): the stream
    is split into multiple micro-batches (maxFilesPerTrigger) so the
    merge path executes several times, and the versioned-dir write
    is the plain-parquet stand-in for a transactional table format
    (Delta/Iceberg MERGE), as documented on the exactly-once sink.

    Reference basis: SURVEY.md §2.9 (the monitor's append-only feed
    consumed incrementally) + the batch MV-refresh twin."""
    def _standing():
        sbase = tempfile.mkdtemp(prefix="mr511_imv_standing_")
        s = f"{sbase}/src"
        load_table(spark, sf_dir, "events").repartition(8).write.parquet(s)
        return s

    src = _session_standing(spark, sf_dir, "imv", _standing)
    ckpt, _name = _scratch_ckpt("imv")
    base = str(Path(ckpt).parent)
    stream = stream_events(spark, src, max_files_per_trigger=2)

    mv_versions: list[str] = []

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        if mv_versions:
            prev = spark.read.parquet(mv_versions[-1])
            delta = (
                prev.unionByName(delta)
                .groupBy("event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").alias("sum_value"),
                )
            )
        target = f"{base}/mv_v{len(mv_versions)}"
        delta.write.mode("overwrite").parquet(target)
        mv_versions.append(target)

    try:
        q = (
            stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not mv_versions:  # empty source — empty MV
            result = spark.createDataFrame(
                [], "event_type string, n_events long, total_value double"
            )
        else:
            result = (
                spark.read.parquet(mv_versions[-1])
                .select(
                    "event_type",
                    "n_events",
                    F.round("sum_value", 2).alias("total_value"),
                )
                .orderBy("event_type")
            )
        rows = result.collect()
    finally:
        # matches every sibling streaming query: a failed run must
        # not leak the scratch dir (checkpoint + mv_v* versions)
        _cleanup(ckpt)
    return spark.createDataFrame(rows, result.schema)


@register("stream_state_metrics_census")
def stream_state_metrics_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming STATE OBSERVABILITY census (r4 VERDICT item 8): per
    micro-batch and state operator of a watermarked tumbling
    aggregation drain, the StreamingQueryProgress state metrics —
    rows held, rows updated, rows evicted, and state bytes. This is
    the on-call dashboard feed next to ``stream_late_drop_census``:
    at 100 TB the first symptom of a watermark bug or key explosion
    is unbounded ``num_rows_total``, and this census is the query a
    monitor alarms on (tests/test_streaming_state.py proves the
    bound: a 2x at-least-once replay must NOT grow peak state,
    because state size tracks distinct keys, not input volume).

    Rows-only by design: row COUNT and key metrics are deterministic
    (fixed 8-file source layout, maxFilesPerTrigger=2), but
    ``state_bytes`` is a JVM measurement no SQL oracle can restate."""
    def _standing():
        sbase = tempfile.mkdtemp(prefix="mr511_statemx_standing_")
        s = f"{sbase}/src"
        # fixed file count => deterministic micro-batch sequence
        load_table(spark, sf_dir, "events").repartition(8).write.mode(
            "overwrite"
        ).parquet(s)
        return s

    src = _session_standing(spark, sf_dir, "statemx", _standing)
    ckpt, _name = _scratch_ckpt("statemx")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=2)
        q = (
            tumbling_counts(stream)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = []
        for p in q.recentProgress:
            for i, op in enumerate(p["stateOperators"] or []):
                rows.append(
                    (
                        int(p["batchId"]),
                        str(op.get("operatorName", f"op_{i}")),
                        int(op["numRowsTotal"]),
                        int(op["numRowsUpdated"]),
                        int(op.get("numRowsRemoved", 0)),
                        int(op.get("memoryUsedBytes", 0)),
                    )
                )
    finally:
        _cleanup(ckpt)
    return spark.createDataFrame(
        rows,
        "batch_id long, operator string, num_rows_total long,"
        " num_rows_updated long, num_rows_removed long, state_bytes long",
    ).orderBy("batch_id", "operator")


@register(
    "stream_click_attribution_outer",
    oracle="""
    WITH wm AS (
        SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase')
               ) - INTERVAL 2 HOUR AS w
    )
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 2 HOUR
    WHERE p.event_id IS NOT NULL
       OR c.ts + INTERVAL 2 HOUR < (SELECT w FROM wm)
    """,
)
def stream_click_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join under the oracle gate: the
    conversion-funnel completion of ``stream_click_attribution`` —
    unconverted clicks surface as null-extended rows, but only once
    the watermark PROVES they can no longer convert. The oracle
    states Spark's emission rule in plain SQL: matched pairs are the
    batch interval join; a null-extended row appears iff the click
    found no purchase AND its join window closed below the final
    watermark, min(max click ts, max purchase ts) - 2h (Spark's
    multi-input watermark is the min across inputs; the horizon
    beyond it is unemitted state by design — semantics verified
    empirically, cutoff exact at sf0.001/sf0.01). Single data batch
    for the same reason as the inner variant; the null flush happens
    in the trailing no-data micro-batch that advances the watermark.

    At 100 TB: identical state bound to the inner join (watermark +
    interval horizon per side, user-keyed shuffle); the outer rows
    add no state, only an eviction-time emit.

    Reference basis: extension tier — streaming family (SURVEY.md
    §2.9)."""
    from mapreduce511_spark.streaming import click_purchase_left_join

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("louter")
    try:
        stream = stream_events(spark, src)
        clicks = stream.filter(F.col("event_type") == "click")
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = click_purchase_left_join(clicks, purchases)
        return _detach(
            run_available_now(joined, name, ckpt, mode="append"), name
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_session_window_native",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
    ), d AS (
        SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts)
                            < INTERVAL 30 MINUTE
                       THEN 0 ELSE 1 END AS ni
        FROM e
    ), s AS (
        SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM d
    ), sess AS (
        SELECT user_id, sid,
               min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events,
               CAST(sum(vc) AS BIGINT) AS total_value_cents
        FROM s GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events,
           total_value_cents
    FROM sess
    WHERE session_end < (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    """,
)
def stream_session_window_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gap sessionization via Spark's NATIVE ``session_window``
    (the idiomatic API twin of the ``applyInPandasWithState``
    sessionizer — both shapes ship, cross-checkable against the same
    kind of batch truth): 30-minute gap, merged windows
    [first_ts, last_ts + gap), event-time watermark 2h. The oracle
    is classic gaps-and-islands (new session when the gap to the
    previous event is >= 30 min — session_window's interval is
    half-open, so an event exactly at the previous end starts a new
    session) with the append-mode emission rule stated exactly:
    a session surfaces iff its end fell below the final watermark
    max(ts) - 2h (943/943 sessions at sf0.001). Values aggregate as
    integer cents so the session sums are order-exact in both
    engines.

    At 100 TB: state is one merging window per open session per
    user (bounded by active users x watermark horizon), user-keyed
    shuffle — and unlike the custom-state twin the merge logic runs
    JVM-side."""
    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("sswin")
    try:
        stream = stream_events(spark, src)
        agged = (
            stream.withWatermark("ts", "2 hours")
            .groupBy(
                F.session_window("ts", "30 minutes"), F.col("user_id")
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "total_value_cents"
                ),
            )
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
                "total_value_cents",
            )
        )
        return _detach(
            run_available_now(agged, name, ckpt, mode="append"), name
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_click_attribution_full",
    oracle="""
    WITH wm AS (
        SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase')
               ) - INTERVAL 2 HOUR AS w
    )
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND p.ts <= c.ts + INTERVAL 2 HOUR
    WHERE (c.event_id IS NOT NULL AND p.event_id IS NOT NULL)
       OR (p.event_id IS NULL
           AND c.ts + INTERVAL 2 HOUR < (SELECT w FROM wm))
       OR (c.event_id IS NULL AND p.ts < (SELECT w FROM wm))
    """,
)
def stream_click_attribution_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join under the oracle gate — the last
    cell of the streaming join matrix (inner / left / full): both
    unconverted clicks AND orphan purchases surface as null-extended
    rows once the watermark proves they can never match. The oracle
    states both emission rules in plain SQL: matched pairs are the
    batch interval join; a click null-extends iff unmatched AND its
    window upper bound ``click_ts + 2h`` fell strictly below the
    final watermark w = min(max click ts, max purchase ts) - 2h
    (same rule as the left join); a purchase null-extends iff
    unmatched AND ``purchase_ts < w`` (arriving clicks have
    ts >= w and can only match purchases at or after their own
    timestamp). Both cutoffs verified empirically — 191/191 orphan
    purchases at sf0.001 — and hash-checked at both parity scales.

    At 100 TB: same state bound as the inner join (watermark +
    interval horizon per side, user-keyed shuffle); outer emission on
    both sides is eviction-time work, not extra state.

    Reference basis: extension tier — streaming family (SURVEY.md
    §2.9)."""
    from mapreduce511_spark.streaming import click_purchase_full_join

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("fouter")
    try:
        stream = stream_events(spark, src)
        clicks = stream.filter(F.col("event_type") == "click")
        purchases = stream.filter(F.col("event_type") == "purchase")
        joined = click_purchase_full_join(clicks, purchases)
        return _detach(
            run_available_now(joined, name, ckpt, mode="append"), name
        )
    finally:
        _cleanup(ckpt)


_SKLL_K = 64  # per-window survivor budget
_SKLL_HMIN = 2  # height floor: the stream collects survivors at tz >= 2


@register(
    "stream_kll_quantiles",
    oracle=f"""
    WITH raw AS (
        SELECT date_trunc('day', ts) AS w,
               CAST(round(value * 1000) AS BIGINT) AS v,
               event_id AS id,
               CAST(('0x' || substr(
                   md5(CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
        FROM events WHERE value IS NOT NULL
    ), lv AS (
        SELECT w, v, id, least(bit_count((h & -h) - 1), 48) AS tz FROM raw
    ), hist AS (
        SELECT w, tz, count(*) AS c FROM lv GROUP BY w, tz
    ), surv AS (
        SELECT w, tz, sum(c) OVER (PARTITION BY w ORDER BY tz DESC) AS s
        FROM hist
    ), hh AS (
        SELECT w, min(tz) AS hlev FROM surv
        WHERE tz >= {_SKLL_HMIN} AND s <= {_SKLL_K} GROUP BY w
    ), kept AS (
        SELECT lv.w, lv.v, lv.id, hh.hlev
        FROM lv JOIN hh ON lv.w = hh.w
        WHERE lv.tz >= hh.hlev
    ), ranked AS (
        SELECT w, hlev, v,
               row_number() OVER (PARTITION BY w ORDER BY v, id) AS rn,
               count(*) OVER (PARTITION BY w) AS m
        FROM kept
    ), pick AS (
        SELECT w, hlev, m, v FROM ranked WHERE rn = (m + 1) // 2
    ), ex AS (
        SELECT w, n, v FROM (
            SELECT w, v,
                   row_number() OVER (PARTITION BY w ORDER BY v, id) AS rn,
                   count(*) OVER (PARTITION BY w) AS n
            FROM lv)
        WHERE rn = (n + 1) // 2
    )
    SELECT ex.w AS window_start, ex.n AS n_events, pick.hlev AS h_level,
           pick.m AS n_kept, pick.v AS est_p50_milli, ex.v AS exact_p50_milli
    FROM ex JOIN pick ON ex.w = pick.w
    ORDER BY window_start
    """,
)
def stream_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KLL sampler INSIDE the stream — mergeability IS
    streamability: per-day windowed state is <= 49 (tz, count) rows
    plus the collect_list of survivors at the height floor tz >= 2,
    maintained by the streaming engine as one windowed aggregate and
    evicted by the watermark. The floor is a STATE-vs-MONOTONICITY
    trade, stated honestly: survivors at tz >= 2 are an expected ~25%
    of each window's events, so state is O(n/4) per window — not
    O(k) like the batch compactor — in exchange for the supersetting
    guarantee below; raising the floor adaptively would shrink state
    but break merge monotonicity. The sketch definition's HEIGHT FLOOR
    (H = smallest level >= 2 with <= k survivors) so the
    collected survivor set provably supersets the final kept set —
    the same monotonicity the batch merge test relies on; the oracle
    restates the floored definition identically, so parity stays
    exact. Readout (height pick, ceil-rank median) runs as the batch
    post-step, like ``stream_hourly_hll_users``'s harmonic estimate;
    the exact per-window median rides along for the census.

    collect_list's arrival order is micro-batch-dependent — the
    downstream rank orders by (v, id), so the emitted result is
    order-free (the reason the sketch can live in a shuffle-free
    streaming agg at all).

    Reference basis: §2.9 streaming surface x §2.4 approx-aggregate
    note — the r7 rank sketch under stream execution (companions:
    ``stream_hourly_hll_users``, ``kll_quantile_census``)."""
    from pyspark.sql.window import Window

    from mapreduce511_spark.queries.sketches import _hex_long

    src = _shared_events_src(spark, sf_dir)
    ckpt, name = _scratch_ckpt("kllstream")
    try:
        stream = stream_events(spark, src, max_files_per_trigger=4)
        lv = (
            stream.filter(F.col("value").isNotNull())
            .select(
                "ts",
                F.round(F.col("value") * 1000).cast("long").alias("v"),
                F.col("event_id").alias("id"),
                _hex_long(
                    F.md5(F.col("event_id").cast("string")), 1, 12
                ).alias("h"),
            )
            .select(
                "ts",
                "v",
                "id",
                F.expr("least(bit_count((h & -h) - 1), 48)")
                .cast("int")
                .alias("tz"),
            )
        )
        windowed = (
            lv.withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day").alias("w"), "tz")
            .agg(
                F.count("*").alias("c"),
                F.collect_list(
                    F.when(F.col("tz") >= _SKLL_HMIN, F.struct("v", "id"))
                ).alias("surv"),
            )
            .select(F.col("w.start").alias("window_start"), "tz", "c", "surv")
        )
        state = _detach(run_available_now(windowed, name, ckpt), name)
        state = state.localCheckpoint(eager=True)  # 2 consumers below
        w_sfx = Window.partitionBy("window_start").orderBy(
            F.desc("tz")
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        surv_cnt = state.withColumn("s", F.sum("c").over(w_sfx))
        hh = (
            surv_cnt.filter(
                (F.col("tz") >= _SKLL_HMIN) & (F.col("s") <= _SKLL_K)
            )
            .groupBy("window_start")
            .agg(F.min("tz").alias("hlev"))
        )
        kept = (
            state.join(hh, "window_start")
            .filter(F.col("tz") >= F.col("hlev"))
            .select("window_start", "hlev", F.explode("surv").alias("p"))
            .select(
                "window_start",
                "hlev",
                F.col("p.v").alias("v"),
                F.col("p.id").alias("id"),
            )
        )
        w_rank = Window.partitionBy("window_start").orderBy("v", "id")
        ranked = kept.select(
            "window_start",
            "hlev",
            "v",
            F.row_number().over(w_rank).alias("rn"),
            F.count("*").over(Window.partitionBy("window_start")).alias("m"),
        )
        pick = ranked.filter(F.col("rn") == F.expr("(m + 1) div 2")).select(
            "window_start",
            F.col("hlev").alias("h_level"),
            F.col("m").alias("n_kept"),
            F.col("v").alias("est_p50_milli"),
        )
        ev = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select(
                F.date_trunc("day", F.col("ts")).alias("window_start"),
                F.round(F.col("value") * 1000).cast("long").alias("v"),
                F.col("event_id").alias("id"),
            )
        )
        w_ex = Window.partitionBy("window_start").orderBy("v", "id")
        exact = (
            ev.select(
                "window_start",
                "v",
                F.row_number().over(w_ex).alias("rn"),
                F.count("*")
                .over(Window.partitionBy("window_start"))
                .alias("n"),
            )
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select(
                "window_start",
                F.col("n").alias("n_events"),
                F.col("v").alias("exact_p50_milli"),
            )
        )
        return (
            exact.join(pick, "window_start")
            .select(
                "window_start",
                "n_events",
                "h_level",
                "n_kept",
                "est_p50_milli",
                "exact_p50_milli",
            )
            .orderBy("window_start")
        )
    finally:
        _cleanup(ckpt)


@register(
    "stream_ingest_pipeline",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS tokens,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 10 AS b
        FROM documents
    ), ev AS (
        SELECT DISTINCT array_to_string(tokens[i : i + 7], ' ') AS g
        FROM (
            SELECT tokens, unnest(range(1, len(tokens) - 6)) AS i
            FROM fp WHERE b = 0 AND len(tokens) >= 8
        )
    ), idx AS (
        SELECT DISTINCT f FROM fp WHERE b <> 0 AND doc_id % 3 = 0
    ), stream AS (
        SELECT * FROM fp WHERE b <> 0 AND doc_id % 3 <> 0
    ), qual AS (
        SELECT * FROM stream
        WHERE len(tokens) >= 20
          AND list_sum(list_transform(tokens, t -> len(t)))
              <= 10 * len(tokens)
    ), novel AS (
        SELECT q.* FROM qual q
        WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.f = q.f)
    ), cand AS (
        SELECT f, any_value(tokens) AS tokens FROM novel GROUP BY f
    ), cgrams AS (
        SELECT f, array_to_string(tokens[i : i + 7], ' ') AS g
        FROM (
            SELECT f, tokens, unnest(range(1, len(tokens) - 6)) AS i
            FROM cand WHERE len(tokens) >= 8
        )
    ), contaminated AS (
        SELECT DISTINCT f FROM cgrams WHERE g IN (SELECT g FROM ev)
    )
    SELECT (SELECT count(*) FROM stream) AS n_stream,
           (SELECT count(*) FROM stream) - (SELECT count(*) FROM qual)
               AS rejected_quality,
           (SELECT count(*) FROM qual) - (SELECT count(*) FROM novel)
               AS rejected_known,
           (SELECT count(*) FROM novel) - (SELECT count(*) FROM cand)
               AS rejected_within_stream,
           (SELECT count(*) FROM contaminated) AS rejected_contaminated,
           (SELECT count(*) FROM cand) - (SELECT count(*) FROM contaminated)
               AS admitted
    """,
)
def stream_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END STREAMING INGEST (r8, r7 VERDICT item 9) — the
    production arrival path as one availableNow pipeline, composing
    the three hygiene gates this engine ships as separate queries:
    (1) QUALITY gate (Gopher-style integer rules: >= 20 tokens, mean
    token length <= 10 via cross-multiplication — map-only), (2)
    DEDUP ADMISSION (stream-static left-anti join against the
    STANDING corpus fingerprint index, then ``dropDuplicates`` on the
    fingerprint for within-stream arrivals — the
    ``stream_dedup_admission`` recipe), (3) DECONTAMINATION against
    the STATIC eval split (the ``decontamination_census`` asymmetric
    8-gram screen, run per micro-batch as a stream-static semi-join).

    Two real micro-batch hops, bronze -> silver: hop 1 drains the
    quality+dedup funnel into a parquet STAGING sink (the exactly-
    once file sink real ingests land in); hop 2 STREAMS THE STAGING
    DIR (file-source over the sink's own metadata log), explodes
    normalized 8-grams, semi-joins the eval gram set and emits the
    contaminated fingerprints. Grams are over NORMALIZED (lowercased)
    tokens so the verdict is provably winner-invariant across
    micro-batch splits (duplicate fingerprints share normalized
    text by construction). The census reports the funnel:
    arrivals, quality rejects, known-corpus rejects, within-stream
    dup rejects, contamination rejects, admitted.

    At 100 TB: the quality gate is map-only; the standing index is a
    bucketed fingerprint table (zero corpus-side shuffle per batch);
    dropDuplicates state is one digest per admitted doc
    (RocksDB-backed); the eval gram set is benchmark-sized and
    BROADCASTS into every micro-batch — nothing in the pipeline
    shuffles the arriving corpus beyond its own batch.

    Reference basis: extension tier — §2.9 streaming x LLM-pipeline
    hygiene composed (companions: ``stream_dedup_admission``,
    ``decontamination_census``, ``quality_filter_census``)."""
    from mapreduce511_spark.functions.text import (
        normalize_text,
        tokenize,
        word_ngrams,
    )
    from mapreduce511_spark.operators.dedup import hash60

    docs = load_table(spark, sf_dir, "documents")
    b = (hash60(F.col("doc_id").cast("string")) % 10).alias("b")

    def _standing():
        sbase = tempfile.mkdtemp(prefix="mr511_ingest_standing_")
        s = f"{sbase}/src"
        toks_norm = tokenize(F.lower(F.col("text")))
        ev = (
            docs.select(b, toks_norm.alias("toks"))
            .filter((F.col("b") == 0) & (F.size("toks") >= 8))
            .select(F.explode(word_ngrams(F.col("toks"), 8)).alias("g"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        fp_all = docs.select(
            "doc_id", F.md5(normalize_text("text")).alias("f"), b
        )
        i = (
            fp_all.filter((F.col("b") != 0) & (F.col("doc_id") % 3 == 0))
            .select("f")
            .distinct()
            .localCheckpoint(eager=True)
        )
        sd = docs.withColumn("_b", b).filter(
            (F.col("_b") != 0) & (F.col("doc_id") % 3 != 0)
        ).drop("_b")
        n = sd.count()
        sd.repartition(4).write.mode("overwrite").parquet(s)
        # batch-side funnel arithmetic (winner-invariant counts): a
        # deterministic function of the standing corpus, computed once
        qual_b = (
            sd.select(
                F.md5(normalize_text("text")).alias("f"),
                tokenize(F.lower(F.col("text"))).alias("toks"),
            )
            .withColumn("n_tok", F.size("toks"))
            .withColumn(
                "sum_len",
                F.aggregate(
                    "toks",
                    F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x),
                ),
            )
            .filter(
                (F.col("n_tok") >= 20)
                & (F.col("sum_len") <= 10 * F.col("n_tok"))
            )
        )
        nq = qual_b.count()
        nn = qual_b.join(i, "f", "left_anti").count()
        return s, ev, i, n, nq, nn

    src, ev_grams, idx, n_stream, n_qual, n_novel = _session_standing(
        spark, sf_dir, "ingest", _standing
    )
    ckpt, name = _scratch_ckpt("ingest")
    base = str(Path(ckpt).parent)
    staging, ckpt2 = f"{base}/staging", f"{base}/ckpt2"
    # Size the streaming state to the workload: the stateful
    # dropDuplicates otherwise instantiates |shuffle.partitions| state
    # stores PER MICRO-BATCH (32 on the bench session) for a
    # batch-sized key set — a real deployment sizes state partitions
    # to load, and both checkpoints here are fresh per invocation so
    # the partition count is free to choose. Session-global for the
    # pipeline's duration (no per-query knob exists); single-threaded
    # session assumed — see streaming.run_available_now's docstring.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # ---- hop 1: quality gate + dedup admission -> parquet staging
        reader = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        s = (
            reader.select(
                "doc_id",
                F.md5(normalize_text("text")).alias("f"),
                tokenize(F.lower(F.col("text"))).alias("toks"),
            )
            .withColumn("n_tok", F.size("toks"))
            .withColumn(
                "sum_len",
                F.aggregate(
                    "toks",
                    F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x),
                ),
            )
        )
        qual = s.filter(
            (F.col("n_tok") >= 20)
            & (F.col("sum_len") <= 10 * F.col("n_tok"))
        )
        novel = qual.join(idx, "f", "left_anti")
        # coalesce(1) per micro-batch: the admitted slice of a batch is
        # small; without it every batch lands |shuffle.partitions| tiny
        # files and hop 2 degenerates into ~100 micro-batches
        cand = (
            novel.dropDuplicates(["f"])
            .select("doc_id", "f", "toks")
            .coalesce(1)
        )
        (
            cand.writeStream.format("parquet")
            .option("path", staging)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

        # ---- hop 2: stream the staging sink, decontaminate per batch
        staged = spark.read.parquet(staging)
        n_cand = staged.count()
        # 2 files/trigger: hop 1 emits one coalesced file per batch, so
        # this still exercises multiple hop-2 micro-batches while
        # halving the trigger machinery (the suite's #3 steady line)
        reader2 = (
            spark.readStream.schema(staged.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(staging)
        )
        cont = (
            reader2.select(
                "f", F.explode(word_ngrams(F.col("toks"), 8)).alias("g")
            )
            .join(ev_grams, "g", "left_semi")
            .dropDuplicates(["f"])
            .select("f")
        )
        drained = run_available_now(cont, name, ckpt2, mode="append")
        n_cont = drained.count()
        spark.catalog.dropTempView(name)

        return spark.range(1).select(
            F.lit(n_stream).cast("long").alias("n_stream"),
            F.lit(n_stream - n_qual).cast("long").alias("rejected_quality"),
            F.lit(n_qual - n_novel).cast("long").alias("rejected_known"),
            F.lit(n_novel - n_cand)
            .cast("long")
            .alias("rejected_within_stream"),
            F.lit(n_cont).cast("long").alias("rejected_contaminated"),
            F.lit(n_cand - n_cont).cast("long").alias("admitted"),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        _cleanup(ckpt)


def _stream_admission_oracle() -> str:
    from mapreduce511_spark.queries.similarity import ADMISSION_CENSUS_ORACLE

    return ADMISSION_CENSUS_ORACLE


def ensure_stream_admitted_lloyd_index(emb: DataFrame) -> tuple[str, list]:
    """Build the stream-admitted Lloyd artifact once per content
    fingerprint: train on the base slice, write it at
    ``ingest_batch=-1``, then foreachBatch-admit the arriving slice
    (see ``stream_ann_admission_census`` for the full story).
    Returns (path, cent_rows)."""
    import shutil

    from mapreduce511_spark.operators.ann import (
        _INDEX_CACHE,
        _cache_key,
        _index_path,
        artifact_source,
        legacy_source,
        load_model_sidecar,
        retain_latest_artifact,
        write_model_sidecar,
    )
    from mapreduce511_spark.queries.similarity import (
        _LLOYD_ITERS,
        _LLOYD_K,
        _lloyd_assign,
        _lloyd_centroids,
    )

    spark = emb.sparkSession
    key = _cache_key(emb, "lloyd_stream_admitted", _LLOYD_K, _LLOYD_ITERS)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    # per-batch partition dirs carry their own commit markers; the
    # sidecar (written after the drain) is the artifact-complete mark
    done_path = _index_path(spark, key, "lloyd_stream")
    model = load_model_sidecar(done_path, require_success=False)
    if model is not None:
        cent_rows = [(int(c), v) for c, v in model["cent_rows"]]
        _INDEX_CACHE[key] = (done_path, cent_rows)
        return _INDEX_CACHE[key]
    src, ckpt, _name = _scratch("annadmit")
    try:
        e = emb.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
        )
        base = e.filter(F.col("vec_id") % 10 != 0)
        arriving = e.filter(F.col("vec_id") % 10 == 0)
        cent = _lloyd_centroids(base)
        cent_rows = [
            (int(r.cell), [float(x) for x in r.cv]) for r in cent.collect()
        ]
        cent_df = spark.createDataFrame(cent_rows, ["cell", "cv"])
        path = _index_path(spark, key, "lloyd_stream")
        shutil.rmtree(path, ignore_errors=True)  # torn prior build
        (
            _lloyd_assign(base, cent_df)
            .select("vec_id", "v", "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(f"{path}/ingest_batch=-1")
        )
        arriving.repartition(4).write.mode("overwrite").parquet(src)
        reader = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def admit(batch_df: DataFrame, batch_id: int) -> None:
            (
                _lloyd_assign(batch_df.select("vec_id", "v"), cent_df)
                .select("vec_id", "v", "cell")
                .coalesce(1)
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(f"{path}/ingest_batch={batch_id}")
            )

        (
            reader.writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        origin = artifact_source(emb, key)
        write_model_sidecar(
            path, {"cent_rows": cent_rows, "source": origin}
        )
        retain_latest_artifact(path, origin, legacy_source(emb))
        _INDEX_CACHE[key] = (path, cent_rows)
        return path, cent_rows
    finally:
        _cleanup(src)


@register("stream_ann_admission_census", oracle=_stream_admission_oracle())
def stream_ann_admission_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN-index admission (r8) — the streaming twin of
    ``ann_admission_census`` and the completion of the incremental
    index story: the arriving slice (vec_id % 10 == 0) lands as
    file-source MICRO-BATCHES, and each batch is admitted into the
    cell-partitioned artifact by a ``foreachBatch`` sink that assigns
    against the FROZEN base-trained centroids and writes the batch's
    assignment under its own ``ingest_batch=<id>`` partition dir with
    mode=overwrite — so a redelivered batchId (failure between write
    and checkpoint advance) REPLACES its own output instead of
    double-admitting: exactly-once admission on top of Structured
    Streaming's at-least-once batch redelivery, the
    ``exactly_once_parquet_sink`` discipline applied to index
    maintenance. Because assignment is per-row against frozen
    centroids, the final artifact is row-identical to the one-shot
    batch admission HOWEVER the files split into micro-batches
    (asserted against ``_ensure_admitted_lloyd_index``'s artifact in
    tests/test_ann.py), which is why the SAME exact DuckDB oracle
    gates both censuses.

    Build-once: the artifact is keyed by the corpus content
    fingerprint, so the first invocation pays train + stream-admit
    and the steady query is one partition-layout-aware census scan —
    the ``ann_admission_census`` cost model.

    At 100 TB: this IS the daily ingest motion — each arriving batch
    costs one map-only assignment scan + an append-sized write; the
    `ingest_batch` partition level doubles as the retention/rollback
    unit (drop a day = drop its dirs)."""
    from mapreduce511_spark.sources.tables import read_parquet_checked

    emb = load_table(spark, sf_dir, "embeddings")
    path, _ = ensure_stream_admitted_lloyd_index(emb)
    af = read_parquet_checked(spark, path)
    return (
        af.groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(
            F.count(F.when(F.col("vec_id") % 10 != 0, 1)).alias("n_base"),
            F.count(F.when(F.col("vec_id") % 10 == 0, 1)).alias("n_admitted"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("cell")
    )


@register("ann_index_compaction_census", oracle=_stream_admission_oracle())
def ann_index_compaction_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX COMPACTION (r8) — the third leg of the lifecycle the
    admission family creates: build -> admit -> COMPACT. Streaming
    admission's per-batch ``ingest_batch=<id>`` dirs are exactly the
    small-files problem every real ingest accumulates (at 100 TB,
    thousands of tiny appended files per day degrade scan planning
    and open-cost); this query rewrites the stream-admitted artifact
    through ``operators/maintenance.py::compact_parquet`` into
    target-sized files partitioned by cell only (the per-batch
    provenance collapses into a regular ``ingest_batch`` column, so
    retention info survives compaction as data). Content is
    preserved row-for-row — which is why the SAME exact oracle that
    gates both admission censuses gates this one: a hash-green row
    proves compaction moved bytes, not meaning. File-count reduction
    and row equality vs the uncompacted artifact are asserted in
    tests/test_ann.py.

    Build-once: compaction runs once per content-fingerprinted
    snapshot (the real cadence — nightly OPTIMIZE after a day of
    admissions); the steady query is one census scan of the
    compacted layout. The driver-local dir swap stands in for a
    table-format commit (Iceberg/Delta rewrite), noted honestly."""
    from mapreduce511_spark.operators.ann import (
        _INDEX_CACHE,
        _cache_key,
        _index_path,
    )
    from mapreduce511_spark.operators.maintenance import compact_parquet
    from mapreduce511_spark.queries.similarity import _LLOYD_ITERS, _LLOYD_K
    from mapreduce511_spark.sources.tables import read_parquet_checked

    emb = load_table(spark, sf_dir, "embeddings")
    key = _cache_key(emb, "lloyd_compacted", _LLOYD_K, _LLOYD_ITERS)
    if key not in _INDEX_CACHE:
        from mapreduce511_spark.operators.ann import (
            artifact_source,
            legacy_source,
            load_model_sidecar,
            retain_latest_artifact,
            write_model_sidecar,
        )

        cpath = _index_path(spark, key, "lloyd_compact")
        model = load_model_sidecar(cpath)
        if model is not None:
            _INDEX_CACHE[key] = (cpath, [(int(c), v) for c, v in model["cent_rows"]])
        else:
            spath, cent_rows = ensure_stream_admitted_lloyd_index(emb)
            compact_parquet(spark, spath, cpath, partition_by=["cell"])
            origin = artifact_source(emb, key)
            write_model_sidecar(
                cpath, {"cent_rows": cent_rows, "source": origin}
            )
            retain_latest_artifact(cpath, origin, legacy_source(emb))
            _INDEX_CACHE[key] = (cpath, cent_rows)
    cpath, _ = _INDEX_CACHE[key]
    af = read_parquet_checked(spark, cpath)
    return (
        af.groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(
            F.count(F.when(F.col("vec_id") % 10 != 0, 1)).alias("n_base"),
            F.count(F.when(F.col("vec_id") % 10 == 0, 1)).alias("n_admitted"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Streaming DSIR admission — importance-weighted ingest gate
# ---------------------------------------------------------------------------

_SDSIR_TOKENS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


@register(
    "stream_dsir_admission",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, {_SDSIR_TOKENS} AS tokens FROM documents
    ), roles AS (
        SELECT doc_id, source, tokens,
               CASE WHEN source IN ('src0', 'src1') THEN 'p'
                    WHEN doc_id % 3 = 0 THEN 'q' ELSE 's' END AS role
        FROM toks
    ), grams AS (
        SELECT doc_id, role,
               unnest(list_concat(tokens,
                   list_transform(range(1, len(tokens)),
                       i -> list_extract(tokens, i) || ' '
                            || list_extract(tokens, i + 1)))) AS g
        FROM roles
    ), hashed AS (
        SELECT doc_id, role,
               CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 512 AS bkt
        FROM grams
    ), bstats AS (
        SELECT bkt,
               CAST(sum(CASE WHEN role = 'p' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cp,
               CAST(sum(CASE WHEN role = 'q' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cq
        FROM hashed WHERE role IN ('p', 'q') GROUP BY bkt
    ), tot AS (
        SELECT CAST(sum(cp) AS BIGINT) AS np,
               CAST(sum(cq) AS BIGINT) AS nq
        FROM bstats
    ), lr AS (
        SELECT bkt,
               CAST(floor(1000000 * ln(((cp + 1.0) * (nq + 512))
                    / ((cq + 1.0) * (np + 512)))) AS BIGINT) AS lr_micro
        FROM bstats CROSS JOIN tot
    ), dflt AS (
        SELECT CAST(floor(1000000 * ln((1.0 * (nq + 512))
                    / (1.0 * (np + 512)))) AS BIGINT) AS d
        FROM tot
    ), w AS (
        SELECT h.doc_id,
               CAST(sum(COALESCE(l.lr_micro, dflt.d)) AS BIGINT) AS logw
        FROM hashed h LEFT JOIN lr l USING (bkt) CROSS JOIN dflt
        WHERE h.role = 's' GROUP BY h.doc_id
    )
    SELECT r.source,
           count(*) AS n_arrived,
           CAST(sum(CASE WHEN COALESCE(w.logw, 0) >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted,
           CAST(sum(COALESCE(w.logw, 0)) AS BIGINT) AS sum_logw_micro
    FROM roles r LEFT JOIN w USING (doc_id)
    WHERE r.role = 's'
    GROUP BY r.source
    """,
)
def stream_dsir_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR AS AN INGEST GATE — ``dsir_importance_resample``'s hashed
    n-gram importance weight applied the way a production pipeline
    actually deploys it: scoring every ARRIVING document in the
    stream and admitting those that look more target-like than the
    standing corpus (log w >= 0). The target multinomial p comes from
    the static target-domain sample (sources src0+src1); the raw
    reference q from the STANDING corpus slice (doc_id % 3 == 0, the
    same 'nightly build' role the ANN admission family uses); the
    stream is everything else, arriving as file-source micro-batches.

    The 100 TB shape is the point: the 512-bucket log-ratio table is
    built ONCE batch-side, collapses to a 512-integer LITERAL MAP in
    the plan (a driver-sized scoring model, exactly like shipping a
    quality-classifier weight vector), and each arriving document
    scores as a STATELESS per-row array fold —
    aggregate(transform(grams, g -> lr[h(g)])) — so the gate adds
    ZERO streaming state and no per-batch shuffle of the corpus;
    the only stateful operator is the tiny per-source funnel census.
    Batch-split invariance is by construction (per-row score,
    commutative aggregate); the oracle restates the whole pipeline —
    training counts, smoothing, unseen-bucket default, gate, funnel
    — in SQL. Per-bucket log-ratios floor to integer micro-nats from
    exact integer counts, computed once driver-side (CPython and
    DuckDB share libm), summed order-independently.

    Reference basis: extension tier — §2.9 streaming x LLM-pipeline
    sampling composed (companions: ``dsir_importance_resample``,
    ``stream_ingest_pipeline``)."""
    import math

    from mapreduce511_spark.functions.text import tokenize, word_ngrams
    from mapreduce511_spark.operators.dedup import hash60
    from mapreduce511_spark.queries.text import _DSIR_B, _DSIR_TARGET

    docs = load_table(spark, sf_dir, "documents")
    role = (
        F.when(F.col("source").isin(*_DSIR_TARGET), "p")
        .when(F.col("doc_id") % 3 == 0, "q")
        .otherwise("s")
    )

    def _standing():
        base = tempfile.mkdtemp(prefix="mr511_sdsir_standing_")
        s = f"{base}/src"
        toks = docs.select(
            "doc_id", "source", tokenize("text").alias("toks")
        )
        static = toks.withColumn("role", role).filter(F.col("role") != "s")
        rows = (
            static.select(
                "role",
                F.explode(
                    F.concat(F.col("toks"), word_ngrams(F.col("toks"), 2))
                ).alias("g"),
            )
            .groupBy((hash60(F.col("g")) % _DSIR_B).alias("bkt"))
            .agg(
                F.sum(F.when(F.col("role") == "p", 1).otherwise(0)).alias(
                    "cp"
                ),
                F.sum(F.when(F.col("role") == "q", 1).otherwise(0)).alias(
                    "cq"
                ),
            )
            .collect()  # <= 512 rows: the scoring model is driver-sized
        )
        stream_slice = docs.withColumn("_r", role).filter(
            F.col("_r") == "s"
        ).drop("_r")
        stream_slice.repartition(4).write.mode("overwrite").parquet(s)
        return s, rows

    src, bstats = _session_standing(spark, sf_dir, "sdsir", _standing)
    ckpt, name = _scratch_ckpt("sdsir")
    try:
        np_ = sum(r.cp for r in bstats)
        nq = sum(r.cq for r in bstats)

        def lr(cp: int, cq: int) -> int:
            return math.floor(
                1_000_000
                * math.log(
                    ((cp + 1.0) * (nq + _DSIR_B))
                    / ((cq + 1.0) * (np_ + _DSIR_B))
                )
            )

        default_lr = lr(0, 0)
        pairs: list = []
        for r in bstats:
            pairs.append(F.lit(int(r.bkt)))
            pairs.append(F.lit(lr(int(r.cp), int(r.cq))))
        lr_map = F.create_map(*pairs)

        reader = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
        )
        t = tokenize("text")
        grams = F.concat(t, word_ngrams(t, 2))
        # per-row stateless score: fold the gram array through the
        # literal scoring map (unseen bucket -> smoothed default)
        logw = F.aggregate(
            F.transform(
                grams,
                lambda g: F.coalesce(
                    F.element_at(lr_map, (hash60(g) % _DSIR_B).cast("int")),
                    F.lit(default_lr),
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = reader.select(
            "source", logw.alias("logw")
        )
        census = scored.groupBy("source").agg(
            F.count("*").alias("n_arrived"),
            F.sum(F.when(F.col("logw") >= 0, 1).otherwise(0))
            .cast("long")
            .alias("n_admitted"),
            F.sum("logw").cast("long").alias("sum_logw_micro"),
        )
        return _detach(run_available_now(census, name, ckpt), name)
    finally:
        _cleanup(ckpt)


def _dhash_closed_form_cte() -> str:
    """The image_dhash fixture's hash derivation as a reusable oracle
    CTE chain ending in h(doc_id, h_lo, h_hi) — the SAME closed form
    `queries/multimodal.py::image_dhash_near_dup` embeds."""
    from mapreduce511_spark.multimodal import (
        DHASH_CLASS,
        DHASH_MIX,
        SYNTH_DOC_LIMIT,
    )

    return f"""
    img AS (
        SELECT doc_id, doc_id // {DHASH_CLASS} AS base,
               doc_id % {DHASH_CLASS} AS v
        FROM documents WHERE doc_id < {SYNTH_DOC_LIMIT}
    ), grid AS (
        SELECT doc_id, base, v, cx.g AS cx, cy.g AS cy
        FROM img,
             (SELECT unnest(generate_series(0, 8)) AS g) cx,
             (SELECT unnest(generate_series(0, 7)) AS g) cy
    ), cells AS (
        SELECT doc_id, cx, cy,
               CASE WHEN v > 0 AND cx = v AND cy < v
                    THEN (((base + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}
                           + base * (cx * cx + 3 * cy * cy)) % 256 + 128)
                         % 256
                    ELSE ((base + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}
                          + base * (cx * cx + 3 * cy * cy)) % 256
               END AS c
        FROM grid
    ), bits AS (
        SELECT a.doc_id, a.cy, a.cx,
               CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b
          ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
        WHERE a.cx < 8
    ), h AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN cy < 4
                    THEN bit * (CAST(1 AS BIGINT) << (cy * 8 + cx))
                    ELSE 0 END) AS BIGINT) AS h_lo,
               CAST(sum(CASE WHEN cy >= 4
                    THEN bit * (CAST(1 AS BIGINT) << ((cy - 4) * 8 + cx))
                    ELSE 0 END) AS BIGINT) AS h_hi
        FROM bits GROUP BY doc_id
    )"""


def _image_admission_oracle() -> str:
    from mapreduce511_spark.multimodal import DHASH_CLASS, DHASH_T

    return f"""
    WITH {_dhash_closed_form_cte()},
    idx AS (
        SELECT h_lo, h_hi FROM h WHERE doc_id % {DHASH_CLASS} = 0
    ), stream AS (
        SELECT doc_id, h_lo, h_hi FROM h
        WHERE doc_id % {DHASH_CLASS} <> 0
    ), flags AS (
        SELECT s.doc_id,
               max(CASE WHEN bit_count(xor(s.h_lo, i.h_lo))
                           + bit_count(xor(s.h_hi, i.h_hi)) <= {DHASH_T}
                        THEN 1 ELSE 0 END) AS dup
        FROM stream s, idx i
        GROUP BY s.doc_id
    )
    SELECT count(*) AS n_stream,
           CAST(sum(dup) AS BIGINT) AS rejected_near_dup,
           CAST(count(*) - sum(dup) AS BIGINT) AS admitted
    FROM flags
    """


@register("stream_image_dhash_admission", oracle=_image_admission_oracle())
def stream_image_dhash_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING PERCEPTUAL-HASH image admission (r9) — the multimodal
    ingest gate: image assets arrive as file-source micro-batches,
    each batch is decoded + dHashed where the bytes live (the same
    Arrow extractors as ``image_dhash_near_dup``), and an arriving
    image is REJECTED when it is a near-duplicate (Hamming <=
    DHASH_T) of the STANDING index (the class-base images, a static
    relation). The per-batch gate is the banded equi-join + bounded
    Hamming verify — pigeonhole-EXACT at t=3, so the gate equals the
    brute-force rule the oracle states — and admitted rows land in
    per-batch partition dirs via foreachBatch (idempotent overwrite
    per batch id = exactly-once, the ``stream_ann_admission_census``
    sink discipline). The funnel is fully deterministic (the verdict
    for each image depends only on the static index, not on batch
    splits or winners), so the drained census must equal the batch
    SQL exactly.

    At 100 TB: the standing index is a bucketed (band, val) table —
    each micro-batch shuffles only its own bands; the verify is
    candidate-bounded; state is ZERO (stream-static gate; the sink
    carries the admissions). Hot bands (logo cards, solid frames)
    df-cap exactly like hot shingles.

    Reference basis: extension tier — streaming x multimodal x dedup
    composed (SURVEY.md §2.9 / extensions)."""
    from mapreduce511_spark.multimodal import (
        DHASH_CLASS,
        DHASH_T,
        SYNTH_DOC_LIMIT,
        extract_dhash,
        synth_dhash_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SYNTH_DOC_LIMIT
    )

    from mapreduce511_spark.multimodal import fingerprint_bands

    def bands(hashes: DataFrame) -> DataFrame:
        return fingerprint_bands(hashes, keep_hash=True)

    def _standing():
        base = tempfile.mkdtemp(prefix="mr511_imgadmit_standing_")
        s = f"{base}/src"
        idx_hashes = extract_dhash(
            synth_dhash_media(docs.filter(F.col("doc_id") % DHASH_CLASS == 0))
        )
        ib = bands(idx_hashes).select(
            F.col("band").alias("iband"),
            F.col("val").alias("ival"),
            F.col("h_lo").alias("i_lo"),
            F.col("h_hi").alias("i_hi"),
        ).localCheckpoint(eager=True)
        arriving = docs.filter(F.col("doc_id") % DHASH_CLASS != 0)
        n = arriving.count()
        arriving.repartition(4).write.mode("overwrite").parquet(s)
        return s, ib, n

    src, idx_bands, n_stream = _session_standing(
        spark, sf_dir, "imgadmit", _standing
    )
    ckpt, name = _scratch_ckpt("imgadmit")
    staging = f"{Path(ckpt).parent}/admitted"
    try:
        reader = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def admit(batch_df: DataFrame, batch_id: int) -> None:
            hashes = extract_dhash(synth_dhash_media(batch_df))
            cand = bands(hashes).join(
                idx_bands,
                (F.col("band") == F.col("iband"))
                & (F.col("val") == F.col("ival")),
            )
            hamming = (
                F.bit_count(F.col("h_lo").bitwiseXOR(F.col("i_lo")))
                + F.bit_count(F.col("h_hi").bitwiseXOR(F.col("i_hi")))
            )
            rejected = (
                cand.filter(hamming <= DHASH_T)
                .select("doc_id")
                .distinct()
            )
            (
                hashes.join(rejected, "doc_id", "left_anti")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{staging}/ingest_batch={batch_id}")
            )

        (
            reader.writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        admitted = spark.read.parquet(staging)
        out = admitted.agg(
            F.countDistinct("doc_id").alias("n_admitted")
        ).select(
            F.lit(n_stream).cast("long").alias("n_stream"),
            (F.lit(n_stream) - F.col("n_admitted"))
            .cast("long")
            .alias("rejected_near_dup"),
            F.col("n_admitted").cast("long").alias("admitted"),
        )
        return _detach(out, name)
    finally:
        _cleanup(ckpt)


def _audio_admission_oracle() -> str:
    from mapreduce511_spark.multimodal import (
        AFP_CLASS,
        AFP_MIX,
        AFP_T,
        AFP_WIN_LEN,
        AFP_WINDOWS,
        SYNTH_DOC_LIMIT,
    )

    return f"""
    WITH aud AS (
        SELECT doc_id, doc_id // {AFP_CLASS} AS base,
               doc_id % {AFP_CLASS} AS v
        FROM documents WHERE doc_id < {SYNTH_DOC_LIMIT}
    ), win AS (
        SELECT doc_id, base, v, ws.g AS w
        FROM aud, (SELECT unnest(generate_series(0, {AFP_WINDOWS - 1})) AS g) ws
    ), amp AS (
        SELECT doc_id, w,
               CASE WHEN (v = 2 AND w IN (2, 19))
                      OR (v = 3 AND w IN (3, 20, 37))
                    THEN (((base + 1) * (w + 1) * {AFP_MIX}
                           + base * w * w) % 256 + 128) % 256
                    ELSE ((base + 1) * (w + 1) * {AFP_MIX}
                          + base * w * w) % 256
               END
               * (CASE v WHEN 1 THEN 3 WHEN 3 THEN 2 ELSE 1 END)
               * {AFP_WIN_LEN - 1} AS e
        FROM win
    ), bits AS (
        SELECT x.doc_id, x.w AS b,
               CASE WHEN y.e > x.e THEN 1 ELSE 0 END AS bit
        FROM amp x JOIN amp y
          ON x.doc_id = y.doc_id AND y.w = x.w + 1
        WHERE x.w < 64
    ), h AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN b < 32
                    THEN bit * (CAST(1 AS BIGINT) << b)
                    ELSE 0 END) AS BIGINT) AS h_lo,
               CAST(sum(CASE WHEN b >= 32
                    THEN bit * (CAST(1 AS BIGINT) << (b - 32))
                    ELSE 0 END) AS BIGINT) AS h_hi
        FROM bits GROUP BY doc_id
    ), idx AS (
        SELECT h_lo, h_hi FROM h WHERE doc_id % {AFP_CLASS} = 0
    ), stream AS (
        SELECT doc_id, h_lo, h_hi FROM h
        WHERE doc_id % {AFP_CLASS} <> 0
    ), flags AS (
        SELECT s.doc_id,
               max(CASE WHEN bit_count(xor(s.h_lo, i.h_lo))
                           + bit_count(xor(s.h_hi, i.h_hi)) <= {AFP_T}
                        THEN 1 ELSE 0 END) AS dup
        FROM stream s, idx i
        GROUP BY s.doc_id
    )
    SELECT count(*) AS n_stream,
           CAST(sum(dup) AS BIGINT) AS rejected_near_dup,
           CAST(count(*) - sum(dup) AS BIGINT) AS admitted
    FROM flags
    """


@register("stream_audio_fp_admission", oracle=_audio_admission_oracle())
def stream_audio_fp_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING AUDIO-FINGERPRINT admission (r9) — completes the
    streaming x multimodal ingest-gate matrix (text:
    ``stream_dedup_admission``, image: ``stream_image_dhash_admission``,
    audio: this). Arriving WAV assets are decoded + fingerprinted per
    micro-batch (the gain-invariant window-energy gradient hash of
    ``audio_fingerprint_near_dup``), gated by the banded equi-join +
    bounded Hamming verify against the STANDING base-recording index
    — pigeonhole-exact at t=3, so a re-volumed copy of an indexed
    recording (the planted v=1 twins, Hamming 0) can NEVER slip
    through, which is the property that matters for a training-data
    ingest gate. Admitted rows land exactly-once via idempotent
    per-batch-id foreachBatch overwrites; zero streaming state; the
    funnel is per-asset deterministic, so the drained census equals
    the batch SQL regardless of micro-batch splits.

    Reference basis: extension tier — streaming x multimodal x dedup
    composed (SURVEY.md §2.9 / extensions)."""
    from mapreduce511_spark.multimodal import (
        AFP_CLASS,
        AFP_T,
        SYNTH_DOC_LIMIT,
        extract_audio_fingerprint,
        synth_audio_fp_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < SYNTH_DOC_LIMIT
    )

    from mapreduce511_spark.multimodal import fingerprint_bands

    def bands(hashes: DataFrame) -> DataFrame:
        return fingerprint_bands(hashes, keep_hash=True)

    def _standing():
        base = tempfile.mkdtemp(prefix="mr511_audadmit_standing_")
        s = f"{base}/src"
        idx_hashes = extract_audio_fingerprint(
            synth_audio_fp_media(
                docs.filter(F.col("doc_id") % AFP_CLASS == 0)
            )
        )
        ib = bands(idx_hashes).select(
            F.col("band").alias("iband"),
            F.col("val").alias("ival"),
            F.col("h_lo").alias("i_lo"),
            F.col("h_hi").alias("i_hi"),
        ).localCheckpoint(eager=True)
        arriving = docs.filter(F.col("doc_id") % AFP_CLASS != 0)
        n = arriving.count()
        arriving.repartition(4).write.mode("overwrite").parquet(s)
        return s, ib, n

    src, idx_bands, n_stream = _session_standing(
        spark, sf_dir, "audadmit", _standing
    )
    ckpt, name = _scratch_ckpt("audadmit")
    staging = f"{Path(ckpt).parent}/admitted"
    try:
        reader = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def admit(batch_df: DataFrame, batch_id: int) -> None:
            hashes = extract_audio_fingerprint(
                synth_audio_fp_media(batch_df)
            )
            cand = bands(hashes).join(
                idx_bands,
                (F.col("band") == F.col("iband"))
                & (F.col("val") == F.col("ival")),
            )
            hamming = (
                F.bit_count(F.col("h_lo").bitwiseXOR(F.col("i_lo")))
                + F.bit_count(F.col("h_hi").bitwiseXOR(F.col("i_hi")))
            )
            rejected = (
                cand.filter(hamming <= AFP_T).select("doc_id").distinct()
            )
            (
                hashes.join(rejected, "doc_id", "left_anti")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{staging}/ingest_batch={batch_id}")
            )

        (
            reader.writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        admitted = spark.read.parquet(staging)
        out = admitted.agg(
            F.countDistinct("doc_id").alias("n_admitted")
        ).select(
            F.lit(n_stream).cast("long").alias("n_stream"),
            (F.lit(n_stream) - F.col("n_admitted"))
            .cast("long")
            .alias("rejected_near_dup"),
            F.col("n_admitted").cast("long").alias("admitted"),
        )
        return _detach(out, name)
    finally:
        _cleanup(ckpt)


def _video_admission_oracle() -> str:
    from mapreduce511_spark.multimodal import (
        DHASH_MIX,
        VID_CLASS,
        VID_DOC_LIMIT,
        VID_FOREIGN,
        VID_FRAMES,
        VID_KEY_STRIDE,
    )

    return f"""
    WITH vid AS (
        SELECT doc_id, doc_id // {VID_CLASS} AS base,
               doc_id % {VID_CLASS} AS v
        FROM documents WHERE doc_id < {VID_DOC_LIMIT}
    ), fk AS (
        SELECT doc_id, base * {VID_KEY_STRIDE} + os.o AS key
        FROM vid, (SELECT unnest(generate_series(0, {VID_FRAMES - 1})) AS o) os
        WHERE v IN (0, 1) OR os.o >= 1
        UNION ALL
        SELECT doc_id, base * {VID_KEY_STRIDE} + {VID_FOREIGN}
        FROM vid WHERE v = 3
    ), keys AS (
        SELECT DISTINCT key FROM fk
    ), grid AS (
        SELECT key, cx.g AS cx, cy.g AS cy
        FROM keys,
             (SELECT unnest(generate_series(0, 8)) AS g) cx,
             (SELECT unnest(generate_series(0, 7)) AS g) cy
    ), cells AS (
        SELECT key, cx, cy,
               ((key + 1) * (cx + 9 * cy + 1) * {DHASH_MIX}
                + key * (cx * cx + 3 * cy * cy)) % 256 AS c
        FROM grid
    ), bits AS (
        SELECT a.key, a.cy, a.cx,
               CASE WHEN b.c > a.c THEN 1 ELSE 0 END AS bit
        FROM cells a JOIN cells b
          ON a.key = b.key AND a.cy = b.cy AND b.cx = a.cx + 1
        WHERE a.cx < 8
    ), fh AS (
        SELECT key,
               CAST(sum(CASE WHEN cy < 4
                    THEN bit * (CAST(1 AS BIGINT) << (cy * 8 + cx))
                    ELSE 0 END) AS BIGINT) AS h_lo,
               CAST(sum(CASE WHEN cy >= 4
                    THEN bit * (CAST(1 AS BIGINT) << ((cy - 4) * 8 + cx))
                    ELSE 0 END) AS BIGINT) AS h_hi
        FROM bits GROUP BY key
    ), sig AS (
        SELECT DISTINCT fk.doc_id, fh.h_lo, fh.h_hi
        FROM fk JOIN fh ON fk.key = fh.key
    ), idx AS (
        SELECT DISTINCT h_lo, h_hi FROM sig WHERE doc_id % {VID_CLASS} = 0
    ), idx_n AS (
        SELECT count(*) AS n FROM idx
    ), stream AS (
        SELECT doc_id, h_lo, h_hi FROM sig WHERE doc_id % {VID_CLASS} <> 0
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM stream GROUP BY doc_id
    ), hits AS (
        SELECT s.doc_id, count(*) AS n_common
        FROM stream s JOIN idx i
          ON s.h_lo = i.h_lo AND s.h_hi = i.h_hi
        GROUP BY s.doc_id
    ), flags AS (
        -- Jaccard vs the POOLED index frame set (the standing corpus
        -- of known footage): reject when common/|video| >= 0.5 —
        -- half the arriving cut is already-indexed footage
        SELECT z.doc_id,
               CASE WHEN 2 * coalesce(h.n_common, 0) >= z.n
                    THEN 1 ELSE 0 END AS dup
        FROM sizes z LEFT JOIN hits h ON h.doc_id = z.doc_id
    )
    SELECT count(*) AS n_stream,
           CAST(sum(dup) AS BIGINT) AS rejected_known_footage,
           CAST(count(*) - sum(dup) AS BIGINT) AS admitted
    FROM flags
    """


@register("stream_video_admission", oracle=_video_admission_oracle())
def stream_video_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING VIDEO admission (r9) — the fourth and final modality
    of the ingest-gate matrix (text / image / audio / video).
    Arriving videos are frame-decoded + dHashed per micro-batch (the
    ``video_dhash_near_dup`` extractors); a video is REJECTED when at
    least half its frames (by distinct frame hash) already exist in
    the STANDING footage index — the containment rule that catches
    re-encodes, trims and light splices of indexed footage without
    ever comparing videos pairwise. The per-batch gate is one
    equi-join against the (bucketed at scale) frame-hash index plus a
    per-video grouped count; admitted rows land exactly-once via
    idempotent per-batch-id foreachBatch overwrites; zero streaming
    state; verdicts are per-video deterministic, so the drained
    census equals the batch SQL for any micro-batch split.

    Reference basis: extension tier — streaming x multimodal x dedup
    composed (SURVEY.md §2.9 / extensions)."""
    from mapreduce511_spark.multimodal import (
        VID_CLASS,
        VID_DOC_LIMIT,
        extract_video_frame_hashes,
        synth_video_media,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < VID_DOC_LIMIT
    )

    def sig(d: DataFrame) -> DataFrame:
        # frame identity = the full (h_lo, h_hi) pair (r10, r9
        # ADVICE: the old h_lo*1000003 + h_hi packing collides)
        return (
            extract_video_frame_hashes(synth_video_media(d))
            .select("doc_id", "h_lo", "h_hi")
            .distinct()
        )

    def _standing():
        base = tempfile.mkdtemp(prefix="mr511_vidadmit_standing_")
        s = f"{base}/src"
        i = (
            sig(docs.filter(F.col("doc_id") % VID_CLASS == 0))
            .select("h_lo", "h_hi")
            .distinct()
            .localCheckpoint(eager=True)
        )
        arriving = docs.filter(F.col("doc_id") % VID_CLASS != 0)
        n = arriving.count()
        arriving.repartition(4).write.mode("overwrite").parquet(s)
        return s, i, n

    src, idx, n_stream = _session_standing(
        spark, sf_dir, "vidadmit", _standing
    )
    ckpt, name = _scratch_ckpt("vidadmit")
    staging = f"{Path(ckpt).parent}/admitted"
    try:
        reader = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

        def admit(batch_df: DataFrame, batch_id: int) -> None:
            s = sig(batch_df).localCheckpoint(eager=True)
            sizes = s.groupBy("doc_id").agg(F.count("*").alias("n"))
            hits = (
                s.join(idx, ["h_lo", "h_hi"])
                .groupBy("doc_id")
                .agg(F.count("*").alias("n_common"))
            )
            rejected = (
                sizes.join(hits, "doc_id", "left")
                .filter(
                    F.lit(2) * F.coalesce(F.col("n_common"), F.lit(0))
                    >= F.col("n")
                )
                .select("doc_id")
            )
            (
                s.join(rejected, "doc_id", "left_anti")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{staging}/ingest_batch={batch_id}")
            )

        (
            reader.writeStream.foreachBatch(admit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        admitted = spark.read.parquet(staging)
        out = admitted.agg(
            F.countDistinct("doc_id").alias("n_admitted")
        ).select(
            F.lit(n_stream).cast("long").alias("n_stream"),
            (F.lit(n_stream) - F.col("n_admitted"))
            .cast("long")
            .alias("rejected_known_footage"),
            F.col("n_admitted").cast("long").alias("admitted"),
        )
        return _detach(out, name)
    finally:
        _cleanup(ckpt)
