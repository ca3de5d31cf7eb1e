"""Structured Streaming surface (SURVEY.md §2.9, milestone M6).

The reference's monitor is a live append-only feed consumed post-hoc
(`/root/reference/wheel/monitor_real.sh:33-63` appends one sample
block per cycle; analysis reruns over the whole file). The streaming
analog: a file source watched for new data, event-time tumbling
windows with a watermark for late samples, and a stateful per-key
operator for running aggregates the reference recomputes from scratch.

Batch/stream parity: every transformation here is expressed so the
same plan runs on a batch DataFrame (tests compare the availableNow
stream result against the batch twin query bit-for-bit).

Scale notes: file-source listing is the bottleneck for huge input
trees — use ``maxFilesPerTrigger`` to bound batch size and a compact
checkpoint location; watermark bounds state for the window aggs;
``applyInPandasWithState`` state is per-key and spills via the state
store, so key cardinality (users), not event volume, sizes memory.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from mapreduce511_spark.memo import session_conf
from mapreduce511_spark.sources.tables import TABLES

EVENTS_SCHEMA = TABLES["events"]


def stream_events(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events rows (µs-timestamp parquet written
    by ``prepare_events_dir`` or any upstream job)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def prepare_events_dir(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize the events table as a streamable parquet dir (the
    testdata file is TIMESTAMP(NANOS), which the streaming source
    can't read directly — normalize to µs once, batch-side)."""
    from mapreduce511_spark.sources.tables import load_table

    load_table(spark, sf_dir, "events").write.mode("overwrite").parquet(out_dir)
    return out_dir


def window_counts(events: DataFrame, window: Column) -> DataFrame:
    """Event count and value total (2 places) per event type in each
    ``window`` of ``ts``: the Spark side of ``TUMBLING_HOUR_ORACLE``
    for a 1-hour tumbling window."""
    return (
        events.groupBy(window.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked 1-hour tumbling counts per event type — the
    streaming twin of the batch ``tumbling_event_counts`` query (same
    output schema and values once the stream drains)."""
    return window_counts(
        events.withWatermark("ts", watermark), F.window("ts", "1 hour")
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked SLIDING windows (1 hour long, 15-minute slide): each
    event updates four overlapping window states — the overlap factor
    is the state-size multiplier a capacity plan must budget (4x the
    tumbling state here). Streaming twin of the batch
    ``sliding_event_counts`` family; same drain-equals-batch contract
    as ``tumbling_counts``."""
    return window_counts(
        events.withWatermark("ts", watermark),
        F.window("ts", "1 hour", "15 minutes"),
    )


_USER_STATS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)
_USER_STATS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("vmax", T.DoubleType()),
    ]
)


def user_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): running
    per-user event count / value sum / value max, updated per
    micro-batch. The reference recomputes such aggregates from the
    full log each run; the stream keeps O(1) state per user."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total, vmax = (
            state.get if state.exists else (0, 0.0, float("-inf"))
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            if len(pdf):
                vmax = max(vmax, float(pdf["value"].max()))
        state.update((n, total, vmax))
        yield pd.DataFrame(
            [(key[0], n, round(total, 2), vmax)],
            columns=["user_id", "n_events", "total_value", "max_value"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_STATS_OUT,
        stateStructType=_USER_STATS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_TWS_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value_cents", T.LongType()),
        T.StructField("max_value_cents", T.LongType()),
    ]
)
_TWS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.LongType()),
        T.StructField("vmax", T.LongType()),
    ]
)


def _tws_processor():
    """Build the StatefulProcessor for ``user_running_stats_tws``
    lazily (the class exists only on PySpark >= 4.0; import inside)."""
    from pyspark.sql.streaming import StatefulProcessor

    class RunningStatsProcessor(StatefulProcessor):
        """Per-user running stats on the transformWithState API: one
        ValueState row per user, integer-cent arithmetic so every
        emission is exact."""

        def init(self, handle) -> None:
            self._stats = handle.getValueState("stats", _TWS_STATE)

        def handleInputRows(self, key, rows, timer_values):
            n, total, vmax = (
                self._stats.get() if self._stats.exists() else (0, 0, None)
            )
            for pdf in rows:
                cents = (pdf["value"] * 100).round().astype("int64")
                n += len(pdf)
                total += int(cents.sum())
                if len(pdf):
                    m = int(cents.max())
                    vmax = m if vmax is None or m > vmax else vmax
            self._stats.update((n, total, vmax))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value_cents": [total],
                    "max_value_cents": [vmax],
                }
            )

        def close(self) -> None:
            pass

    return RunningStatsProcessor()


def user_running_stats_tws(events: DataFrame) -> DataFrame:
    """``user_running_stats`` on the transformWithState API (Spark
    4's successor to ``applyInPandasWithState``): named ValueState
    behind a StatefulProcessor, RocksDB-backed state store (the API
    requires it — callers set the provider conf). Integer-cent sums
    make every per-batch emission exact, so the final emission per
    user equals the batch GROUP BY.

    ENVIRONMENT GATE (honest, like the compressed-media codecs): the
    TWS state-server protocol needs ``google.protobuf``, which this
    container does not ship — the plan builds everywhere, but
    execution requires protobuf, so this is exercised by a test that
    skips cleanly where the dependency is absent and is NOT a
    registered query. The ``applyInPandasWithState`` twin
    (``user_running_stats``) is the oracle-gated production path
    here."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_tws_processor(),
        outputStructType=_TWS_OUT,
        outputMode="Update",
        timeMode="None",
    )


STATE_PARTITIONS = 8  # see run_available_now


def run_available_now(
    stream_df: DataFrame, name: str, checkpoint: str, mode: str | None = None
) -> DataFrame:
    """Drain a stream with the availableNow trigger into a memory sink
    and return the materialized result (test/driver helper — real
    deployments use a durable sink + continuous trigger). ``mode``
    overrides the sink output mode (needed for append-mode stateful
    operators, whose mode can't be sniffed from the plan).

    r8: the query starts with ``spark.sql.shuffle.partitions`` sized
    to the workload (``STATE_PARTITIONS``, restored afterwards) — a
    stateful operator otherwise instantiates one state store per
    session shuffle partition PER MICRO-BATCH (32 on the bench
    session) for toy-scale key sets, and that store bring-up was the
    dominant wall cost of the whole streaming suite. Safe here
    because every caller drains into a FRESH checkpoint (the
    partition count is pinned at first checkpoint; a real deployment
    sizes it once to expected state volume the same way). Results
    are partition-count-invariant by construction — every streaming
    query's census is winner/order-independent.

    SINGLE-THREADED-SESSION ASSUMPTION (r9 ADVICE): the override is
    session-global for the duration of the drain — Structured
    Streaming offers no per-query shuffle-partition knob (the count
    pins from the session conf at first checkpoint), so a query
    launched CONCURRENTLY in the same session during the drain would
    silently plan with the downsized count. The driver, bench, and
    pytest all run queries sequentially per session; a concurrent
    harness must give streaming queries their own session."""
    plan = stream_df._jdf.queryExecution().logical().toString()
    if mode is None:
        # applyInPandasWithState plans only support update mode
        pandas_state = "FlatMapGroupsInPandasWithState" in plan
        mode = "update" if pandas_state else "complete"
    # Pandas-stateful plans (applyInPandasWithState /
    # transformWithStateInPandas) execute per-group PYTHON work whose
    # parallelism IS the partition count — downsizing them trades the
    # store bring-up win for worker starvation (measured: closed
    # sessions 5.1 -> 7.1 s at 8). Only JVM-stateful plans downsize.
    parts = str(STATE_PARTITIONS) if "InPandas" not in plan else None
    with session_conf(
        stream_df.sparkSession, "spark.sql.shuffle.partitions", parts
    ):
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def stream_monitor_lines(spark: SparkSession, watch_dir: str) -> DataFrame:
    """Live-monitor ingestion (the reference's ``monitor_real.sh``
    append loop as a file-source stream, SURVEY §2.9): text lines of
    monitor logs as they appear under ``watch_dir``."""
    return spark.readStream.text(watch_dir)


def monitor_node_stats(lines: DataFrame) -> DataFrame:
    """Streaming per-node cluster stats from raw monitor lines: parse
    with the SAME regex as the batch path (plans/monitor), aggregate
    running count/avg per node.

    Cycle numbering (W1) is order-dependent and meaningless on an
    unordered stream; a live dashboard needs per-node running
    aggregates and the latest sample — both order-free. Complete-mode
    output; state is O(nodes)."""
    from mapreduce511_spark.plans.monitor import SAMPLE_PATTERN

    node = F.regexp_extract("value", SAMPLE_PATTERN, 1)
    cpu = F.regexp_extract("value", SAMPLE_PATTERN, 2)
    mem = F.regexp_extract("value", SAMPLE_PATTERN, 3)
    samples = (
        lines.select(
            node.alias("node"),
            cpu.cast("double").alias("cpu"),
            mem.cast("int").alias("mem"),
        )
        .filter(F.col("node") != "")
    )
    return samples.groupBy("node").agg(
        F.count("*").alias("n_samples"),
        F.round(F.avg("cpu"), 2).alias("avg_cpu"),
        F.round(F.avg("mem"), 2).alias("avg_mem"),
        F.max("cpu").alias("max_cpu"),
        F.max("mem").alias("max_mem"),
    )


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id: at-least-once upstream
    delivery becomes effectively-once downstream. The watermark bounds
    the dedup state — ids older than the watermark are evicted, so
    state is O(events per watermark window), not O(stream history)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


_SESSION_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESSION_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

SESSION_GAP_SECONDS = 1800


def sessionize_stream(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming gap-sessionization with event-time timeouts: a
    session CLOSES (and is emitted exactly once) when the watermark
    passes its last event + gap. Open sessions live in per-user state;
    closed state is freed by the timeout — the streaming twin of the
    batch ``sessionize_events`` lag/running-sum query, with bounded
    memory.

    Within a micro-batch, gaps larger than the threshold close
    sessions immediately; the trailing open session parks in state
    with ``setTimeoutTimestamp(last_ts + gap)``."""
    import datetime as dt

    gap_us = SESSION_GAP_SECONDS * 1_000_000

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    (
                        key[0],
                        dt.datetime.utcfromtimestamp(start_us / 1e6),
                        dt.datetime.utcfromtimestamp(end_us / 1e6),
                        n,
                    )
                ],
                columns=["user_id", "session_start", "session_end", "n_events"],
            )
            return

        ts_list: list[int] = []
        for pdf in pdfs:
            ts_list.extend(int(v.value) // 1000 for v in pdf["ts"])  # ns -> µs
        ts_list.sort()
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us, end_us, n = ts_list[0], ts_list[0], 0

        closed: list[tuple] = []
        for t in ts_list:
            if t - end_us > gap_us:
                closed.append((key[0],
                               dt.datetime.utcfromtimestamp(start_us / 1e6),
                               dt.datetime.utcfromtimestamp(end_us / 1e6), n))
                start_us, n = t, 0
            end_us = t
            n += 1
        state.update((start_us, end_us, n))
        state.setTimeoutTimestamp((end_us + gap_us) // 1000)  # ms
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_start", "session_end", "n_events"],
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _click_purchase(
    clicks: DataFrame, purchases: DataFrame, within: str, how: str
) -> DataFrame:
    """The click-purchase interval join of type ``how``: each purchase
    meets the same user's clicks in the ``within`` before it. Both
    sides carry a ``within`` watermark; ``user_id`` is the click's,
    or the purchase's on a purchase a full join keeps unmatched."""
    c = clicks.withWatermark("ts", within).select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = purchases.withWatermark("ts", within).select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    user = F.col("c_user")
    if how == "fullOuter":
        user = F.coalesce(user, F.col("p_user"))
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {within}")
        ),
        how,
    ).select(
        user.alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def click_purchase_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's click events in the preceding ``within`` interval —
    attribution, the canonical stream-stream use case.

    Both sides carry watermarks and the join condition bounds
    purchase_ts in [click_ts, click_ts + within], so Spark can expire
    buffered rows: state per side is O(events inside the watermark +
    interval horizon), not unbounded. The same expression tree runs
    batch-side for the parity test."""
    return _click_purchase(clicks, purchases, within, "inner")


def click_purchase_left_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "2 hours"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click row
    survives — matched clicks pair with their purchases eagerly, and
    an UNMATCHED click is emitted null-extended only once the global
    watermark proves no future purchase can still join it (its join
    window ``[click_ts, click_ts + within]`` has closed). This is the
    conversion-funnel shape the inner join can't express: the
    unconverted clicks ARE the signal.

    Emission rule (what the batch oracle must state): matched pairs
    are exactly the inner-join set; null-extended rows appear for
    clicks whose window upper bound fell below the final watermark =
    min(max click ts, max purchase ts) - within (Spark's multi-input
    watermark is the min across inputs; each side's delay is
    ``within``). Clicks whose window was still open when the source
    drained stay in (discarded) state and never surface — determinism
    the oracle encodes with the same cutoff.

    At 100 TB the state bound is identical to the inner join's:
    watermark + interval horizon per side, user-keyed shuffle."""
    return _click_purchase(clicks, purchases, within, "leftOuter")


def click_purchase_full_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "2 hours"
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the completion of the
    inner/left matrix: unmatched CLICKS null-extend once their join
    window ``[click_ts, click_ts + within]`` closes below the final
    watermark (same rule as the left join), and unmatched PURCHASES
    null-extend once the watermark passes the purchase timestamp
    itself (a purchase at T is matchable by clicks in [T - within, T];
    arriving clicks have ts >= watermark, so T < watermark proves no
    future match). Both cutoffs verified empirically at sf0.001 and
    sf0.01 and restated exactly in the oracle.

    At 100 TB the state bound is unchanged from the inner join —
    watermark + interval horizon per side, user-keyed shuffle; outer
    rows add no state, only eviction-time emits on both sides."""
    return _click_purchase(clicks, purchases, within, "fullOuter")


def exactly_once_parquet_sink(
    stream_df: DataFrame, out_dir: str, checkpoint: str
):
    """foreachBatch parquet sink with idempotent per-batch commits —
    exactly-once FILE output on top of Structured Streaming's
    at-least-once batch redelivery.

    Each micro-batch writes to ``out_dir/batch=<id>`` and drops a
    ``_COMMIT`` marker after a successful write; a redelivered batchId
    (failure between write and checkpoint advance) sees the marker and
    skips, so no batch's rows can land twice. Readers take only
    committed batch dirs (``read_committed``); the overwrite keeps a
    torn half-written batch dir from double-counting.

    SCOPE: the marker is written with driver-local ``os.path``/``open``
    and is not atomic with the parquet job, so the idempotence
    guarantee holds for a POSIX local/NFS filesystem where the marker
    create is atomic-enough after the write returns. On an object
    store (S3/GCS) this exact code does not apply — use the Hadoop
    FileSystem API with ``create(..., overwrite=false)`` for the
    marker, or a transactional table format (Delta/Iceberg), which is
    the production answer to exactly-once parquet."""
    import os

    def write_batch(df: DataFrame, batch_id: int) -> None:
        target = os.path.join(out_dir, f"batch={batch_id}")
        marker = os.path.join(target, "_COMMIT")
        if os.path.exists(marker):
            return  # redelivered batch — already durable
        df.write.mode("overwrite").parquet(target)
        with open(marker, "w") as fh:
            fh.write("")

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read only the committed batch directories of an
    ``exactly_once_parquet_sink`` output."""
    import glob
    import os

    dirs = [
        os.path.dirname(m)
        for m in glob.glob(os.path.join(out_dir, "batch=*", "_COMMIT"))
    ]
    if not dirs:
        raise FileNotFoundError(f"no committed batches under {out_dir}")
    from mapreduce511_spark.sources.tables import assert_no_nanos_columns

    for d in dirs:
        assert_no_nanos_columns(d)
    return spark.read.parquet(*dirs)


def enrich_with_users(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream hash-joins against a static dimension snapshot (re-read per
    batch by Spark, so a refreshed snapshot table is picked up without
    restarting the query). The static side carries no watermark and no
    state — unlike a stream-stream join there is nothing to buffer, so
    this is THE scale-safe way to attach dimensions to a stream; with
    a small dim the per-batch join is a broadcast.

    Here the "dimension" is a per-user segment derived from customer:
    user_id -> segment/nation — any static DataFrame keyed by user_id
    works."""
    return events.join(user_dim, "user_id", "left")
