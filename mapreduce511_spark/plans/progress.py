"""Job-progress parsing and stage-metric detection (SURVEY.md §2:
S3, P4, F2–F5, A7, W3 — reference ``common_utils.py:51-157``).

Stage metrics are computed per run with conditional aggregates (A7:
``min(when(cond, ts))``) — no per-run sort or collect — plus one
window for the reference's second-to-last-record fallback (W3). All
the reference's intentional quirks are kept verbatim (SURVEY.md §7
"heuristic faithfulness"):

- ``t_map_done`` = first record with map==100; a run where map never
  reaches 100 is dropped entirely (None-abort, ``:91-92``);
- shuffle end = first record with map==100 AND red>=90 (``:107``),
  else the second-to-last record (last if only one, ``:112-119``);
- ``reduce_s`` always measures from the heuristic/fallback point even
  when shuffle never started (``:135``);
- zero/negative shuffle duration → overlap ratio 0 (``:148-149``);
- all metrics rounded to 2 decimals (``:151-157``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

PROGRESS_PATTERN = (
    r"(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}),\d+\s+INFO\s+mapreduce\.Job:"
    r"\s+map\s+(\d+)%\s+reduce\s+(\d+)%"
)

_KEY_COLS = ("dataset", "slowstart", "run_id")


def parse_progress_lines(lines: DataFrame) -> DataFrame:
    """``[file, (keys...), line_no, ts, map_pct, red_pct]`` from
    ordered log lines. ``line_no`` is kept as the stable tie-break the
    reference gets from its order-preserving sort (``:77``)."""
    keys = [c for c in _KEY_COLS if c in lines.columns]
    ts_str = F.regexp_extract("value", PROGRESS_PATTERN, 1)
    return (
        lines.filter(ts_str != "")
        .select(
            "file",
            *keys,
            "line_no",
            F.to_timestamp(ts_str, "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.regexp_extract("value", PROGRESS_PATTERN, 2).cast("int").alias("map_pct"),
            F.regexp_extract("value", PROGRESS_PATTERN, 3).cast("int").alias("red_pct"),
        )
    )


def _run_bounds(progress: DataFrame) -> DataFrame:
    """Per-run stage boundaries in epoch seconds, one row per run that
    reaches map 100% (None-abort): ``[file, (keys...), t0, t_end,
    t_map, t_ss, t_se]``. ``t_se`` is the first map==100 & red>=90
    record, else the second-to-last record (last if only one)."""
    keys = [c for c in _KEY_COLS if c in progress.columns]

    w_desc = Window.partitionBy("file").orderBy(
        F.desc("ts"), F.desc("line_no")
    )
    marked = progress.withColumn("rn_desc", F.row_number().over(w_desc))

    sec = lambda c: c.cast("double")  # noqa: E731 — ts → epoch seconds
    agg = marked.groupBy("file", *keys).agg(
        F.min(sec(F.col("ts"))).alias("t0"),
        F.max(sec(F.col("ts"))).alias("t_end"),
        F.min(F.when(F.col("map_pct") == 100, sec(F.col("ts")))).alias("t_map"),
        F.min(F.when(F.col("red_pct") > 0, sec(F.col("ts")))).alias("t_ss"),
        F.min(
            F.when(
                (F.col("map_pct") == 100) & (F.col("red_pct") >= 90),
                sec(F.col("ts")),
            )
        ).alias("t_se_heur"),
        F.max(F.when(F.col("rn_desc") == 2, sec(F.col("ts")))).alias("t_second_last"),
        F.count("*").alias("n_rec"),
    )

    t_se = F.coalesce(
        F.col("t_se_heur"),
        F.when(F.col("n_rec") >= 2, F.col("t_second_last")).otherwise(F.col("t_end")),
    )
    return agg.filter(F.col("t_map").isNotNull()).select(
        "file", *keys, "t0", "t_end", "t_map", "t_ss", t_se.alias("t_se")
    )


def stage_metrics(progress: DataFrame) -> DataFrame:
    """One row per run: ``[file, (keys...), map_s, shuffle_s,
    reduce_s, total_s, overlap_pct]`` (FIXTURES.md F6).

    The result is materialized (``localCheckpoint(eager=True)``): it
    has one row per run, so its size depends on the number of runs,
    not on log volume, and every report built from it (stage summary,
    wide reports, result_raw) reads these rows instead of re-parsing
    the logs. Each call parses the files as they are at that call."""
    keys = [c for c in _KEY_COLS if c in progress.columns]
    t_se = F.col("t_se")
    shuffle_s = F.when(F.col("t_ss").isNull(), F.lit(0.0)).otherwise(
        t_se - F.col("t_ss")
    )
    # overlap window: start = max(t0, t_ss) (= t_ss), end = min(t_map, t_se)
    ov_start = F.greatest(F.col("t0"), F.col("t_ss"))
    ov_end = F.least(F.col("t_map"), t_se)
    overlap = F.when(
        shuffle_s > 0,
        F.when(ov_end > ov_start, (ov_end - ov_start) / shuffle_s * 100.0).otherwise(
            F.lit(0.0)
        ),
    ).otherwise(F.lit(0.0))

    return (
        _run_bounds(progress)
        .select(
            "file",
            *keys,
            F.round(F.col("t_map") - F.col("t0"), 2).alias("map_s"),
            F.round(shuffle_s, 2).alias("shuffle_s"),
            F.round(F.col("t_end") - t_se, 2).alias("reduce_s"),
            F.round(F.col("t_end") - F.col("t0"), 2).alias("total_s"),
            F.round(overlap, 2).alias("overlap_pct"),
        )
        .localCheckpoint(eager=True)
    )


def phase_windows(progress: DataFrame) -> DataFrame:
    """Per-run phase time windows, long form: ``[file, (keys...),
    phase, start_s, end_s]`` with phase ∈ {map, shuffle, reduce}.

    Boundaries reuse the reference's stage-detection heuristics
    (``common_utils.py:82-119``): map = [t0, t_map_done], shuffle =
    [t_shuffle_start, t_shuffle_end] (absent when reduce never
    reported progress), reduce = [t_shuffle_end, t_end]. Feeds the
    monitor/phase range join (SURVEY.md §2.3) — the alignment the
    reference only eyeballs from charts."""
    keys = [c for c in _KEY_COLS if c in progress.columns]
    phases = F.array(
        F.struct(F.lit("map").alias("phase"), F.col("t0").alias("start_s"), F.col("t_map").alias("end_s")),
        F.struct(F.lit("shuffle").alias("phase"), F.col("t_ss").alias("start_s"), F.col("t_se").alias("end_s")),
        F.struct(F.lit("reduce").alias("phase"), F.col("t_se").alias("start_s"), F.col("t_end").alias("end_s")),
    )
    return (
        _run_bounds(progress)
        .select("file", *keys, F.explode(phases).alias("p"))
        .select("file", *keys, "p.phase", "p.start_s", "p.end_s")
        .filter(F.col("start_s").isNotNull() & F.col("end_s").isNotNull())
    )
