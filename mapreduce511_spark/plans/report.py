"""Multi-run averaging + report tables (SURVEY.md §2: A3–A8, O3;
milestone M4). Reproduces the committed golden outputs
``/root/reference/Analysis_Results/result_*.csv`` whose generator
script is missing from the reference (SURVEY.md §0) — semantics
reverse-engineered and validated against the CSVs:

- per-step series: per-run node-mean per time_step (A3), then
  cross-run mean per step (A4) — mean-of-means, NOT pooled;
- ``Avg_CPU(%)`` per config = mean over steps of that averaged
  series (verified: 57.02/54.25/97.51 match result_cpu.csv);
- stage metrics averaged per config over the per-run rounded values
  (A5, ``common_utils.py:322-344``);
- wide tables: pivot Dataset × slowstart + ``Best_SlowStart`` =
  argmin (time-like) / argmax (cpu, overlap) over the ROUNDED cell
  values, ties comma-joined ascending (``result_map.csv:4`` →
  ``"0.5,0.8"``), ``N/A`` for slowstart-invariant metrics (A8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SLOWSTART_LEVELS = (0.2, 0.5, 0.8, 1.0)


def averaged_series(samples: DataFrame, metric: str = "cpu") -> DataFrame:
    """A3+A4: ``[dataset, slowstart, time_step, avg_<metric>]``.

    ``samples`` is ``parse_monitor_lines`` output (one ``file`` per
    run). Mean-of-means order is load-bearing for golden parity
    (SURVEY.md §4.4): runs with different sample counts per step must
    weigh equally.

    The result is materialized (``localCheckpoint(eager=True)``): it
    has one row per (dataset, slowstart, time_step), so its size
    depends on the configs and sample steps, not on log volume, and
    the CPU mean, wide report and charts built from it read these rows
    instead of re-parsing the logs. Each call parses the files as they
    are at that call.
    """
    per_run = samples.groupBy("dataset", "slowstart", "file", "time_step").agg(
        F.avg(metric).alias("run_avg")
    )
    return (
        per_run.groupBy("dataset", "slowstart", "time_step")
        .agg(F.avg("run_avg").alias(f"avg_{metric}"))
        .localCheckpoint(eager=True)
    )


def config_metric_mean(series: DataFrame, metric: str = "cpu") -> DataFrame:
    """A6 (as the golden CSVs compute it): mean over time steps of the
    averaged series → ``[dataset, slowstart, avg_<metric>]``."""
    return series.groupBy("dataset", "slowstart").agg(
        F.round(F.avg(f"avg_{metric}"), 2).alias(f"avg_{metric}")
    )


def stage_summary(stages: DataFrame) -> DataFrame:
    """A5: per-config mean of the per-run (already 2dp-rounded) stage
    metrics → ``[dataset, slowstart, map_s, shuffle_s, reduce_s,
    total_s, overlap_pct]``."""
    return stages.groupBy("dataset", "slowstart").agg(
        *[
            F.round(F.avg(c), 2).alias(c)
            for c in ("map_s", "shuffle_s", "reduce_s", "total_s", "overlap_pct")
        ]
    )


def result_raw(stage_sum: DataFrame, cpu_mean: DataFrame) -> DataFrame:
    """The long report (``result_raw.csv`` analog, engine-native
    column names): stage summary ⋈ per-config CPU mean."""
    return (
        stage_sum.join(cpu_mean, ["dataset", "slowstart"], "left")
        .select(
            "dataset",
            "slowstart",
            "total_s",
            "avg_cpu",
            "map_s",
            "shuffle_s",
            "reduce_s",
            "overlap_pct",
        )
    )


def dataset_sort_key(col: Column) -> Column:
    """O3 natural dataset order (``common_utils.py:347-353``):
    leading number, ×1000 when the name contains G."""
    num = F.regexp_extract(col, r"(\d+)", 1).cast("long")
    return F.when(F.upper(col).contains("G"), num * 1000).otherwise(num)


def wide_report(
    long_df: DataFrame,
    value_col: str,
    direction: str | None,
    levels: tuple[float, ...] = SLOWSTART_LEVELS,
) -> DataFrame:
    """F7 wide pivot: ``[dataset, <ss...>, best_slowstart]``.

    ``direction``: 'min' (time-like), 'max' (cpu/overlap), or None →
    'N/A' (slowstart-invariant metrics). Best is computed on the
    rounded cell values; ties are comma-joined ascending.
    """
    cells = long_df.select(
        "dataset", "slowstart", F.round(F.col(value_col), 2).alias("v")
    )
    wide = cells.groupBy("dataset").pivot("slowstart", list(levels)).agg(F.first("v"))

    if direction is None:
        return wide.withColumn("best_slowstart", F.lit("N/A"))

    agg = F.min("v") if direction == "min" else F.max("v")
    best = cells.groupBy("dataset").agg(agg.alias("best_v"))
    ties = (
        cells.join(best, "dataset")
        .filter(F.col("v") == F.col("best_v"))
        .groupBy("dataset")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("slowstart")),
                    lambda s: s.cast("string"),
                ),
                ",",
            ).alias("best_slowstart")
        )
    )
    return wide.join(ties, "dataset")


def write_report_csv(report: DataFrame, path: str) -> None:
    """S7 CSV report sink: report tables are <= datasets x slowstarts
    rows, so a single output file (coalesce(1)) is correct at any
    scale (SURVEY §4.4)."""
    (
        report.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
