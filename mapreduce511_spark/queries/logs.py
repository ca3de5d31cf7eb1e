"""Log-analytics queries (the reference's core analysis surface:
SURVEY.md §3 E2/E3).

Inputs are raw text logs — not the parquet views the DuckDB oracle can
see — so these register as rows-only checks; golden parity against the
reference's committed ``Analysis_Results/result_*.csv`` is asserted in
``tests/test_golden_replay.py`` instead.

The queries read the real reference tree at ``/root/reference/
MapReduceLog`` when present (read-only), else a deterministic
synthetic tree (``plans.fixtures``) in a temp dir that the process
removes when it exits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce511_spark.memo import owned_tmpdir
from mapreduce511_spark.plans import (
    averaged_series,
    config_metric_mean,
    parse_counter_lines,
    parse_monitor_lines,
    parse_progress_lines,
    result_raw,
    stage_metrics,
    stage_summary,
    wide_report,
)
from mapreduce511_spark.plans.fixtures import build_fixture_tree
from mapreduce511_spark.plans.runs import experiment_lines
from mapreduce511_spark.queries import register

_REFERENCE_TREE = "/root/reference/MapReduceLog"
_fixture_root: str | None = None


def _tree() -> str:
    global _fixture_root
    if os.path.isdir(_REFERENCE_TREE):
        return _REFERENCE_TREE
    if _fixture_root is None:
        _fixture_root = build_fixture_tree(owned_tmpdir("fixtures"))
    return _fixture_root


def _strip_file(df: DataFrame) -> DataFrame:
    return df.drop("file")


@register("log_monitor_timeseries")
def log_monitor_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parsed per-sample monitor table (M2): order-dependent separator
    numbering reconstructed with per-file windows."""
    lines = experiment_lines(spark, _tree(), "monitor.log")
    return _strip_file(parse_monitor_lines(lines))


@register("log_averaged_cpu_series")
def log_averaged_cpu_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run averaged CPU series per config (A3+A4 mean-of-means)."""
    lines = experiment_lines(spark, _tree(), "monitor.log")
    return averaged_series(parse_monitor_lines(lines), "cpu")


@register("log_stage_metrics")
def log_stage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-run stage metrics (M3) with all reference quirks."""
    lines = experiment_lines(spark, _tree(), "job_output.log")
    return _strip_file(stage_metrics(parse_progress_lines(lines)))


@register("log_job_counters")
def log_job_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long counter table (F4) with forward-filled group headers."""
    lines = experiment_lines(spark, _tree(), "job_output.log")
    return _strip_file(parse_counter_lines(lines))


@register("log_result_raw")
def log_result_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long report table (result_raw.csv analog, M4)."""
    mon = parse_monitor_lines(experiment_lines(spark, _tree(), "monitor.log"))
    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, _tree(), "job_output.log"))
    )
    cpu = config_metric_mean(averaged_series(mon, "cpu"), "cpu")
    return result_raw(stage_summary(stg), cpu)


@register("log_report_time_wide")
def log_report_time_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot of total time with Best_SlowStart (result_time.csv
    analog, M4; ties comma-joined)."""
    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, _tree(), "job_output.log"))
    )
    return wide_report(stage_summary(stg), "total_s", "min")


@register("log_shuffle_invariants")
def log_shuffle_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-derived I/O metrics per config (F9/A9): shuffle MB and
    spilled records — the quantities the reference's README shows are
    slowstart-invariant."""
    counters = parse_counter_lines(
        experiment_lines(spark, _tree(), "job_output.log")
    )
    wanted = {
        "Reduce shuffle bytes": "shuffle_bytes",
        "Spilled Records": "spilled_records",
        "Map output records": "map_output_records",
    }
    longf = counters.filter(F.col("counter").isin(*wanted)).withColumn(
        "metric",
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in wanted.items() for x in kv]
            ),
            F.col("counter"),
        ),
    )
    return (
        longf.groupBy("dataset", "slowstart")
        .pivot("metric", list(wanted.values()))
        .agg(F.avg("value"))
        .withColumn(
            "shuffle_mb", F.round(F.col("shuffle_bytes") / (1024.0 * 1024.0), 2)
        )
    )


@register("log_progress_series")
def log_progress_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw job-progress time series (P4/F2): one row per `map N%
    reduce M%` line with parsed timestamp."""
    lines = experiment_lines(spark, _tree(), "job_output.log")
    return _strip_file(parse_progress_lines(lines)).drop("line_no")


@register("log_averaged_mem_series")
def log_averaged_mem_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run averaged MEM series (the analyze_mem_slowstart.py
    twin — the reference duplicates the whole averager for MEM; here
    it's the same plan parameterized by column)."""
    lines = experiment_lines(spark, _tree(), "monitor.log")
    return averaged_series(parse_monitor_lines(lines), "mem")


@register("log_report_cpu_wide")
def log_report_cpu_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide CPU pivot with Best_SlowStart by MAX (result_cpu.csv
    analog — direction flips vs the time-like metrics)."""
    mon = parse_monitor_lines(experiment_lines(spark, _tree(), "monitor.log"))
    cpu = config_metric_mean(averaged_series(mon, "cpu"), "cpu")
    return wide_report(cpu, "avg_cpu", "max")


@register("log_chart_prep_cpu")
def log_chart_prep_cpu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed chart prep (M5: O4 second-max x-limit + P6
    truncation) over the averaged CPU series; the driver-side spline
    (§2.10) consumes exactly this."""
    from mapreduce511_spark.plans.charts import truncated_series

    lines = experiment_lines(spark, _tree(), "monitor.log")
    return truncated_series(averaged_series(parse_monitor_lines(lines), "cpu"), "cpu")


_MONITOR_CYCLE_S = 3.5  # ≈ real seconds per sample cycle (SURVEY.md §0:
# 1 s sleep x 3 nodes + SSH latency; README's "1-second" claim is off)


@register("log_phase_cpu")
def log_phase_cpu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (SURVEY.md §2.3): align monitor samples to job phase
    windows and average CPU per (dataset, slowstart, phase) — the
    map/shuffle/reduce CPU comparison the reference only eyeballs from
    overlaid charts.

    Sample wall-time is reconstructed as t0 + time_step *
    {_MONITOR_CYCLE_S}s (the monitor log has no timestamps; SURVEY.md
    §0 documents the cycle-index semantics). The join is
    key-equi + interval containment: Spark plans key equality as the
    shuffle key, the BETWEEN as a post-filter — no cross join."""
    from mapreduce511_spark.plans.progress import phase_windows

    mon = parse_monitor_lines(experiment_lines(spark, _tree(), "monitor.log"))
    prog = parse_progress_lines(experiment_lines(spark, _tree(), "job_output.log"))
    phases = phase_windows(prog).drop("file")
    keys = ["dataset", "slowstart", "run_id"]
    samples = mon.select(
        *keys, "time_step", "cpu"
    )
    t0 = phases.filter(F.col("phase") == "map").select(
        *keys, F.col("start_s").alias("t0")
    )
    stamped = samples.join(t0, keys).withColumn(
        "ts_s", F.col("t0") + F.col("time_step") * _MONITOR_CYCLE_S
    )
    joined = stamped.join(phases, keys).filter(
        (F.col("ts_s") >= F.col("start_s")) & (F.col("ts_s") < F.col("end_s"))
    )
    return (
        joined.groupBy("dataset", "slowstart", "phase")
        .agg(
            F.count("*").alias("n_samples"),
            F.round(F.avg("cpu"), 2).alias("avg_cpu"),
        )
    )


@register("log_run_inventory")
def log_run_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan summary (A10, ``common_utils.py:233-240``): runs found per
    (dataset, slowstart) for both log kinds — the reference prints
    'Monitor=N次, Stage=N次' per config."""
    mon = (
        experiment_lines(spark, _tree(), "monitor.log")
        .select("dataset", "slowstart", "file")
        .distinct()
        .groupBy("dataset", "slowstart")
        .agg(F.count("*").alias("monitor_runs"))
    )
    stg = (
        experiment_lines(spark, _tree(), "job_output.log")
        .select("dataset", "slowstart", "file")
        .distinct()
        .groupBy("dataset", "slowstart")
        .agg(F.count("*").alias("stage_runs"))
    )
    return mon.join(stg, ["dataset", "slowstart"], "full").fillna(
        0, ["monitor_runs", "stage_runs"]
    )


@register("log_shuffle_rate")
def log_shuffle_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter-derived throughput (F9, README.md:324-337): shuffle MB
    and MB/s = shuffle volume / shuffle-phase seconds per config —
    joining the counters table with the stage metrics (J1 shape:
    config-key equi-join of two tiny aggregates)."""
    counters = parse_counter_lines(
        experiment_lines(spark, _tree(), "job_output.log")
    )
    shuffle_mb = (
        counters.filter(F.col("counter") == "Reduce shuffle bytes")
        .groupBy("dataset", "slowstart")
        .agg((F.avg("value") / (1024.0 * 1024.0)).alias("mb"))
    )
    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, _tree(), "job_output.log"))
    )
    shuffle_s = stg.groupBy("dataset", "slowstart").agg(
        F.avg("shuffle_s").alias("s")
    )
    return (
        shuffle_mb.join(shuffle_s, ["dataset", "slowstart"])
        .select(
            "dataset",
            "slowstart",
            F.round("mb", 2).alias("shuffle_mb"),
            F.round(
                F.when(F.col("s") > 0, F.col("mb") / F.col("s")).otherwise(0.0), 3
            ).alias("shuffle_mb_per_s"),
        )
    )


@register("sweep_shuffle_partitions")
def sweep_shuffle_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 sweep analog as a driver-visible query: WordCount under two
    shuffle-partition settings, per-value mean wall time + best flag
    (the reference's result_time.csv shape for a Spark knob)."""
    from mapreduce511_spark.operators.wordcount import word_count
    from mapreduce511_spark.sources.tables import load_table
    from mapreduce511_spark.sweep import run_sweep, sweep_report

    def job(s: SparkSession) -> DataFrame:
        return word_count(load_table(s, sf_dir, "documents"))

    return sweep_report(run_sweep(spark, job, values=[8, 32], runs_per_value=1))


@register("log_chart_smoothed_cpu")
def log_chart_smoothed_cpu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed chart smoothing (grouped-map applyInPandas per
    series) over the truncated averaged CPU series — the scale path
    for §2.10's driver-side spline."""
    from mapreduce511_spark.plans.charts import (
        smooth_series_distributed,
        truncated_series,
    )

    lines = experiment_lines(spark, _tree(), "monitor.log")
    series = truncated_series(averaged_series(parse_monitor_lines(lines), "cpu"))
    return smooth_series_distributed(series.drop("x_limit"), "cpu")


def _register_stage_wide(metric: str, direction: str) -> None:
    name = f"log_report_{metric.split('_')[0]}_wide"

    @register(name)
    def _q(spark: SparkSession, sf_dir: str, _m=metric, _d=direction) -> DataFrame:
        stg = stage_metrics(
            parse_progress_lines(experiment_lines(spark, _tree(), "job_output.log"))
        )
        return wide_report(stage_summary(stg), _m, _d)

    _q.__doc__ = (
        f"Wide pivot of {metric} with Best_SlowStart by {direction} "
        f"(result_{metric.split('_')[0]}.csv analog; golden-compared in "
        "tests/test_golden_replay.py)."
    )


for _metric, _direction in [
    ("map_s", "min"),
    ("shuffle_s", "min"),
    ("reduce_s", "min"),
    ("overlap_pct", "max"),
]:
    _register_stage_wide(_metric, _direction)
