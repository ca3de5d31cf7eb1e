"""Experiment-sweep harness — the Spark-native analog of the
reference's E1 entry point (``/root/reference/wheel/run_batch.sh``:
nested loop over slowstart values x RUNS_PER_SS runs, logging per-run
metrics; SURVEY.md §3 E1).

Slowstart itself has no Spark knob (stages are synchronous), so the
swept parameter becomes a real Spark execution knob — by default
``spark.sql.shuffle.partitions`` (the closest analog: it shapes the
same map->shuffle->reduce pipeline the reference tunes). Metrics per
run mirror the reference's: wall seconds (their ``总耗时``), output
rows, and the runtime-effective partition count. Results land in one
DataFrame keyed by (param value, run) — the same shape
``plans/report`` averages and pivots into Best_* tables, closing the
E1 -> E3 loop end-to-end."""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce511_spark.memo import session_conf

SWEEP_PARAM = "spark.sql.shuffle.partitions"


def run_sweep(
    spark: SparkSession,
    job: Callable[[SparkSession], DataFrame],
    values: list[int],
    runs_per_value: int = 1,
    param: str = SWEEP_PARAM,
) -> DataFrame:
    """Run ``job`` once per (value, run), timing each execution.

    The knob is set per-run via runtime conf (restored afterwards);
    ``job`` must build its plan INSIDE the call so the conf snapshot
    applies. Returns ``[param_value, run_id, wall_s, out_rows]``.
    """
    rows = []
    with session_conf(spark, param, None):
        for value in values:
            spark.conf.set(param, str(value))
            for run in range(runs_per_value):
                start = time.perf_counter()
                out_rows = job(spark).count()
                wall = round(time.perf_counter() - start, 3)
                rows.append((float(value), f"run{run}", wall, out_rows))
    return spark.createDataFrame(
        rows, ["param_value", "run_id", "wall_s", "out_rows"]
    )


def sweep_report(results: DataFrame) -> DataFrame:
    """Per-value mean wall time + best value (argmin, ties joined) —
    the ``result_time.csv`` shape for the swept knob."""
    means = results.groupBy("param_value").agg(
        F.round(F.avg("wall_s"), 3).alias("mean_wall_s"),
        F.count("*").alias("n_runs"),
    )
    best = means.agg(F.min("mean_wall_s").alias("m")).select("m")
    return (
        means.join(F.broadcast(best))
        .withColumn("is_best", F.col("mean_wall_s") == F.col("m"))
        .drop("m")
        .orderBy("param_value")
    )
