"""Experiment-tree scan (SURVEY.md §2.1 S4, §2.2 P5, F12).

The reference walks ``MapReduceLog/<dataset>_slowstart_<ss>/<run_ts>/``
and extracts partition keys from folder names
(``common_utils.py:159-242``). Two real layouts exist (SURVEY.md §0):
nested (100mb/500mb: three timestamped run dirs) and flat (1G/5G: logs
directly in the config dir) — the reference's own scanner silently
skips the flat ones, but its report CSVs include them, so we ingest
both.

Spark-native: enumerate files with a driver-side glob (tiny listing;
at 100 TB the same two globs go straight to the DataFrame reader and
keys come from ``input_file_name()``), read all logs in one ordered
scan, and extract keys per file with the reference's own folder-name
regex. Non-matching folders are dropped (P5).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce511_spark.sources.text_logs import read_text_ordered

# Reference key regex (common_utils.py:180), case-insensitive.
KEY_PATTERN = r"(?i)_?(\d+(?:mb|MB|gb|GB|M|G)?)_slowstart_([\d\.]+)"

_CONFIG_DIR = r"/([^/]*_slowstart_[^/]*)/"
_RUN_DIR = r"_slowstart_[^/]*/([^/]+)/[^/]+$"


def experiment_files(base_dir: str, filename: str) -> list[str]:
    """Enumerate ``<base>/<cfg>/<run>/<filename>`` (nested) or
    ``<base>/<cfg>/<filename>`` (flat), sorted for deterministic run
    ordering (O2: ``run_folders.sort()``).

    Per config dir, nested run folders win; the flat file is used only
    when no run subdirectory exists — some reference configs carry a
    stray top-level log next to their run dirs, and the golden CSVs
    prove the reference's generator ignored it.

    A ``file:`` scheme is stripped before globbing, so a ``file:`` or
    ``file://`` root lists the same plain paths as the bare path.
    """
    if base_dir.startswith("file:"):
        base_dir = os.path.normpath(base_dir[len("file:"):])
    out: list[str] = []
    for cfg in sorted(_glob.glob(os.path.join(base_dir, "*"))):
        if not os.path.isdir(cfg):
            continue
        nested = sorted(_glob.glob(os.path.join(cfg, "*", filename)))
        if nested:
            out.extend(nested)
        else:
            out.extend(sorted(_glob.glob(os.path.join(cfg, filename))))
    return out


def experiment_lines(
    spark: SparkSession, base_dir: str, filename: str
) -> DataFrame:
    """Ordered lines of every ``filename`` in the tree, tagged with
    ``dataset`` (uppercased, e.g. 100MB/1G), ``slowstart`` (double)
    and ``run_id`` ('' for the flat layout's single run)."""
    paths = experiment_files(base_dir, filename)
    if not paths:
        raise FileNotFoundError(f"no {filename} under {base_dir}")
    lines = read_text_ordered(spark, paths)
    config_dir = F.regexp_extract("file", _CONFIG_DIR, 1)
    return (
        lines.withColumn(
            "dataset", F.upper(F.regexp_extract(config_dir, KEY_PATTERN, 1))
        )
        .withColumn(
            "slowstart",
            F.regexp_extract(config_dir, KEY_PATTERN, 2).cast("double"),
        )
        .withColumn("run_id", F.regexp_extract("file", _RUN_DIR, 1))
        .filter(F.col("dataset") != "")  # P5: skip non-standard folders
    )


def write_partitioned_lines(lines: DataFrame, out_dir: str) -> None:
    """100 TB posture for the experiment tree (SURVEY.md §7.4):
    persist parsed log lines Hive-partitioned by (dataset, slowstart)
    so per-config queries prune directories instead of scanning the
    world. run_id stays a regular column (high cardinality; partition
    dirs should stay coarse)."""
    (
        lines.write.mode("overwrite")
        .partitionBy("dataset", "slowstart")
        .parquet(out_dir)
    )


def read_partitioned_lines(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back the partitioned tree; dataset/slowstart come from
    directory names (partition discovery), enabling partition pruning
    on config filters."""
    return spark.read.parquet(out_dir)
