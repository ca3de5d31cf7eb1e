"""Ordered text-log reading (SURVEY.md §4.3).

The reference's monitor parser is line-order-dependent (a running
count of ``----`` separator lines assigns each sample its cycle index:
``/root/reference/analyze/common_utils.py:19-44``). ``spark.read.text``
does not expose a line number and parallel reads do not promise order,
so we attach a per-file line number explicitly:

- ``monotonically_increasing_id()`` is ``(partition_index << 33) +
  row_in_partition`` — strictly ascending within a partition, and the
  text source emits a file split's lines in file order, so ordering by
  it inside a per-file window reconstructs line numbers exactly
  **while each file is a single split**.
- That holds iff every file fits ``spark.sql.files.maxPartitionBytes``
  (files smaller than the threshold are never split; several small
  files packed into one partition keep their internal order). This is
  a SESSION conf — it cannot be set per-read — so instead of
  pretending to override it we CHECK it: when concrete paths are
  given, any file larger than the threshold raises with remediation
  instead of silently mis-numbering lines.

This is the only place the engine needs order-sensitive input; all
downstream operators consume the explicit ``line_no`` column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce511_spark.memo import local_path

_DEFAULT_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes", str(_DEFAULT_MAX_PARTITION_BYTES)
    )
    digits = "".join(ch for ch in str(raw) if ch.isdigit())
    scale = {"k": 1024, "m": 1024**2, "g": 1024**3}.get(
        str(raw).rstrip("bB")[-1:].lower(), 1
    )
    return int(digits) * scale if digits else _DEFAULT_MAX_PARTITION_BYTES


def _concrete_local_files(path: str | list[str], recursive: bool) -> list[str]:
    """Expand the reader input to concrete local files so the
    one-split-per-file size guard covers every shape of input —
    explicit lists, a single file path, and directory scans (with or
    without recursiveFileLookup). A ``file:`` scheme is stripped, as
    ``memo.stat_signature`` does. Non-local URIs (hdfs://, s3a://…)
    are returned as-is and skipped by the caller's getsize probe."""
    paths = path if isinstance(path, list) else [path]
    out: list[str] = []
    for p in paths:
        local = local_path(p)
        if "://" in local:
            out.append(p)  # remote scheme — caller's contract
        elif os.path.isdir(local):
            if recursive:
                for root, _dirs, files in os.walk(local):
                    out.extend(os.path.join(root, f) for f in files)
            else:
                out.extend(
                    fp
                    for f in os.listdir(local)
                    if os.path.isfile(fp := os.path.join(local, f))
                )
        else:
            out.append(local)
    return out


def read_text_ordered(
    spark: SparkSession,
    path: str | list[str],
    recursive: bool = False,
) -> DataFrame:
    """Read text file(s) → ``[file: string, line_no: long, value: string]``.

    ``line_no`` is 0-based within each file, reconstructing the
    sequential read the reference performs single-threaded. Scales to
    many files (parallel across files), not to one giant file — the
    experiment tree is many small logs (SURVEY.md §4.3 option 1).

    Raises for any concrete input file bigger than
    ``spark.sql.files.maxPartitionBytes`` (it would be split and its
    line numbering silently corrupted; raise the conf or pre-chunk the
    file at line boundaries instead).
    """
    limit = _max_partition_bytes(spark)
    for p in _concrete_local_files(path, recursive):
        try:
            size = os.path.getsize(p)
        except OSError:
            continue  # non-local path (hdfs/s3) — caller's contract
        if size > limit:
            raise ValueError(
                f"{p} is {size} bytes > spark.sql.files.maxPartitionBytes"
                f"={limit}: the file would be split and ordered line "
                "numbering breaks. Raise the conf for this session or "
                "pre-chunk the log at line boundaries."
            )
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.text(path)
    w = Window.partitionBy("file").orderBy("seq")
    return (
        df.select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("seq"),
            F.col("value"),
        )
        .withColumn("line_no", F.row_number().over(w) - F.lit(1))
        .drop("seq")
        .select("file", "line_no", "value")
    )
