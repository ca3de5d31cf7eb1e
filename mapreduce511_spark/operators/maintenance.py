"""Table maintenance: small-file compaction.

At 100 TB the silent killer is not one big file but millions of tiny
ones — every streaming micro-batch, skew-split task, or over-
partitioned write multiplies scan/listing overhead (one task + one
footer-read per file). Compaction rewrites a parquet dataset into
files near a target size; downstream scans then get
``maxPartitionBytes``-sized splits instead of per-file scheduling.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from mapreduce511_spark.memo import session_conf

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def dataset_bytes(path: str) -> int:
    """Total bytes of parquet data files under ``path`` (local FS; on
    a real cluster this comes from the FileSystem listing the planner
    already performs)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


def compact_parquet(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    partition_by: list[str] | None = None,
) -> int:
    """Rewrite ``in_path`` into ``out_path`` with ~target-sized files.

    File count = ceil(input_bytes / target): one wide repartition (a
    round-robin shuffle — no key skew by construction), then a single
    write. For hive-partitioned datasets pass ``partition_by`` so the
    layout (and downstream partition pruning) is preserved; the
    repartition then hashes on those columns so each output partition
    directory is written by as few tasks as possible.

    Returns the number of output files requested."""
    from mapreduce511_spark.sources.tables import read_parquet_checked

    df = read_parquet_checked(spark, in_path)
    n_files = max(1, math.ceil(dataset_bytes(in_path) / target_file_bytes))
    if partition_by:
        from pyspark.sql import functions as F

        cols = [F.col(c) for c in partition_by]
        compacted = df.repartition(n_files, *cols)
        writer = compacted.write.partitionBy(*partition_by)
    else:
        compacted = df.repartition(n_files)
        writer = compacted.write
    writer.mode("overwrite").parquet(out_path)
    return n_files


def merge_upsert(base, updates, key: str):
    """MERGE (upsert) as a DataFrame op: rows in ``updates`` replace
    same-key rows in ``base``; new keys append. Columns must match.

    Plan shape: one left-anti join (base rows not being updated)
    unioned with updates — both sides shuffle once on the key; with
    bucketed tables the anti-join is co-located and shuffle-free. This
    is the engine-level primitive a Delta/Iceberg MERGE compiles to
    when every update row wins wholesale (no per-column conditions)."""
    from pyspark.sql import functions as F

    upd_keys = updates.select(F.col(key).alias("__merge_key"))
    keep = base.join(
        upd_keys, on=base[key] == F.col("__merge_key"), how="left_anti"
    )
    return keep.unionByName(updates)


def backfill_partitions(df, out_path: str, partition_col: str) -> None:
    """Idempotent partition backfill: overwrite ONLY the hive
    partitions present in ``df``, leaving sibling partitions untouched
    (``partitionOverwriteMode=dynamic``, scoped to this write and
    restored after).

    This is the reprocessing primitive of an incremental pipeline: a
    late-data or bug-fix rerun for one day/hour replaces exactly that
    partition, and reruns are idempotent (same input -> same files, no
    duplicate appends). Static overwrite mode — the Spark default —
    would silently DELETE every other partition of the table, which is
    the classic backfill footgun this wrapper exists to avoid."""
    with session_conf(
        df.sparkSession, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        df.write.mode("overwrite").partitionBy(partition_col).parquet(out_path)
