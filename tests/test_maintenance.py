"""Small-file compaction: fewer files, identical data."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from mapreduce511_spark.operators.maintenance import compact_parquet, dataset_bytes
from mapreduce511_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def _pq_files(path: str) -> list[str]:
    return glob.glob(path + "/**/*.parquet", recursive=True)


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    frag = str(tmp_path / "fragmented")
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.repartition(40).write.parquet(frag)  # simulate micro-batch litter
    assert len(_pq_files(frag)) == 40

    out = str(tmp_path / "compacted")
    n = compact_parquet(spark, frag, out, target_file_bytes=dataset_bytes(frag))
    assert n == 1
    assert len(_pq_files(out)) == 1
    a = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    b = sorted(tuple(r) for r in docs.collect())
    assert a == b


def test_compaction_preserves_hive_partitioning(spark, tmp_path):
    frag = str(tmp_path / "by_lang_frag")
    docs = load_table(spark, SF_SMOKE, "documents")
    docs.repartition(20).write.partitionBy("lang").parquet(frag)
    before = len(_pq_files(frag))

    out = str(tmp_path / "by_lang")
    compact_parquet(
        spark, frag, out,
        target_file_bytes=dataset_bytes(frag),
        partition_by=["lang"],
    )
    langs = {p.split("lang=")[1].split("/")[0] for p in _pq_files(out)}
    assert langs == {
        r.lang for r in docs.select("lang").distinct().collect()
    }
    assert len(_pq_files(out)) < before
    # partition pruning still works on the compacted layout
    pruned = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert pruned.count() == docs.filter(F.col("lang") == "en").count()


def test_backfill_overwrites_only_target_partition(spark, tmp_path):
    """Dynamic-partition backfill replaces the reprocessed day and
    leaves every other day byte-identical; a static overwrite of the
    same frame would have dropped them."""
    from pyspark.sql import functions as F

    from mapreduce511_spark.operators.maintenance import backfill_partitions
    from mapreduce511_spark.sources.tables import load_table

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    mode_before = spark.conf.get(mode_key, None)
    out = str(tmp_path / "events_by_day")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    backfill_partitions(ev, out, "day")
    days = spark.read.parquet(out).select("day").distinct().count()
    before = {
        r["day"]: r["n"]
        for r in spark.read.parquet(out).groupBy("day").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert days > 1

    # reprocess one day: double that day's value column rows (same count)
    target = sorted(before)[0]
    one_day = ev.filter(F.col("day") == F.lit(target)).withColumn(
        "value", F.col("value") * 2
    )
    backfill_partitions(one_day, out, "day")

    after_df = spark.read.parquet(out)
    after = {
        r["day"]: r["n"]
        for r in after_df.groupBy("day").agg(F.count("*").alias("n")).collect()
    }
    assert after == before  # no partition lost, no duplicate appends
    # conf restored: the earlier value, or unset when it had none
    assert spark.conf.get(mode_key, None) == mode_before
