"""WordCount — the reference's flagship batch dataflow, Spark-first.

Reference pipeline (``/root/reference/wheel/run_mr_real.sh:53-57``):
map(tokenize → (word,1)) → combine(partial sum) → shuffle by
hash(word) → sort-merge → reduce(final sum) → sorted TSV.

Spark expression: ``explode(tokenize = array_remove(split)) → groupBy(word).count()``.
Catalyst plans HashAggregate(partial) → Exchange → HashAggregate(final)
— the combiner and shuffle come for free (SURVEY.md §4.2), and AQE
coalesces the post-shuffle partitions. At 100 TB the explode inflates
rows ~50×; partial aggregation before the exchange keeps the shuffle
at distinct-words-per-partition, not tokens. We never globally sort the
full result (the reference's single sorted reducer is its bottleneck);
sorting is opt-in for small outputs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce511_spark.functions.text import tokenize


def word_count(docs: DataFrame, text_col: str = "text", sort: bool = False) -> DataFrame:
    """``[word: string, cnt: bigint]`` over a text column.

    Invariant (FIXTURES.md F1): ``sum(cnt) == total token count``.
    """
    counts = (
        docs.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return counts.orderBy("word") if sort else counts


def word_count_from_text(lines: DataFrame, sort: bool = False) -> DataFrame:
    """WordCount over ``spark.read.text`` output (``value`` column) —
    the direct analog of the HDFS text-corpus scan (S1)."""
    return word_count(lines, text_col="value", sort=sort)
