"""Catalog statistics / cost-based-optimizer surface.

At 100 TB the planner's join-order and broadcast decisions live or die
on table/column statistics, so `ANALYZE TABLE` hygiene is an operator
in its own right: this module materializes catalog tables once per
corpus snapshot, collects table + column stats, and exposes a census
that cross-checks the CATALOG's numbers (what the CBO will plan with)
against the exact answers — the audit a platform team runs before
trusting `spark.sql.cbo.enabled` in production. The planner-side
consumption (EXPLAIN COST carrying rowCount, statistics-driven join
ordering) is asserted in tests/test_cbo.py.

No reference analog (the reference plans nothing; its joins are
hand-ordered pandas merges, `analyze/report_analysis.py`); this is
Spark-native operational surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mapreduce511_spark.memo import session_memo, stat_signature
from mapreduce511_spark.queries import register
from mapreduce511_spark.sources.tables import load_table

# (table, stats column) — a tiny dim, a mid dim, and a fact, so the
# statistics actually discriminate and the join-reorder test has a
# real size gradient to exploit.
CBO_TABLES: tuple[tuple[str, str], ...] = (
    ("nation", "n_nationkey"),
    ("customer", "c_custkey"),
    ("orders", "o_orderkey"),
)

# One CTAS + ANALYZE per session and corpus snapshot: a session
# restart in the same process starts a fresh in-memory catalog that no
# longer holds the database.
_DB_MEMO: dict = {}


def ensure_cbo_tables(spark: SparkSession, sf_dir: str) -> str:
    """CTAS the demo tables into a warehouse database and ANALYZE
    table + key-column statistics, once per session and corpus
    snapshot; returns the database name. `FOR COLUMNS` computes
    table-level stats (sizeInBytes + rowCount) as part of the same
    command."""
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t, _ in CBO_TABLES]
    return session_memo(
        _DB_MEMO, spark, paths, lambda: _create_cbo_db(spark, sf_dir, paths)
    )


def _create_cbo_db(spark: SparkSession, sf_dir: str, paths: list) -> str:
    import hashlib

    sig = stat_signature(paths)
    tag = hashlib.sha1(repr((sf_dir, sig)).encode()).hexdigest()[:12]
    db = f"cbo_demo_{tag}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    raw = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = raw[len("file:") :] if raw.startswith("file:") else raw
    for t, col in CBO_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        # A fresh session's in-memory catalog forgets prior managed
        # tables while their warehouse locations persist, and CTAS
        # refuses to reuse an existing location — clear it.
        loc = os.path.join(wh, f"{db}.db", t)
        if os.path.isdir(loc):
            import shutil

            shutil.rmtree(loc)
        load_table(spark, sf_dir, t).write.format("parquet").saveAsTable(
            f"{db}.{t}"
        )
        spark.sql(f"ANALYZE TABLE {db}.{t} COMPUTE STATISTICS FOR COLUMNS {col}")
    return db


def _table_row_count(spark: SparkSession, db: str, t: str) -> int:
    for row in spark.sql(f"DESC EXTENDED {db}.{t}").collect():
        if row.col_name == "Statistics":
            # "NNN bytes, MMM rows"
            parts = row.data_type.split(",")
            for p in parts:
                p = p.strip()
                if p.endswith("rows"):
                    return int(p.split()[0])
    raise AssertionError(f"no table statistics recorded for {db}.{t}")


def column_stats(spark: SparkSession, db: str, t: str, col: str) -> dict:
    out = {}
    for row in spark.sql(f"DESCRIBE EXTENDED {db}.{t} {col}").collect():
        out[row.info_name] = row.info_value
    return out


@register(
    "cbo_stats_census",
    oracle="""
    SELECT 'customer' AS table_name, count(*) AS row_count,
           min(c_custkey) AS key_min, max(c_custkey) AS key_max
    FROM customer
    UNION ALL
    SELECT 'nation', count(*), min(n_nationkey), max(n_nationkey)
    FROM nation
    UNION ALL
    SELECT 'orders', count(*), min(o_orderkey), max(o_orderkey)
    FROM orders
    """,
)
def cbo_stats_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE audit: read back the CATALOG's table/column
    statistics — the exact numbers the cost-based optimizer plans
    with — and emit the fields Spark records exactly (rowCount,
    column min/max), oracled against DuckDB's exact answers over the
    same parquet. distinct_count is HLL-approximate by design and is
    bounds-checked in tests/test_cbo.py instead of hashed here. The
    ANALYZE scans themselves are one pass per table with sketch-sized
    state — the same cost shape at 100 TB, amortized once per
    snapshot by the content-keyed CTAS memo."""
    db = ensure_cbo_tables(spark, sf_dir)
    rows = []
    for t, col in sorted(CBO_TABLES):
        stats = column_stats(spark, db, t, col)
        rows.append(
            (
                t,
                _table_row_count(spark, db, t),
                int(stats["min"]),
                int(stats["max"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "table_name string, row_count bigint, key_min bigint, key_max bigint",
    )
